package graft.operators

import graft.SparkSpec
import graft.functions.IntLog2
import org.apache.spark.sql.functions._

/** Pins NaiveBayes.classify to an independent brute-force reference
  * that evaluates the multinomial-NB definition directly — per-class
  * score = lg(D_s) − lg(D) + Σ tf·lg(c+1) − n_words·lg(N_s+|V|), BigInt
  * throughout, argmax with the (score desc, label asc) tie ladder —
  * so the operator's word-keyed join factoring carries
  * cross-implementation evidence. Plus: separable classes classify
  * correctly, tie-break determinism, token-less docs score on the
  * prior alone, and the incremental form ≡ from-scratch on every split
  * of a random corpus (the state-merge contract).
  */
class NaiveBayesSpec extends SparkSpec {

  import spark.implicits._

  /** (id, label, text) → id -> (predicted, score, margin). Brute force
    * per the definition over the full (doc × class) grid. */
  private def reference(docs: Seq[(Long, String, String)],
                        score: Seq[(Long, String, String)])
      : Map[Long, (String, Long, Long)] = {
    val lg = (x: Long) => BigInt(IntLog2.ilog2e16(x))
    def toks(t: String) = t.split("\\s+", -1).filter(_.nonEmpty).toSeq
    val byLabel = docs.groupBy(_._2)
    val counts: Map[String, Map[String, Long]] = byLabel.map { case (l, ds) =>
      l -> ds.flatMap(d => toks(d._3)).groupBy(identity)
        .map { case (w, ws) => w -> ws.size.toLong }
    }
    val v = counts.values.flatMap(_.keys).toSet.size.toLong
    val n = counts.map { case (l, m) => l -> m.values.sum }
    val dTot = docs.size.toLong
    score.map { case (id, _, text) =>
      val tf = toks(text).groupBy(identity).map { case (w, ws) => w -> ws.size.toLong }
      val nw = tf.values.sum
      val scored = counts.keys.toSeq.sorted.map { l =>
        val prior = lg(byLabel(l).size.toLong) - lg(dTot)
        val m = tf.map { case (w, f) =>
          BigInt(f) * lg(counts(l).getOrElse(w, 0L) + 1)
        }.sum
        l -> (prior + m - BigInt(nw) * lg(n(l) + v))
      }
      val ranked = scored.sortBy { case (l, s) => (-s, l) }
      val (pl, ps) = ranked.head
      val margin = if (ranked.size > 1) ps - ranked(1)._2 else BigInt(0)
      id -> (pl, ps.toLong, margin.toLong)
    }.toMap
  }

  private def run(docs: Seq[(Long, String, String)]): Map[Long, (String, Long, Long, Boolean)] =
    NaiveBayes.classify(docs.toDF("doc_id", "lang", "text"), "doc_id", "lang", "text")
      .as[(Long, String, String, Long, Long, Boolean)].collect()
      .map { case (id, _, p, s, m, c) => id -> (p, s, m, c) }.toMap

  private val crafted = Seq(
    (1L, "en", "the cat sat on the mat"),
    (2L, "en", "the dog sat near the cat"),
    (3L, "fr", "le chat dort sur le tapis"),
    (4L, "fr", "le chien dort"),
    (5L, "de", "der hund schlaeft auf der matte"),
    (6L, "en", "a cat and a dog"),
    (7L, "de", "der kater sitzt"))

  test("classify ≡ brute-force definition (crafted)") {
    val ref = reference(crafted, crafted)
    val got = run(crafted)
    assert(got.keySet === ref.keySet)
    got.foreach { case (id, (p, s, m, c)) =>
      val (rp, rs, rm) = ref(id)
      assert((p, s, m) === (rp, rs, rm), s"doc $id")
      assert(c === (p == crafted.find(_._1 == id).get._2))
    }
  }

  test("classify ≡ brute-force definition (random corpora)") {
    val rnd = new scala.util.Random(42)
    val vocabs = Map(
      "a" -> Vector("x", "y", "z", "q"),
      "b" -> Vector("y", "z", "r", "s"),
      "c" -> Vector("z", "s", "t", "u", "v"))
    (0 until 5).foreach { trial =>
      val docs = (0 until 40).map { i =>
        val l = Vector("a", "b", "c")(rnd.nextInt(3))
        val words = (0 to rnd.nextInt(12))
          .map(_ => vocabs(l)(rnd.nextInt(vocabs(l).size)))
        (i.toLong, l, words.mkString(" "))
      }
      val ref = reference(docs, docs)
      val got = run(docs)
      docs.foreach { case (id, _, _) =>
        assert(got(id)._1 === ref(id)._1, s"trial $trial doc $id predicted")
        assert(got(id)._2 === ref(id)._2, s"trial $trial doc $id score")
        assert(got(id)._3 === ref(id)._3, s"trial $trial doc $id margin")
      }
    }
  }

  test("separable classes classify correctly with positive margin") {
    val docs = Seq(
      (1L, "code", "def class return import def"),
      (2L, "code", "class import return def"),
      (3L, "prose", "the cat walked over the hill"),
      (4L, "prose", "a hill and a cat and the sun"))
    val got = run(docs)
    docs.foreach { case (id, l, _) =>
      assert(got(id)._1 === l, s"doc $id")
      assert(got(id)._3 > 0L, s"doc $id margin")
      assert(got(id)._4, s"doc $id correct")
    }
  }

  test("exact score tie breaks label-ascending with zero margin") {
    // two classes with mirror-image corpora: any doc made of the shared
    // word scores identically under both → predicted must be the
    // lexicographically smaller label, margin exactly 0
    val docs = Seq(
      (1L, "aa", "s x"),
      (2L, "bb", "s y"),
      (3L, "aa", "s"),
      (4L, "bb", "s"))
    val got = run(docs)
    Seq(3L, 4L).foreach { id =>
      assert(got(id)._1 === "aa", s"doc $id tie must break to 'aa'")
      assert(got(id)._3 === 0L, s"doc $id margin")
    }
  }

  test("token-less docs emit one row and score on the prior alone") {
    val docs = Seq(
      (1L, "big", "w w w"),
      (2L, "big", "w v"),
      (3L, "big", "v w"),
      (4L, "small", "u"),
      (5L, "small", ""),   // empty text
      (6L, "big", "   "))  // whitespace only
    val got = run(docs)
    assert(got.size === 6)
    // prior-only scores: lg(D_s) − lg(D); big (4 docs) beats small (2)
    val lg = (x: Long) => IntLog2.ilog2e16(x)
    assert(got(5L)._2 === lg(4) - lg(6))
    assert(got(5L)._1 === "big")
    assert(got(6L)._2 === lg(4) - lg(6))
    assert(got(5L)._3 === (lg(4) - lg(6)) - (lg(2) - lg(6)))
  }

  test("incremental ≡ from-scratch, filtered to the batch, on every split") {
    val rnd = new scala.util.Random(7)
    val docs = (0 until 30).map { i =>
      val l = Vector("p", "q")(rnd.nextInt(2))
      val words = (0 to rnd.nextInt(8)).map(_ =>
        Vector("m", "n", "o", "p")(rnd.nextInt(4)))
      (i.toLong, l, words.mkString(" "))
    }
    val full = NaiveBayes
      .classify(docs.toDF("doc_id", "lang", "text"), "doc_id", "lang", "text")
    Seq(2, 3, 5).foreach { mod =>
      val df = docs.toDF("doc_id", "lang", "text")
      val isNew = col("doc_id") % mod === 0
      val wh = df.filter(!isNew)
      val inc = NaiveBayes.classifyIncremental(
        NaiveBayes.wordCounts(wh, "lang", "text"),
        NaiveBayes.docCounts(wh, "lang"),
        df.filter(isNew), "doc_id", "lang", "text")
      val expect = full.filter(col("doc_id") % mod === 0)
        .orderBy("doc_id").collect().toSeq
      assert(inc.orderBy("doc_id").collect().toSeq === expect, s"mod $mod")
    }
  }

  /** LOO reference: literally retrain without each doc (fixed full-V
    * smoothing), score, argmax with the ladder, skip single-member own
    * classes. */
  private def referenceLoo(docs: Seq[(Long, String, String)])
      : Map[Long, (String, Long, Long, Boolean)] = {
    val lg = (x: Long) => BigInt(IntLog2.ilog2e16(x))
    def toks(t: String) = t.split("\\s+", -1).filter(_.nonEmpty).toSeq
    val v = docs.flatMap(d => toks(d._3)).distinct.size.toLong
    val out = docs.flatMap { case (id, t, text) =>
      val rest = docs.filterNot(_._1 == id)
      val byLabel = rest.groupBy(_._2)
      val counts = byLabel.map { case (l, ds) =>
        l -> ds.flatMap(d => toks(d._3)).groupBy(identity)
          .map { case (w, ws) => w -> ws.size.toLong }
      }
      // candidate classes: trained classes of the FULL corpus that
      // still have a doc after removal = all labels in `rest` that had
      // tokens in the full corpus; token presence in full corpus is
      // what classifyLoo keys on, and every fixture label has tokens
      val cands = byLabel.keySet
      val tf = toks(text).groupBy(identity).map { case (w, ws) => w -> ws.size.toLong }
      val nw = tf.values.sum
      val scored = cands.toSeq.sorted.map { l =>
        val n = counts(l).values.sum
        val prior = lg(byLabel(l).size.toLong) - lg(docs.size.toLong - 1)
        val m = tf.map { case (w, f) =>
          BigInt(f) * lg(counts(l).getOrElse(w, 0L) + 1)
        }.sum
        l -> (prior + m - BigInt(nw) * lg(n + v))
      }
      if (scored.isEmpty) None
      else {
        val ranked = scored.sortBy { case (l, s) => (-s, l) }
        val (pl, ps) = ranked.head
        val margin = if (ranked.size > 1) ps - ranked(1)._2 else BigInt(0)
        Some(id -> ((pl, ps.toLong, margin.toLong, pl == t)))
      }
    }
    out.toMap
  }

  private def runLoo(docs: Seq[(Long, String, String)])
      : Map[Long, (String, Long, Long, Boolean)] =
    NaiveBayes.classifyLoo(docs.toDF("doc_id", "lang", "text"),
        "doc_id", "lang", "text")
      .as[(Long, String, String, Long, Long, Boolean)].collect()
      .map { case (id, _, p, s, m, c) => id -> ((p, s, m, c)) }.toMap

  test("classifyLoo ≡ retrain-without-each-doc reference (crafted + random)") {
    assert(runLoo(crafted) === referenceLoo(crafted))
    val rnd = new scala.util.Random(23)
    val vocabs = Map(
      "a" -> Vector("x", "y", "z", "q"),
      "b" -> Vector("y", "z", "r", "s"),
      "c" -> Vector("z", "s", "t", "u"))
    (0 until 3).foreach { trial =>
      val docs = (0 until 30).map { i =>
        val l = Vector("a", "b", "c")(rnd.nextInt(3))
        (i.toLong, l, (0 to rnd.nextInt(10))
          .map(_ => vocabs(l)(rnd.nextInt(vocabs(l).size))).mkString(" "))
      }
      assert(runLoo(docs) === referenceLoo(docs), s"trial $trial")
    }
  }

  test("classifyLoo: a single-member class is excluded from its own doc") {
    val docs = Seq(
      (1L, "solo", "aa bb cc"),
      (2L, "pair", "aa bb dd"),
      (3L, "pair", "aa cc dd"))
    val got = runLoo(docs)
    // doc 1's own class has D_t = 1 → only 'pair' is a candidate
    assert(got(1L)._1 === "pair")
    assert(!got(1L)._4)
    assert(got(1L)._3 === 0L) // single candidate → margin 0
    assert(got.keySet === Set(1L, 2L, 3L))
  }

  test("classifyLoo: single-class corpora — trivial with ≥2 docs, empty with 1") {
    // two docs, one class: a valid LOO model remains (prior lg1−lg1=0),
    // the lone candidate wins with margin 0
    val two = runLoo(Seq((1L, "only", "a b"), (2L, "only", "b c")))
    assert(two.keySet === Set(1L, 2L))
    assert(two.values.forall { case (p, _, m, c) => p == "only" && m == 0L && c })
    // one doc total: its own class is single-member and no other class
    // exists → no candidates, no rows (and no ilog2(0) on D−1 = 0)
    assert(runLoo(Seq((1L, "only", "a b"))).isEmpty)
  }

  test("classifyLoo exposes overfit that in-sample classify hides") {
    // two classes with shared filler; each doc carries a personal rare
    // word — in-sample those hapaxes anchor every doc to its own class,
    // LOO removes them from the model and the filler decides
    val docs = Seq(
      (1L, "p", "f f f u1"),
      (2L, "p", "f f f u2"),
      (3L, "q", "f f g u3"),
      (4L, "q", "f g g u4"))
    val ins = run(docs)
    val loo = runLoo(docs)
    assert(ins.values.forall(_._4), "in-sample memorizes the hapaxes")
    assert(loo === referenceLoo(docs))
    assert(loo.count(_._2._4) < 4, "LOO accuracy must drop")
  }

  test("broadcast fast path ≡ relational fallback (guard forced both ways)") {
    val rnd = new scala.util.Random(19)
    val docs = (0 until 35).map { i =>
      val l = Vector("u", "v", "w")(rnd.nextInt(3))
      (i.toLong, l, (0 to rnd.nextInt(10))
        .map(_ => Vector("k", "l", "m", "n", "o")(rnd.nextInt(5))).mkString(" "))
    }
    val df = docs.toDF("doc_id", "lang", "text")
    val fast = NaiveBayes.classify(df, "doc_id", "lang", "text")
      .orderBy("doc_id").collect().toSeq
    val fallback = NaiveBayes
      .classify(df, "doc_id", "lang", "text", maxBroadcastModelRows = 0L)
      .orderBy("doc_id").collect().toSeq
    assert(fast === fallback)
  }

  test("classEvidence ≡ brute-force one-vs-rest log-odds top-k; ties " +
      "break word-ascending (r11, q207)") {
    val rnd = new scala.util.Random(71)
    val vocab = Vector("k", "l", "m", "n", "o", "p", "q")
    val docs = (0 until 40).map { i =>
      val lbl = Vector("u", "v", "w")(rnd.nextInt(3))
      (i.toLong, lbl, (0 to rnd.nextInt(9))
        .map(_ => vocab(rnd.nextInt(7))).mkString(" "))
    }
    val ilg = graft.functions.IntLog2.ilog2e16 _
    // independent reference: plain-Scala counts and algebra
    val toks = docs.flatMap { case (_, l, t) =>
      t.split("\\s+").filter(_.nonEmpty).map(l -> _) }
    val cnt = toks.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val byClass = toks.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val wTot = toks.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val v = toks.map(_._2).distinct.size.toLong
    val nAll = toks.size.toLong
    val expect = cnt.keys.toSeq.map { case (s, w) =>
      val cIn = cnt((s, w)); val cRest = wTot(w) - cIn
      val lo = ilg(cIn + 1) - ilg(byClass(s) + v) -
        ilg(cRest + 1) + ilg(nAll - byClass(s) + v)
      (s, w, cIn, cRest, lo)
    }.groupBy(_._1).view.mapValues(
      _.sortBy { case (_, w, _, _, lo) => (-lo, w) }.take(3).zipWithIndex
        .map { case ((s, w, ci, cr, lo), i) => (s, i + 1L, w, ci, cr, lo) })
      .toMap
    val got = NaiveBayes.classEvidence(
        NaiveBayes.wordCounts(docs.toDF("doc_id", "lang", "text"),
          "lang", "text"), k = 3)
      .as[(String, Long, String, Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).toSeq).toMap
    assert(got.keySet === expect.keySet)
    expect.foreach { case (s, rows) => assert(got(s) === rows, s) }
    // planted tie: two words with identical counts everywhere — equal
    // log-odds, word-ascending order decides
    val tie = Seq((1L, "a", "zz yy zz yy"), (2L, "b", "xx"))
    val tied = NaiveBayes.classEvidence(
        NaiveBayes.wordCounts(tie.toDF("doc_id", "lang", "text"),
          "lang", "text"), k = 2)
      .as[(String, Long, String, Long, Long, Long)].collect()
      .filter(_._1 == "a").sortBy(_._2)
    assert(tied.map(_._3).toSeq === Seq("yy", "zz"))
    assert(tied(0)._6 === tied(1)._6) // genuinely tied log-odds
    // all-token-less state refuses with the named rule
    val e = intercept[IllegalArgumentException] {
      NaiveBayes.classEvidence(NaiveBayes.wordCounts(
        Seq((1L, "a", "")).toDF("doc_id", "lang", "text"), "lang", "text"))
    }
    assert(e.getMessage.contains("no class has any training token"))
  }

  test("thresholdSweep ≡ per-cutoff brute force over a decision table " +
      "(r11, q204)") {
    val rnd = new scala.util.Random(61)
    // synthetic decision-table rows: only margin_e16/correct are read
    val dec = (0 until 300).map { i =>
      val margin =
        if (rnd.nextBoolean()) rnd.nextInt(70000).toLong
        else rnd.nextInt(3000000).toLong
      (i.toLong, "l", "p", -999L, margin, rnd.nextInt(3) > 0)
    }
    val df = dec.toDF("doc_id", "lang", "predicted", "score_e16",
      "margin_e16", "correct")
    val cuts = NaiveBayes.DefaultMarginCutoffsE16
    val total = dec.size.toLong
    val totalCorrect = dec.count(_._6).toLong
    def expectFor(cs: Seq[Long]) = cs.map { c =>
      val kept = dec.filter(_._5 >= c)
      val nk = kept.size.toLong
      val nc = kept.count(_._6).toLong
      (c, nk, nc, nk * 1000000L / math.max(total, 1L),
        nc * 1000000L / math.max(nk, 1L),
        nc * 1000000L / math.max(totalCorrect, 1L))
    }
    val got = NaiveBayes.thresholdSweep(df)
      .as[(Long, Long, Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got === expectFor(cuts))
    // custom cutoffs arrive unsorted with duplicates — output is the
    // distinct ascending sweep
    val got2 = NaiveBayes.thresholdSweep(df, Seq(500000L, 0L, 500000L))
      .as[(Long, Long, Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got2 === expectFor(Seq(0L, 500000L)))
    // cutoff 0 keeps everything (margins are ≥ 0 by construction)
    assert(got.head === ((0L, total, totalCorrect, 1000000L,
      totalCorrect * 1000000L / total, 1000000L)))
    // empty decision table: one all-zero row per cutoff, guards hold
    val empty = dec.take(0).toDF("doc_id", "lang", "predicted",
      "score_e16", "margin_e16", "correct")
    val gotE = NaiveBayes.thresholdSweep(empty, Seq(0L, 100L))
      .as[(Long, Long, Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(gotE === Seq((0L, 0L, 0L, 0L, 0L, 0L), (100L, 0L, 0L, 0L, 0L, 0L)))
  }

  test("thresholdSweep over a real classify run: monotone kept volume, " +
      "precision at the top of the curve (r11, q204)") {
    val rnd = new scala.util.Random(67)
    val docs = (0 until 60).map { i =>
      val l = Vector("u", "v")(rnd.nextInt(2))
      val vocab = if (l == "u") Vector("k", "l", "m") else Vector("m", "n", "o")
      (i.toLong, l, (0 to rnd.nextInt(8) + 1)
        .map(_ => vocab(rnd.nextInt(3))).mkString(" "))
    }
    val sweep = NaiveBayes.thresholdSweep(
        NaiveBayes.classify(docs.toDF("doc_id", "lang", "text"),
          "doc_id", "lang", "text"))
      .as[(Long, Long, Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    // kept volume and correct-kept are non-increasing in the cutoff
    sweep.sliding(2).foreach { case Seq(a, b) =>
      assert(a._2 >= b._2 && a._3 >= b._3)
    case _ => }
    // the full-corpus row keeps everything
    assert(sweep.head._2 === 60L && sweep.head._4 === 1000000L)
  }

  test("non-integral ids route to the id-agnostic path; integral ids " +
      "keep their exact type (r11, ADVICE)") {
    // string ids: the Long-typed fast path would null them out — the
    // guard must route to the relational path, which carries them
    val sdocs = Seq(("doc-a", "u", "k k l"), ("doc-b", "v", "m m n"),
      ("doc-c", "u", "k l l"))
    val out = NaiveBayes.classify(sdocs.toDF("doc_id", "lang", "text"),
      "doc_id", "lang", "text")
    assert(out.schema("doc_id").dataType ===
      org.apache.spark.sql.types.StringType)
    assert(out.select("doc_id").as[String].collect().sorted ===
      Array("doc-a", "doc-b", "doc-c"))
    // and the string-id result matches the long-id result row for row
    val ldocs = sdocs.zipWithIndex.map { case ((_, l, t), i) => (i.toLong, l, t) }
    val lout = NaiveBayes.classify(ldocs.toDF("doc_id", "lang", "text"),
        "doc_id", "lang", "text")
      .as[(Long, String, String, Long, Long, Boolean)]
      .collect().sortBy(_._1).map { case (_, l, p, s, m, c) => (l, p, s, m, c) }
    val sout = out
      .as[(String, String, String, Long, Long, Boolean)]
      .collect().sortBy(_._1).map { case (_, l, p, s, m, c) => (l, p, s, m, c) }
    assert(sout === lout)
    // an INT id comes back as int, not silently widened to long
    val idocs = Seq((1, "u", "k k"), (2, "v", "m m"))
    assert(NaiveBayes.classify(idocs.toDF("doc_id", "lang", "text"),
        "doc_id", "lang", "text")
      .schema("doc_id").dataType === org.apache.spark.sql.types.IntegerType)
    // LOO has no fallback: a string id refuses with the routing hint
    val e = intercept[IllegalArgumentException] {
      NaiveBayes.classifyLoo(sdocs.toDF("doc_id", "lang", "text"),
        "doc_id", "lang", "text")
    }
    assert(e.getMessage.contains("integral id"))
  }

  test("the broadcast model map is built only on the fast path: a " +
      "string-id classify runs fewer eager jobs than an integral-id one") {
    // building the DataFrame runs the model's eager driver work; the
    // vocab collect behind the broadcast map belongs to the fast path,
    // which string ids never take
    val sdocs = Seq(("doc-a", "u", "k k l"), ("doc-b", "v", "m m n"),
      ("doc-c", "u", "k l l"))
    val ldocs = sdocs.zipWithIndex.map { case ((_, l, t), i) => (i.toLong, l, t) }
    val meter = graft.Meter(spark)
    val (_, strJobs) = meter(NaiveBayes.classify(
      sdocs.toDF("doc_id", "lang", "text"), "doc_id", "lang", "text"))
    val (_, longJobs) = meter(NaiveBayes.classify(
      ldocs.toDF("doc_id", "lang", "text"), "doc_id", "lang", "text"))
    assert(strJobs.jobs < longJobs.jobs,
      s"string ids ran ${strJobs.jobs} jobs, integral ids ${longJobs.jobs}")
  }

  test("an all-token-less state refuses with the exclusion rule named " +
      "(r11, ADVICE)") {
    val docs = Seq((1L, "u", ""), (2L, "v", "   ")).toDF("doc_id", "lang", "text")
    val e = intercept[IllegalArgumentException] {
      NaiveBayes.classify(docs, "doc_id", "lang", "text").collect()
    }
    assert(e.getMessage.contains("no class has any training token"))
  }

  test("classReport: counts, precision and recall per class") {
    val docs = Seq(
      (1L, "code", "def class return import def"),
      (2L, "code", "class import return def"),
      (3L, "prose", "the cat walked over the hill"),
      (4L, "prose", "a hill and a cat and the sun"),
      (5L, "prose", "def class return")) // prose doc that reads as code
    val rep = NaiveBayes.classReport(
        NaiveBayes.classify(docs.toDF("doc_id", "lang", "text"),
          "doc_id", "lang", "text"), "lang")
      .as[(String, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    val (_, cd, cp, cc, cprec, crec) = rep("code")
    assert((cd, cp, cc) === (2L, 3L, 2L)) // doc 5 predicted code
    assert(cprec === 666666L) // 2·10⁶ div 3, truncated
    assert(crec === 1000000L)
    val (_, pd, pp, pc, pprec, prec) = rep("prose")
    assert((pd, pp, pc) === (3L, 2L, 2L))
    assert(pprec === 1000000L)
    assert(prec === 666666L)
  }

  test("classReportFromState / thresholdSweepFromState ≡ the derive " +
      "paths under split + replay-duplicated state rows (r13)") {
    val decided = NaiveBayes.classify(crafted.toDF("doc_id", "lang", "text"),
      "doc_id", "lang", "text").localCheckpoint(true)
    // the accumulated decisions table a deployment reads: three batch
    // appends (%3 split), the middle batch ALSO present twice — the
    // mid-replay read the r11 overwrite-partition convention allows
    val state = (0 until 3).map(i =>
        decided.filter(col("doc_id") % 3 === i))
      .reduce(_.unionByName(_))
      .unionByName(decided.filter(col("doc_id") % 3 === 1))
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.mkString("|")).toSeq.sorted
    assert(rows(NaiveBayes.classReportFromState(state, "lang")) ===
      rows(NaiveBayes.classReport(decided, "lang")))
    assert(rows(NaiveBayes.thresholdSweepFromState(state)) ===
      rows(NaiveBayes.thresholdSweep(decided)))
    // the duplicated rows really were there (the defensive read is
    // load-bearing, not vacuous)
    assert(state.count() > decided.count())
  }
}
