package graft

import org.apache.spark.sql.functions.col

/** ANN-ladder scale smoke (round 7, VERDICT r6 item 5): build, probe,
  * and append cost for the three persisted index families as the vector
  * corpus grows 25× → 100× → 250× (50k / 200k / 500k of the sf0.1
  * 2k-vector, 64-dim table). The claims to check:
  *   - build time LINEAR in |corpus| (one assignment/quantize pass +
  *     one partitioned write — nothing pairwise);
  *   - IVF / IVF×PQ probe time FLAT-ish in |corpus| at fixed cell
  *     count (a probe scans |corpus|·nprobe/numCells rows and ONLY the
  *     probed cell partitions — directory pruning, so 256 cells keep
  *     the probed fraction at nprobe/256 ≈ 3%);
  *   - SQ8 probe LINEAR but at 1 byte/dim (it is the compression
  *     rung, not the pruning rung — honest slope, 4× less IO than
  *     float32);
  *   - append cost ∝ batch (no retrain, no partition rewrite).
  * Shuffle bytes are recorded per phase — a super-linear curve here
  * would expose an accidental all-pairs or full-rewrite path long
  * before a wall-time cliff on a cluster.
  *
  * Run: `tools/run_class.sh graft.AnnScaleSmoke <dir> [<dir> ...]`
  * where each dir holds an `embeddings.parquet` (the emb_x25/x100/x250
  * replicas come from `tools/gen_scaled_data.py <factor> <out>
  * embeddings` — ad hoc, not in git). Results: BASELINE.md §"ANN x100".
  */
object AnnScaleSmoke {

  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq
      else Seq("/root/repo/benchdata/emb_x25",
        "/root/repo/benchdata/emb_x100", "/root/repo/benchdata/emb_x250")
    val spark = GraftSession.start(GraftSession.bench(GraftSession.cpus(32)))
    val meter = Meter(spark)
    // wall time and shuffle write+read bytes of one build/append
    def timed(f: => Unit): (Double, Long) = {
      val (_, r) = meter(f)
      (r.sec, r.shuffleWrite + r.shuffleRead)
    }
    import Meter.{force, median}

    import graft.operators.{IvfIndex, IvfPq, ScalarQuantizer}
    val Cells = 256
    val Nprobe = 8

    dirs.foreach { dir =>
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      val probe = emb.filter(col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0)
      val corpus = emb.filter(col("vec_id") =!= 0)
      // the ~14% ingest batch of the append contract (bench convention)
      val batch = corpus.filter(col("vec_id") % 7 === 0)
      val n = corpus.count()

      // buckets=1: at these corpus sizes 8 buckets × 256 cells would
      // write 2k tiny files and measure the filesystem, not assignment
      // (the x10 ivf256 bench line's pin; a real corpus keeps bucketing)
      val (ivfBuild, ivfBuildSh) = timed(IvfIndex.build(
        corpus, "vec_id", "embedding", "ann_smoke_ivf", Cells, buckets = 1))
      val ivfQ = median(force(IvfIndex.topKIndexed(spark, "ann_smoke_ivf",
        "vec_id", "embedding", probe, k = 10, nprobe = Nprobe)))
      val (ivfApp, _) = timed(IvfIndex.append(spark, "ann_smoke_ivf",
        batch, "vec_id", "embedding", buckets = 1))

      val (ipqBuild, ipqBuildSh) = timed(IvfPq.build(
        corpus, "vec_id", "embedding", "ann_smoke_ivfpq",
        numCells = Cells, m = 8, codesK = 64, iters = 1, buckets = 1))
      val ipqQ = median(force(IvfPq.topKIndexed(spark, "ann_smoke_ivfpq",
        corpus, "vec_id", "embedding", probe,
        k = 10, nprobe = Nprobe, shortlist = 100)))
      val (ipqApp, _) = timed(IvfPq.append(spark, "ann_smoke_ivfpq",
        batch, "vec_id", "embedding", buckets = 1))

      val (sqBuild, sqBuildSh) = timed(ScalarQuantizer.buildSqIndex(
        corpus, "vec_id", "embedding", "ann_smoke_sq"))
      val sqQ = median(force(ScalarQuantizer.sqRerankTopKIndexed(spark,
        "ann_smoke_sq", corpus, "vec_id", "embedding", probe,
        shortlist = 100, k = 10)))
      val (sqApp, _) = timed(ScalarQuantizer.appendToSqIndex(spark,
        "ann_smoke_sq", batch, "vec_id", "embedding"))

      // recall@10 vs exact brute force, averaged over 8 probe vectors
      // (the flat-probe claim means nothing if pruning drops the true
      // neighbors; appended rows are in-index by now, so the ground
      // truth includes the append batch)
      import graft.operators.SimilaritySearch
      val fullCorpus = corpus.unionByName(batch)
      val probeVecs = (1 to 8).map { i =>
        emb.filter(col("vec_id") === i * 13)
          .select("embedding").head().getSeq[Float](0)
      }
      def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
        df.select(col("vec_id").cast("long")).collect().map(_.getLong(0)).toSet
      def recallOf(f: Seq[Float] => org.apache.spark.sql.DataFrame): Double = {
        val hits = probeVecs.map { p =>
          val truth = ids(SimilaritySearch.topK(fullCorpus, "vec_id", "embedding", p, 10))
          val got = ids(f(p))
          (got intersect truth).size.toDouble / truth.size
        }
        hits.sum / hits.size
      }
      val ivfRecall = recallOf(p => IvfIndex.topKIndexed(spark, "ann_smoke_ivf",
        "vec_id", "embedding", p, k = 10, nprobe = Nprobe))
      val ipqRecall = recallOf(p => IvfPq.topKIndexed(spark, "ann_smoke_ivfpq",
        fullCorpus, "vec_id", "embedding", p, k = 10, nprobe = Nprobe,
        shortlist = 100))
      val sqRecall = recallOf(p => ScalarQuantizer.sqRerankTopKIndexed(spark,
        "ann_smoke_sq", fullCorpus, "vec_id", "embedding", p,
        shortlist = 100, k = 10))

      println(f"""{"dir":"$dir","n_vec":$n,"ivf256":{"build_sec":$ivfBuild%.2f,"build_shuffle_mb":${ivfBuildSh / 1e6}%.1f,"query_sec":$ivfQ%.3f,"append_sec":$ivfApp%.2f,"recall10":$ivfRecall%.3f},"ivfpq256":{"build_sec":$ipqBuild%.2f,"build_shuffle_mb":${ipqBuildSh / 1e6}%.1f,"query_sec":$ipqQ%.3f,"append_sec":$ipqApp%.2f,"recall10":$ipqRecall%.3f},"sq8":{"build_sec":$sqBuild%.2f,"build_shuffle_mb":${sqBuildSh / 1e6}%.1f,"query_sec":$sqQ%.3f,"append_sec":$sqApp%.2f,"recall10":$sqRecall%.3f}}""")
    }
    spark.stop()
  }
}
