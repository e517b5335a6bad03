package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): runs every SparkEntry query on
  * SPARK_GRAFT_SF_DIR and prints TWO JSON lines, each self-contained and
  * carrying the same {"metric":"total","value":N,...,"queries":{...}}
  * totals/medians: first the full-telemetry line (samples/gc/at maps,
  * medians last), then a compact medians-only line. The compact line is
  * LAST because the driver's artifact keeps a bounded output tail and the
  * telemetry line outgrew it in round 3 — a parser reading either the
  * first "metric":"total" line or the last line gets identical
  * medians/totals; nothing should SUM across lines.
  *
  * Protocol (BASELINE.md): per query 1 warm-up + 3 timed runs, median
  * reported. Execution is forced through the noop sink so projections are
  * fully materialized (a bare count() lets Spark skip column evaluation).
  *
  * Self-diagnosis (round-3): a median alone cannot distinguish a noisy
  * shared box from a real bimodal regression (spill, GC, cold page
  * cache), so every run is recorded, not just the winner:
  *   - "samples": ALL timed runs per query, in order;
  *   - "gc_sec": JVM GC time attributed to each query's timed runs — a
  *     50 s reading with 45 s of GC is a heap event, with 0 s it's the
  *     box;
  *   - "at_sec": wall-clock offset of each query's first timed run — two
  *     adjacent outliers with a matching gap in the timeline are one
  *     external stall;
  *   - "floor"/"floor_post": the 1-row job floor measured before AND
  *     after the suite — if the floor itself moved, the box moved.
  */
object Bench {

  import Meter.force

  /** One measured query: median of the timed runs plus the evidence. */
  final case class Measure(
      name: String, median: Double, samples: Seq[Double],
      gcSec: Double, atSec: Double)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    val spark = GraftSession.start(GraftSession.bench(GraftSession.cpus(32)))

    val suiteT0 = System.nanoTime()

    // Every measured line keeps its thunk so the post-suite healing pass
    // (r6 VERDICT item 1) can re-execute it. All registered work is
    // idempotent: queries are pure reads, index/fixture builds all write
    // with SaveMode.Overwrite.
    val thunks = scala.collection.mutable.LinkedHashMap.empty[String, () => Unit]

    /** Warm-up once, time `runs` runs, keep every sample + GC delta. */
    def measure(name: String, f: => Unit): Measure = {
      val at = (System.nanoTime() - suiteT0) / 1e9
      thunks(name) = () => f
      try {
        val t = Meter.timing(runs)(f)
        Measure(name, t.median, t.samples, t.gcSec, at)
      } catch {
        case _: Throwable => Measure(name, -1.0, Seq(), 0.0, at)
      }
    }

    // per-job floor: schedule+commit cost of a 1-row job through the same
    // noop sink — subtract from any query time to get its marginal cost
    def measureFloor(): Double = Meter.median(force(spark.range(1).toDF("x")))
    val floor = measureFloor()

    // SPARK_GRAFT_BENCH_ONLY=q49_curation_patch,q38_minhash_lsh → time just
    // those (skips the ann/scaled extras); dev loop for single-query tuning
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)

    // r6 VERDICT item 6: q132/q133's suite lines used to re-measure
    // inline codebook TRAINING plus the query every round; the
    // steady-state (persisted-index) query is the production number.
    // The suite lines now time the indexed query path against indexes
    // built here once; the train+persist cost moves to its own
    // x132_pq_train / x133_ivfpq_train lines — measured under the same
    // 1-warmup+3-run median rule AND still counted in the suite total,
    // so the DuckDB comparison (whose oracle twins train inline) stays
    // apples-to-apples: total = train line + steady line, same work.
    type QueryFn = (SparkSession, String) => org.apache.spark.sql.DataFrame
    // Each train line is gated on ITS OWN steady query being selected
    // (r7 ADVICE: ONLY=q132_pq_adc_topk used to measure BOTH trains).
    val want132 = only.forall(_.contains("q132_pq_adc_topk"))
    val want133 = only.forall(_.contains("q133_ivfpq_topk"))
    // The indexed override must answer exactly what the oracle-gated
    // inline query fn answers (r7 ADVICE: the bench would otherwise
    // report an oracle-green label for a path that was never verified).
    // One-time assert per bench run: collect both, compare sorted rows.
    // Divergence throws AssertionError specifically so the splitPrep
    // catch below can rethrow it (r8 ADVICE: the blanket catch used to
    // swallow the require, silently falling back to the inline path —
    // the exact silence this assert exists to prevent). The catch only
    // absorbs environmental failures (e.g. missing embeddings parquet).
    def assertMatchesInline(name: String, indexed: QueryFn): QueryFn = {
      val inline = SparkEntry.queries(name)(spark, sfDir).collect()
        .map(_.toString).sorted.toSeq
      val idx = indexed(spark, sfDir).collect().map(_.toString).sorted.toSeq
      if (idx != inline) throw new AssertionError(
        s"$name indexed bench path diverges from the oracle-verified inline path")
      indexed
    }
    val splitPrep: Option[(Seq[Measure], Map[String, QueryFn])] =
      if (!want132 && !want133) None
      else try {
        import org.apache.spark.sql.functions.col
        import graft.operators.{IvfPq, ProductQuantizer}
        val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
        val trains = Seq.newBuilder[Measure]
        val over = Map.newBuilder[String, QueryFn]
        if (want132) {
          // q132 contract: corpus = ALL vectors, query = MIN(vec_id)'s
          val q132Probe = emb.orderBy(col("vec_id").asc)
            .select(col("embedding")).head().getSeq[Float](0)
          trains += measure("x132_pq_train", {
            ProductQuantizer.buildPqIndex(emb, "vec_id", "embedding",
              "bench_q132_pq", m = 8, k = 64, iters = 1)
            ()
          })
          over += "q132_pq_adc_topk" -> assertMatchesInline("q132_pq_adc_topk",
            (s: SparkSession, _: String) =>
              ProductQuantizer.adcRerankTopKIndexed(s, "bench_q132_pq", emb,
                "vec_id", "embedding", q132Probe, shortlist = 100, k = 10))
        }
        if (want133) {
          // q133 contract: probe = vec_id 0's vector, corpus excludes it
          val probe0 = emb.filter(col("vec_id") === 0)
            .select("embedding").head().getSeq[Float](0)
          val corpus = emb.filter(col("vec_id") =!= 0)
          trains += measure("x133_ivfpq_train",
            IvfPq.build(corpus, "vec_id", "embedding", "bench_q133_ivfpq",
              numCells = 8, m = 8, codesK = 64, iters = 1))
          over += "q133_ivfpq_topk" -> assertMatchesInline("q133_ivfpq_topk",
            (s: SparkSession, _: String) =>
              IvfPq.topKIndexed(s, "bench_q133_ivfpq", corpus,
                "vec_id", "embedding", probe0, k = 10, nprobe = 2,
                shortlist = 100))
        }
        Some((trains.result(), over.result()))
      } catch {
        case e: AssertionError => throw e // indexed-path divergence: loud
        case _: Throwable      => None    // environmental (no embeddings)
      }
    val steadyOverride = splitPrep.map(_._2).getOrElse(Map.empty[String, QueryFn])

    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(q => only.forall(_.contains(q._1)))
      .map { case (name, fn) =>
        measure(name, force(steadyOverride.getOrElse(name, fn)(spark, sfDir)))
      } ++ splitPrep.toSeq.flatMap(_._1)

    // persisted-ANN paths: index build timed once, indexed query timed like
    // a normal query — shows the per-query saving vs q43/q59's recompute.
    // A broken index path reports -1.0 sentinels (same convention as
    // per-query failures), never silence.
    val annResults: Seq[Measure] = if (only.isDefined) Seq() else try {
      import org.apache.spark.sql.functions.col
      import graft.operators.{IvfIndex, SimilaritySearch}
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val probe = emb.filter(col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0)
      val corpus = emb.filter(col("vec_id") =!= 0)
      // builds get the same 1-warmup+3-run median as queries (r6 VERDICT
      // item 1b — a single-sample build line let one FS stall own the
      // number); every build writes with Overwrite so re-runs are clean
      val mLshBuild = measure("x_ann_lsh_index_build",
        SimilaritySearch.buildLshIndex(
          corpus, "vec_id", "embedding", "bench_lsh_idx",
          numPlanes = 16, dim = probe.length))
      val mLsh = measure("x_ann_lsh_index_query",
        force(SimilaritySearch.annTopKIndexed(spark,
          "bench_lsh_idx", "vec_id", "embedding", probe, k = 10,
          numPlanes = 16, maxHamming = 6)))
      val mIvfBuild = measure("x_ann_ivf_index_build",
        IvfIndex.build(
          corpus, "vec_id", "embedding", "bench_ivf_idx", numCells = 8))
      val mIvf = measure("x_ann_ivf_index_query",
        force(IvfIndex.topKIndexed(spark, "bench_ivf_idx",
          "vec_id", "embedding", probe, k = 10, nprobe = 2)))
      import graft.operators.{IvfPq, ProductQuantizer}
      val mPqBuild = measure("x_ann_pq_index_build", {
        ProductQuantizer.buildPqIndex(
          corpus, "vec_id", "embedding", "bench_pq_idx", m = 8, k = 64, iters = 1)
        ()
      })
      val mPq = measure("x_ann_pq_index_query",
        force(ProductQuantizer.adcRerankTopKIndexed(spark, "bench_pq_idx",
          corpus, "vec_id", "embedding", probe, shortlist = 100, k = 10)))
      val mIvfPqBuild = measure("x_ann_ivfpq_index_build",
        IvfPq.build(
          corpus, "vec_id", "embedding", "bench_ivfpq_idx",
          numCells = 8, m = 8, codesK = 64, iters = 1))
      val mIvfPq = measure("x_ann_ivfpq_index_query",
        force(IvfPq.topKIndexed(spark, "bench_ivfpq_idx", corpus,
          "vec_id", "embedding", probe, k = 10, nprobe = 2, shortlist = 100)))
      import graft.operators.ScalarQuantizer
      val mSqBuild = measure("x_ann_sq8_index_build",
        ScalarQuantizer.buildSqIndex(
          corpus, "vec_id", "embedding", "bench_sq_idx"))
      val mSq = measure("x_ann_sq8_index_query",
        force(ScalarQuantizer.sqRerankTopKIndexed(spark, "bench_sq_idx",
          corpus, "vec_id", "embedding", probe, shortlist = 100, k = 10)))
      // incremental maintenance: marginal cost of appending a ~14% batch
      // vs the full builds above (no retrain, no partition rewrite).
      // Median-of-3 like everything else: each run appends another
      // batch, which is exactly the steady-state shape (cost ∝ batch,
      // not index size); excluded from the healing re-run (mutating).
      val appendBatch = corpus.filter(col("vec_id") % 7 === 0)
      val mIvfApp = measure("x_ann_ivf_append",
        IvfIndex.append(spark, "bench_ivf_idx",
          appendBatch, "vec_id", "embedding"))
      val mIvfPqApp = measure("x_ann_ivfpq_append",
        IvfPq.append(spark, "bench_ivfpq_idx",
          appendBatch, "vec_id", "embedding"))
      Seq(
        mSqBuild, mSq, mIvfApp, mIvfPqApp, mLshBuild, mLsh,
        mIvfBuild, mIvf, mPqBuild, mPq, mIvfPqBuild, mIvfPq)
    } catch { case _: Throwable =>
      Seq("x_ann_lsh_index_build", "x_ann_lsh_index_query",
        "x_ann_ivf_index_build", "x_ann_ivf_index_query",
        "x_ann_pq_index_build", "x_ann_pq_index_query",
        "x_ann_ivfpq_index_build", "x_ann_ivfpq_index_query",
        "x_ann_sq8_index_build", "x_ann_sq8_index_query",
        "x_ann_ivf_append", "x_ann_ivfpq_append")
        .map(Measure(_, -1.0, Seq(), 0.0, (System.nanoTime() - suiteT0) / 1e9))
    }

    // Schema'd-ingestion demo: q21 pays a JSON parse per row per query;
    // the warehouse answer is to parse ONCE at write time. x_json_build
    // is that one-time cost; x_json_query is the same aggregate over the
    // materialized column — the number a 100 TB deployment actually pays
    // per query.
    val jsonResults: Seq[Measure] = if (only.isDefined) Seq() else try {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.types.{LongType, StructField, StructType}
      val parsedPath = java.nio.file.Files
        .createTempDirectory("graft-bench-ingest").toString + "/events_parsed"
      val parsed = spark.read.parquet(s"$sfDir/events.parquet")
        .withColumn("k", from_json(col("props"),
          StructType(Seq(StructField("k", LongType)))).getField("k"))
        .drop("props")
      val mBuild = measure("x_json_ingest_build",
        parsed.write.mode("overwrite").parquet(parsedPath))
      val m = measure("x_json_ingested_query",
        force(spark.read.parquet(parsedPath)
          .groupBy(col("event_type"))
          .agg(count(col("k")).as("n"), sum(col("k")).as("sum_k"),
            min(col("k")).as("min_k"), max(col("k")).as("max_k"))
          .filter(col("n") > 0)
          .orderBy(col("event_type"))))
      Seq(mBuild, m)
    } catch { case _: Throwable =>
      Seq("x_json_ingest_build", "x_json_ingested_query")
        .map(Measure(_, -1.0, Seq(), 0.0, (System.nanoTime() - suiteT0) / 1e9))
    }

    // Bucketed-SCD2-history as-of probe (r6, VERDICT item 4): q125 pays
    // history build + as-of union-window per query; the warehouse answer
    // builds the history ONCE bucketed by user_id, and the probe is a
    // bucketed left join + max-struct aggregate whose history side needs
    // NO exchange. x_asof_hist_build is that one-time cost;
    // x_asof_hist_query is the marginal per-query cost a deployment pays.
    val asofResults: Seq[Measure] = if (only.isDefined) Seq() else try {
      import org.apache.spark.sql.functions._
      val e = graft.Tables.events(spark, sfDir)
        .withColumn("t", (col("ts") - pmod(col("ts"), lit(1000L))).cast("long"))
      val log = e.filter(col("event_type") =!= "error")
        .groupBy(col("user_id"), col("t"))
        .agg(max(struct(col("event_id"), col("event_type"))).as("__w"))
        .select(col("user_id"), col("t"),
          col("__w.event_id").as("event_id"), col("__w.event_type").as("event_type"))
      val mBuild = measure("x_asof_hist_build",
        graft.etl.Warehouse.writeBucketed(
          graft.operators.Scd2
            .fromChangeLog(log, Seq("user_id"), "t", "event_id", Seq("event_type"))
            .select(col("user_id"), col("valid_from"),
              col("event_type").as("active_type"), col("version")),
          "bench_asof_hist", "user_id"))
      val errs = e.filter(col("event_type") === "error")
        .select(col("event_id").as("err_id"), col("user_id"), col("t"))
      val m = measure("x_asof_hist_query",
        force(graft.operators.AsOfJoin.backwardViaJoin(
          errs, spark.table("bench_asof_hist"),
          Seq("user_id"), "t", "valid_from",
          payload = Seq("active_type", "version"))))
      Seq(mBuild, m)
    } catch { case _: Throwable =>
      Seq("x_asof_hist_build", "x_asof_hist_query")
        .map(Measure(_, -1.0, Seq(), 0.0, (System.nanoTime() - suiteT0) / 1e9))
    }

    // Persisted ingest-state capstone probe (r13, VERDICT r12 #1): the
    // q208 suite line pays an in-plan state SIMULATION per run (the
    // self-contained-query convention) — re-deriving segment hashes,
    // exact classes, LSH bands, NB counts and the PSI reference from
    // the warehouse corpus on every batch. A deployment persists
    // IngestState ONCE (band state bucketed by (band, bhash), so the
    // banded probe's warehouse side joins exchange-free) and each batch
    // pays only its probe. x_ingest_state_build is that one-time cost;
    // x_ingest_state_probe is the marginal per-batch cost — the number
    // the q208 x100 smoke's one above-linear term (warehouse re-signing)
    // turns into at deployment.
    val ingestStateResults: Seq[Measure] = if (only.isDefined) Seq() else try {
      import org.apache.spark.sql.functions.col
      val docs = graft.Tables.documents(spark, sfDir)
      val isBatch = col("doc_id") % 7 === 0
      val mBuild = measure("x_ingest_state_build",
        graft.etl.IngestCapstone.persistState(
          graft.etl.IngestCapstone.ingestState(
            docs.filter(!isBatch),
            docs.filter(!isBatch && col("doc_id") % 10 === 0),
            "doc_id", "lang", "source", "text", "n_chars"),
          "bench_ingest_state"))
      val m = measure("x_ingest_state_probe",
        force(graft.etl.IngestCapstone.ingestDecisionsFromState(
          graft.etl.IngestCapstone.readState(spark, "bench_ingest_state"),
          docs.filter(isBatch),
          "doc_id", "lang", "source", "text", "n_chars")))
      Seq(mBuild, m)
    } catch { case _: Throwable =>
      Seq("x_ingest_state_build", "x_ingest_state_probe")
        .map(Measure(_, -1.0, Seq(), 0.0, (System.nanoTime() - suiteT0) / 1e9))
    }

    // Data-dominated scale point: when the 10×-replicated dataset exists
    // (tools/gen_scaled_data.py), re-run the data-heavy query subset on it
    // as x10_* lines. These measure marginal (data-proportional) cost —
    // the sf0.1 suite is dominated by the ~0.2-0.5 s local job floor
    // (BASELINE.md "floor analysis").
    val scaledDir = sys.env.getOrElse(
      "SPARK_GRAFT_SCALED_DIR", "/root/repo/benchdata/sf1x10")
    val scaledNames = Seq(
      "q02_project_filter", "q05_group_summary", "q07_join_rollup",
      "q18_argmax_per_group", "q20_explode_token_counts",
      "q21_json_extract_agg", "q25_pricing_rollup", "q29_change_summary",
      "q31_token_metrics", "q33_langid_rollup", "q34_fingerprint_shingles",
      "q40_cosine_scores", "q56_event_windows", "q57_sessionization",
      "q66_asof_attribution", "q67_range_join_activity",
      "q74_pii_redaction", "q75_repetition_ratio", "q76_document_chunking",
      "q77_source_mixture", "q79_ngram_novelty", "q81_source_zscore",
      "q83_quality_quartiles", "q85_tfidf_terms", "q86_event_funnel",
      "q87_retention_cohorts", "q89_rollup_subtotals", "q90_event_pivot",
      "q91_moving_window", "q92_event_transitions",
      // r4-late addition that is data-proportional (the sink/file-IO pins
      // q103-q107 are fixture-bound; q108's oracle runs the EXACT-gate
      // profile whose production shape is the HLL default — measured at
      // x10: exact 0.76 s, HLL 0.84 s, both Spark-constant-bound vs
      // DuckDB 0.036, see BASELINE — so neither variant is a
      // data-proportional signal at this size and it stays out too)
      "q109_salted_skew_join",
      // r5: iterative k-means + SemDeDup are data-proportional (per-row
      // kernel assignment, within-cluster pair compare); at sf0.1 they
      // sit on the multi-job floor like q115 — x10 is the honest regime
      "q118_kmeans_clusters", "q119_semantic_dedup",
      // r10: the cluster-quality report rides the same fit chain as
      // q118; its rollups are assignment-proportional
      "q201_cluster_quality",
      // r5-late: all data-proportional — SCD2/as-of are window passes
      // over the 1M-event log, substring spans are a corpus shingle
      // shuffle, CDC apply is a fact-table aggregate (q124's merge is
      // state-bound by design, so it stays out)
      "q122_scd2_history", "q123_substring_spans", "q125_versioned_asof",
      "q126_cdc_apply", "q127_span_removal", "q128_topk_aggregate",
      "q132_pq_adc_topk",
      // r6: the IVFADC compose is data-proportional through assignment
      // + encode + the probed-cell ADC scan
      "q133_ivfpq_topk",
      // r6: prefix-sum budget fill, PMI counting, and the blocked
      // set-sim join are all data-proportional on the x10 replica (the
      // generator perturbs source names, so blocks multiply rather than
      // inflate — q134's true pair count measures linear: 12.4k at sf0.1
      // -> 124k at x10). q135/q137 are state-/sample-bound by design and
      // stay out with q124.
      "q134_setsim_join", "q136_token_budget_fill",
      "q138_pmi_collocations",
      // r6-late: R-S set-sim and the curation capstone are corpus-
      // proportional end to end; interval overlap is event-proportional
      "q140_setsim_cross_join", "q146_curation_capstone",
      "q147_interval_overlap",
      // r8: BPE training is corpus-proportional through its one
      // word-histogram pass (the merge rounds are vocabulary-bounded);
      // LM scoring joins every corpus bigram against the count tables;
      // hybrid RRF scans both retrieval legs corpus-wide
      "q154_bpe_train", "q155_ngram_lm_score", "q156_hybrid_rrf",
      "q157_dsir_importance",
      // r9: backoff scoring is corpus-proportional through the distinct
      // n-gram score join (the count/score tables are vocab-bounded);
      // the repetition battery is a pure row-local kernel map
      "q161_stupid_backoff_lm", "q162_repetition_battery",
      // r10: segment dedup shuffles one (md5, id, pos) row per corpus
      // segment; the residual gate is one sufficient-stats pass + a
      // broadcast model map — both corpus-proportional
      "q167_segment_dedup", "q170_residual_gate",
      // r9-late: KN scoring and the unigram train/encode pair are
      // corpus-proportional through their histogram/score passes (the
      // model tables are vocab-bounded); CDC chunking and char entropy
      // are row-local kernel maps; the KL matrix's pair algebra rides
      // one corpus token-count shuffle + a vocab-bounded self-join.
      // q178 MMR stays out (shortlist-bound by design, the q135 rule);
      // q176's LSH→CC chain is dossier'd separately like q69/q121.
      "q173_kneser_ney_lm", "q174_cdc_chunk_dedup", "q175_unigram_train",
      "q177_unigram_encode", "q179_source_kl", "q180_char_entropy",
      // r9 capstone-adjacent: the WordPiece apply path is a row-local
      // typed map over the corpus (train histogram + units distinct
      // are vocab-bounded) — corpus-proportional
      "q183_wordpiece_encode",
      // r10 (VERDICT r9 #6): complete the newest family's x10 rung so
      // cross-round scale regressions are driver-visible. q176/q185
      // carry their LSH chain term (like q121 would — here the x10
      // point is the regression sentinel, the x100 dossier the scale
      // narrative); q181/q182 are state+batch / bounded-heap shapes;
      // q184 embeds the three encode chains end to end
      "q176_components_incr", "q181_source_kl_incr", "q182_kl_terms",
      "q184_tokenizer_fertility", "q185_minhash_lsh_incr",
      // r10: incremental BM25 — batch kernels + state-row rescoring,
      // both corpus-proportional
      "q187_bm25_incr",
      // r10: incremental heavy hitters — batch explode + vocab-bounded
      // count-state merge
      "q189_heavy_hitters_incr",
      // r10-late: SimHash band probe and asset fingerprinting are both
      // corpus-proportional (row-local kernels + touched-bucket joins);
      // the incremental span probe is batch shingles + the state join
      "q186_simhash_incr", "q190_phash_incr", "q191_span_report_incr",
      // r10: Naive Bayes classify is tokenize + one word-keyed join
      // (corpus-proportional); the incremental form is batch + state;
      // the MinHash accuracy curve rides the q38 signature/banding
      // machinery (corpus-proportional, candidates ∝ dup density).
      // q194 is a rollup of q193's chain — no independent scale signal.
      "q193_naive_bayes", "q195_naive_bayes_incr", "q196_minhash_accuracy",
      "q197_nb_loo", "q198_cluster_label_vote",
      // r10: incremental embedding near-dup — only the 1/7 batch is
      // signed; probe = touched sig buckets of the persisted state
      "q199_embed_neardup_incr",
      // r10: contamination decision table — three corpus-proportional
      // text layers (normalize, 3-gram, 13-gram) under one artifact
      "q202_contamination_decisions",
      // r10: PSI drift — two pruned column scans + bin-count algebra
      "q203_psi_drift",
      // r11: incremental PSI rides the same pruned scans (three
      // bin-count legs + the additive merge); the shard re-plan's
      // weight rollups are corpus-proportional (the greedy is
      // group-bounded). q204 stays out with q194's rationale — it is
      // a rollup of q193's chain, no independent scale signal beyond
      // the q193 rung already measured.
      "q205_psi_incr", "q206_shard_replan",
      // r11 post-closing: the evidence report is corpus-proportional
      // through its one wordCounts tokenize pass (the top-k itself is
      // vocab-bounded)
      "q207_nb_evidence",
      // r12: the ingest capstone composes seven corpus-proportional
      // rungs (segments, exact class, LSH probe, 13/3-gram layers, NB
      // gate, PSI, re-plan rollup) — ITS x10 point is the composition's
      // scale sentinel, not the members'
      "q208_ingest_capstone")
    val scaledResults: Seq[Measure] =
      if (only.isDefined || !new java.io.File(scaledDir).isDirectory) Seq()
      else scaledNames.flatMap { n =>
        SparkEntry.queries.get(n).map { fn =>
          measure("x10_" + n, force(fn(spark, scaledDir)))
        }
      }

    // IVF at a REALISTIC cell count (round-3 VERDICT item 6): k=256 cells,
    // nprobe=8 over the x10 embeddings — the size where the old when-fold
    // assignment fell out of codegen and the graft_argmax_cosine kernel is
    // the difference between compiled and interpreted per-row assignment.
    val ivf256Results: Seq[Measure] =
      if (only.isDefined || !new java.io.File(scaledDir).isDirectory) Seq()
      else try {
        import org.apache.spark.sql.functions.col
        import graft.operators.IvfIndex
        val emb = spark.read.parquet(s"$scaledDir/embeddings.parquet")
        val probe = emb.filter(col("vec_id") === 0)
          .select("embedding").head().getSeq[Float](0)
        val corpus = emb.filter(col("vec_id") =!= 0)
        // buckets=1: at 20k rows the default 8 buckets × 256 cells writes
        // 2k tiny files and the build line measures filesystem overhead,
        // not assignment cost (a real corpus keeps bucketing)
        val mBuild = measure("x10_ann_ivf256_index_build",
          IvfIndex.build(
            corpus, "vec_id", "embedding", "bench_ivf256_idx",
            numCells = 256, buckets = 1))
        val m = measure("x10_ann_ivf256_index_query",
          force(IvfIndex.topKIndexed(spark, "bench_ivf256_idx",
            "vec_id", "embedding", probe, k = 10, nprobe = 8)))
        Seq(mBuild, m)
      } catch { case _: Throwable =>
        Seq("x10_ann_ivf256_index_build", "x10_ann_ivf256_index_query")
          .map(Measure(_, -1.0, Seq(), 0.0, (System.nanoTime() - suiteT0) / 1e9))
      }

    val floorPost = measureFloor()

    // Post-hoc stall healing (r6 VERDICT item 1): one external box stall
    // can span all 3 samples, so the per-query median cannot clear
    // itself (the r6 artifact carried q83 4.30 s / q84 4.41 s against a
    // clean 0.43 / 0.97). After the suite, every line whose median is
    // >= 1.0 s gets ONE probe run; if the probe lands under median/1.5
    // the line is fully re-measured and the SMALLER median wins (a
    // stall only inflates — a genuinely slow query re-measures the
    // same). Lines with intra-run bimodality (median > 3x their own
    // minimum sample) skip the probe and re-measure directly. The
    // append lines are excluded (each run mutates the index). Healed
    // names land in "suspect" — the artifact's number is clean, but the
    // original window was polluted and the telemetry "rerun" map keeps
    // the before/after evidence.
    // decision rules live in HealPolicy (unit-tested, Spark-free)
    val noRerun = Set("x_ann_ivf_append", "x_ann_ivfpq_append")
    // Cross-round regression probes (r7 VERDICT item 1): the previous
    // round's compact medians are the third flagging signal. Source:
    // SPARK_GRAFT_PRIOR_BENCH (path to a driver BENCH_r{N}.json
    // envelope or a raw compact line), default = the highest-numbered
    // BENCH_r*.json in the repo root. Absent/unparsable => no cross-
    // round flags (first round, foreign box) — never an error.
    val (priorMedians: Map[String, Double], priorFloor: Option[Double]) = try {
      val path = sys.env.get("SPARK_GRAFT_PRIOR_BENCH").orElse {
        val repo = new java.io.File("/root/repo")
        Option(repo.listFiles()).map(_.toSeq).getOrElse(Seq())
          .map(_.getName)
          .flatMap { n =>
            "^BENCH_r(\\d+)\\.json$".r.findFirstMatchIn(n)
              .map(m2 => (m2.group(1).toInt, s"/root/repo/$n"))
          }
          .sortBy(-_._1).headOption.map(_._2)
      }
      path.fold((Map.empty[String, Double], Option.empty[Double])) { p =>
        val json = new String(
          java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)),
          java.nio.charset.StandardCharsets.UTF_8)
        (HealPolicy.priorMedians(json), HealPolicy.priorFloor(json))
      }
    } catch { case _: Throwable => (Map.empty[String, Double], None) }
    // hot-box self-identification (r9, VERDICT #5): the pre-suite
    // floor's ratio to the prior artifact's floor rides the compact
    // line — a uniformly hot sweep (r8: 1.57x, 17 code-untouched lines
    // flagged) then reads as box state without judge cross-referencing
    val floorR = HealPolicy.floorRatio(floor, priorFloor)
    val floorRJson = floorR.map(r => f"$r%.2f").getOrElse("null")

    // r10 (r9 VERDICT #2): cross-round-regressed lines used to leave
    // ZERO trace when their probe read high — q52's confirmed 2.6x was
    // invisible because "suspect" only names healed (= polluted)
    // windows. Every regressed-flagged line now logs its full evidence
    // [prior, original median, probe (-1 = none ran), final median];
    // lines whose FINAL median still clears the regression bar are
    // confirmed regressions and ride the compact line as "regr".
    val regrLog =
      scala.collection.mutable.LinkedHashMap.empty[String, (Double, Double, Double, Double)]

    def heal(m: Measure): (Measure, Option[Double]) = {
      if (noRerun(m.name)) return (m, None)
      val prior =
        priorMedians.get(HealPolicy.canonKey(HealPolicy.shortName(m.name)))
      val isRegr = HealPolicy.regressed(m.median, prior)
      def logRegr(probe: Double, fin: Double): Unit =
        if (isRegr) regrLog(m.name) = (prior.get, m.median, probe, fin)
      if (!HealPolicy.flagged(m.median, m.samples) && !isRegr)
        return (m, None)
      val thunk = thunks.getOrElse(m.name, { logRegr(-1, m.median); return (m, None) })
      var probeVal = -1.0
      val remeasure = HealPolicy.bimodal(m.median, m.samples) || {
        val p = try Meter.time(thunk()) catch {
          case _: Throwable => logRegr(-1, m.median); return (m, None)
        }
        probeVal = p
        HealPolicy.probeConfirms(p, m.median)
      }
      if (!remeasure) { logRegr(probeVal, m.median); return (m, None) }
      val again = measure(m.name, thunk())
      if (again.median >= 0 && again.median < m.median) {
        logRegr(probeVal, again.median)
        (again.copy(atSec = m.atSec), Some(m.median))
      } else { logRegr(probeVal, m.median); (m, None) }
    }
    val healedPairs = (results ++ annResults ++ jsonResults ++ asofResults ++
      ingestStateResults ++ scaledResults ++ ivf256Results).map(heal)
    val all = healedPairs.map(_._1)
    val rerunEvidence = healedPairs.collect {
      case (m, Some(orig)) => m.name -> ((orig, m.median))
    }
    val confirmedRegrAll = regrLog.collect {
      case (n, (prior, _, _, fin))
          if HealPolicy.confirmedRegression(fin, Some(prior)) =>
        HealPolicy.shortName(n)
    }.toSeq.distinct
    // r11 (VERDICT r10 what's-wrong #1): the take(6) cap silently
    // truncated evidence the round it was exactly full — the final
    // line now always carries the TOTAL confirmed count ("regr_n"),
    // so saturation is visible from the artifact alone.
    val regrN = confirmedRegrAll.size
    val confirmedRegr = confirmedRegrAll.take(6)
    // base names shorten to the compact line's own qNN keys; extras
    // (x10_/x_ann_) keep full names; capped so a stall-heavy round
    // cannot overflow the 1900-char tail budget (fallback below drops
    // the list entirely if it still would)
    val suspects = rerunEvidence.collect {
      case (n, (orig, fin)) if HealPolicy.suspect(orig, fin) =>
        HealPolicy.shortName(n)
    }.distinct.take(6)
    val baseNames = results.map(_.name).toSet
    val healedBase = all.filter(m => baseNames(m.name))

    def fmtMap(f: Measure => String): String =
      all.map(m => "\"" + m.name + "\":" + f(m)).mkString("{", ",", "}")
    val qs = fmtMap(_.median.toString)
    val samples = fmtMap(_.samples.mkString("[", ",", "]"))
    val gcs = fmtMap(m => f"${m.gcSec}%.3f")
    val ats = fmtMap(m => f"${m.atSec}%.3f")
    val reruns = rerunEvidence
      .map { case (n, (o, f2)) => "\"" + n + "\":[" + f"$o%.3f,$f2%.3f" + "]" }
      .mkString("{", ",", "}")
    val regrMap = regrLog
      .map { case (n, (p, o, pr, f2)) =>
        "\"" + n + "\":[" + f"$p%.3f,$o%.3f,$pr%.3f,$f2%.3f" + "]" }
      .mkString("{", ",", "}")
    val suspectJson = suspects.map("\"" + _ + "\"").mkString("[", ",", "]")
    val regrJson = confirmedRegr.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = healedBase.map(_.median).filter(_ >= 0).sum
    // Round-3/4 post-mortem: the driver's artifact keeps only a ~2000-char
    // tail of stdout. Round 3 lost the medians to the telemetry maps;
    // round 4's compact line still overflowed at 109 base + 30 x10 + 10
    // extra entries with full query names and 9-decimal doubles (~5 KB).
    // Fix (VERDICT r4 item 1): the FINAL printed line carries the BASE
    // suite only, keyed by the short "qNN" prefix, at 3 decimals —
    // ~109 × 13 chars ≈ 1.4 KB, guaranteed to survive the tail whole.
    // Everything else (telemetry maps, x10/x_ann/x_json lines with full
    // names) prints on EARLIER lines; nothing should SUM across lines.
    println(s"""{"metric":"total","value":$total,"unit":"sec","floor":$floor,"floor_post":$floorPost,"floor_r":$floorRJson,"rerun":$reruns,"regr":$regrMap,"samples":$samples,"gc_sec":$gcs,"at_sec":$ats,"queries":$qs,"sf":"$sfDir"}""")
    // The full-name medians line is what the driver's per-query
    // round-over-round comparison reads (PERF_r13 parsed it; PERF_r13's
    // *prev* side failed because the r12 artifact captured only the
    // final positional line — VERDICT r13 #2 orders this line shrunk
    // while the suite is at 318 entries). Two measures, same medians:
    // 3-decimal values (1 ms resolution, ~2 KB off the line; full
    // precision stays on the telemetry line above) and the line printed
    // TWICE back-to-back so one corrupted/truncated copy cannot erase
    // the round's per-query evidence — identical duplicates are a no-op
    // for any first- or last-wins line parser, and nothing sums across
    // lines.
    val qs3 = fmtMap(m => f"${m.median}%.3f")
    val mediumLine = s"""{"metric":"total","value":$total,"unit":"sec","floor":$floor,"floor_post":$floorPost,"floor_r":$floorRJson,"rerun":$reruns,"regr":$regrMap,"queries":$qs3,"sf":"$sfDir"}"""
    println(mediumLine)
    println(mediumLine)
    // The compact line (VERDICT r10 #1): the 1900-char require below
    // guards the driver's ~2000-char tail. Numeric base keys leave the
    // line entirely — the key SET encodes once as a range spec
    // ("qn":"1-81,83-203") and the centisecond medians ("vf":"cs") ride
    // a positional array in ascending-key order; the two non-numeric
    // train keys ride the tiny "qx" object at their short forms.
    // Measured at the 204-entry r10 surface: ~1010 chars. If the line
    // with the suspect/regr lists overflows, the lists drop (the
    // telemetry line keeps the full regr evidence map); if it still
    // overflows, the require fires — never raise the limit.
    def renderFinal(susp: String, regr: String): Option[String] = {
      val keyed = healedBase.map { m =>
        (HealPolicy.shortName(m.name), math.round(m.median * 100))
      }
      HealPolicy.arrPayload(keyed).map { case (qn, qv, qx) =>
        f"""{"metric":"total","value":$total%.3f,"unit":"sec","floor":$floor%.3f,"floor_post":$floorPost%.3f,"floor_r":$floorRJson%s,"kf":"arr","vf":"cs","suspect":$susp%s,"regr":$regr%s,"regr_n":$regrN%d,"qn":"$qn%s","queries":$qv%s,"qx":$qx%s,"sf":"$sfDir"}"""
      }
    }
    val finalLine = renderFinal(suspectJson, regrJson).filter(_.length < 1900)
      .orElse(renderFinal("[]", "[]"))
      .getOrElse(sys.error("compact bench line: duplicate numeric query keys"))
    require(finalLine.length < 1900,
      s"final bench line ${finalLine.length} chars >= 1900 — would be tail-truncated")
    println(finalLine)
    spark.stop()
  }
}
