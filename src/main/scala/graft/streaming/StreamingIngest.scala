package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.etl.{IngestCapstone, SideLegs}
import graft.etl.IngestCapstone.IngestState
import graft.operators.{Dedup, NaiveBayes, SegmentDedup}

/** Streaming twin of the q208 ingest capstone — the form a 100-TB
  * pipeline actually deploys: documents arrive as a stream; each
  * micro-batch runs the FULL verdict ladder (the one
  * [[IngestCapstone.ingestDecisionsFromState]] runs) against the state
  * accumulated from everything previously ACCEPTED, writes its
  * decision table and, alongside it, ONLY its kept docs' state deltas —
  * each delta in the member rung's own mergeable shape (distinct
  * segment hashes, min-merge exact classes, band rows, doc rows,
  * additive NB counts) — and REPLACES the shard plan with the
  * budgeted re-plan's output (plan state is path-dependent by
  * design: the movement budget is the q206 product feature).
  *
  * Warehouse layout under `warehouseDir` (all parquet):
  *  - static, written once by [[bootstrap]]: `config/` (structural
  *    tunables), `bench13/`, `bench3/` (decontamination shingle
  *    sets), `ref_bins/` (the bootstrap PSI reference snapshot);
  *  - accumulating, one `batch=<id>` partition per micro-batch
  *    (bootstrap state rides `batch=-1`): `seg_hashes/`,
  *    `exact_classes/`, `bands/`, `docs/`, `word_counts/`,
  *    `doc_counts/`, `bin_deltas/`, `plan/`, `decisions/`.
  *
  * PSI reference policy (r13, VERDICT r12 #4 — `refreshEvery` in the
  * persisted config): with `refreshEvery = 0` (default) every batch
  * gates against the FIXED bootstrap reference — the StreamingDrift
  * posture, where the `decisions/` history IS the drift trajectory
  * away from a pinned baseline. With `refreshEvery = R > 0` the
  * reference is the ACCEPTED corpus as of the last R-batch boundary:
  * batch B gates against `ref_bins` merged with the kept docs'
  * `bin_deltas` of every batch < B − (B mod R) (counts add — the
  * q205 mergeable-bin contract makes the refresh one bounded
  * bin-count rollup, never a document re-scan). R = 1 reproduces the
  * self-contained q208 posture exactly: every batch gates against
  * the full current accepted corpus (StreamingIngestSpec pins it
  * chunk-for-chunk); larger R trades alert latency for a stabler
  * baseline. A deployment refreshes when it wants "drift vs what we
  * now ship" rather than "drift vs launch" — after a deliberate
  * distribution change (new source onboarded, re-balance) pick small
  * R so the alert re-anchors; during an incident investigation pin
  * R = 0 so the trajectory stays comparable. Replay-safe: the
  * boundary is a pure function of B and the `bin_deltas` read takes
  * `batch < boundary ≤ B`, so a replayed batch recomputes the same
  * reference (its own partial delta is invisible to it).
  *
  * Replay-idempotent (the r11 StreamingClassify convention): every
  * write targets the batch's OWN partition dir with mode overwrite,
  * and every state read takes `batch < batchId` — a foreachBatch
  * replay after restart replaces its earlier (possibly partial)
  * output instead of double-counting, and is blind to its own
  * partial state rows. The plan read takes the LATEST partition
  * before the batch.
  *
  * Per-batch job floor (r15): the sink reads every state relation with
  * its known shape ([[stateSchemas]], the shapes [[bootstrap]] writes),
  * so no read pays Spark's schema-inference job; it pins the batch
  * once, for the ladder and the deltas, and the verdicts once, for the
  * re-plan, the decision table and the kept rows; it persists the
  * re-plan the decisions were routed by, so a batch re-plans once; and
  * it writes the decision table and the eight state deltas concurrently
  * on a small driver pool ([[graft.etl.SideLegs]]). Each write is still
  * an overwrite of its own `batch=<id>` partition, and all of them are
  * awaited before the sink returns, so replay stays idempotent; a
  * failing write cancels the others and fails the batch with its own
  * error.
  *
  * Batch equivalence (StreamingIngestSpec's chunked replay, pinned to
  * the oracle-green q208 operator): each chunk's verdict/evidence
  * columns equal `ingestDecisions(initial ∪ kept-so-far, chunk,
  * benchmark)`; its `psi_e9` equals the member gate against the fixed
  * reference; its routes equal `replanShards(previous plan, its kept
  * docs)`. The psi/route columns deviate from the self-contained q208
  * query DELIBERATELY: q208 re-derives ref bins and a fresh LPT from
  * its (static) warehouse, a deployment gates against a pinned (or
  * R-boundary-refreshed — see the policy above; `refreshEvery = 1`
  * closes the psi leg of this deviation and the spec pins THAT
  * against the accepted-corpus gate chunk-for-chunk) reference and
  * carries a movement-budgeted plan forward.
  *
  * NB model note: scoring merges the SURVIVORS' counts transiently
  * (the q195 semantics — a doc is scored by a model that has seen its
  * batch's survivors); only KEPT docs' counts persist, because the
  * warehouse is the accepted corpus (an nb_disagrees doc routes to
  * review, not into tomorrow's priors).
  */
object StreamingIngest {

  /** Write the static references and the initial accepted-corpus
    * state (as `batch=-1` partitions) — REQUIRED before the stream
    * starts. `warehouse` may be empty-but-schema'd for a cold start.
    *
    * The STRUCTURAL parameters — `numShards` (how many slots the plan
    * routes into) and `psiBinWidth` (the binning every PSI comparison
    * against `ref_bins` must share) — are persisted to `config/` and
    * read back by [[ingestSink]], so a warehouse bootstrapped with
    * non-default values can never be probed with mismatched binning or
    * re-planned into the wrong slot count (r13 ADVICE: the sink used
    * to hard-wire its own defaults). */
  def bootstrap(warehouseDir: String, warehouse: DataFrame,
                benchmark: DataFrame, idCol: String, labelCol: String,
                sourceCol: String, textCol: String, weightCol: String,
                numShards: Int = 4, psiBinWidth: Long = 100L,
                refreshEvery: Int = 0): Unit = {
    val st = IngestCapstone.ingestState(warehouse, benchmark, idCol,
      labelCol, sourceCol, textCol, weightCol, numShards, psiBinWidth)
    config(warehouse.sparkSession, numShards, psiBinWidth, refreshEvery)
      .coalesce(1).write.mode("overwrite").parquet(s"$warehouseDir/config")
    stateDirs(st, sourceCol).foreach { case (dir, df) =>
      df.write.mode("overwrite").parquet(
        if (StaticDirs(dir)) s"$warehouseDir/$dir"
        else s"$warehouseDir/$dir/batch=-1")
    }
  }

  /** The one `config/` row [[bootstrap]] persists. */
  private def config(spark: SparkSession, numShards: Int, psiBinWidth: Long,
                     refreshEvery: Int): DataFrame = {
    import spark.implicits._
    Seq((numShards, psiBinWidth, refreshEvery))
      .toDF("num_shards", "psi_bin_width", "refresh_every")
  }

  /** State directories written once, not per batch. */
  private val StaticDirs = Set("bench13", "bench3", "ref_bins")

  /** Each state directory [[bootstrap]] writes, with its relation. */
  private def stateDirs(st: IngestState,
                        sourceCol: String): Seq[(String, DataFrame)] = Seq(
    "bench13" -> st.bench13,
    "bench3" -> st.bench3,
    "ref_bins" -> st.refBins,
    "seg_hashes" -> st.segmentHashes,
    "exact_classes" -> st.exactClasses,
    "bands" -> st.lshBands,
    "docs" -> st.docs,
    "word_counts" -> st.nbWordCounts,
    "doc_counts" -> st.nbDocCounts,
    "plan" -> st.existingPlan.select(col(sourceCol), col("weight"),
      col("shard")))

  /** The persisted state's column shapes, one per directory (the
    * `batch` partition column excluded): the schemas of the relations
    * [[bootstrap]] writes, built over `batch` with no rows, so the rung
    * writers stay the one definition of each shape (`bin_deltas` holds
    * `ref_bins`' shape; parquet reads every column back nullable). The
    * sink reads each state relation with these, so no read pays Spark's
    * schema-inference job (one parquet-footer job per relation). */
  private[streaming] def stateSchemas(batch: DataFrame, idCol: String,
                                      labelCol: String, sourceCol: String,
                                      textCol: String,
                                      weightCol: String): Map[String, StructType] = {
    val none = batch.limit(0)
    val shapes = (stateDirs(IngestCapstone.ingestState(none, none, idCol,
        labelCol, sourceCol, textCol, weightCol), sourceCol) :+
      ("config" -> config(batch.sparkSession, 1, 1L, 0)))
      .map { case (dir, df) =>
        dir -> StructType(df.schema.map(_.copy(nullable = true))) }
      .toMap
    shapes + ("bin_deltas" -> shapes("ref_bins"))
  }

  /** foreachBatch sink against the warehouse under `warehouseDir`.
    *
    * `numShards`/`psiBinWidth` are NOT parameters: they are read from
    * the warehouse's persisted `config/` (written by [[bootstrap]]),
    * so per-batch PSI is always computed with the binning `ref_bins`
    * was built with and re-plans always target the bootstrapped slot
    * count. The remaining knobs are batch-time POLICY (alert level,
    * movement budget, verify threshold) and stay caller-tunable. */
  def ingestSink(warehouseDir: String, idCol: String, labelCol: String,
                 sourceCol: String, textCol: String, weightCol: String,
                 maxMoves: Int = 2, psiAlertE9: Long = 100000000L,
                 lshThreshold: Double = 0.3)
                (batchDf: DataFrame, batchId: Long): Unit = {
    val spark = batchDf.sparkSession
    require(WarehouseFs.exists(spark, s"$warehouseDir/config"),
      s"StreamingIngest needs the bootstrapped warehouse at $warehouseDir" +
        " — call bootstrap(...) before starting the stream")
    // decided AND mined for state deltas — pinned once, for both
    val batch = batchDf
      .select(col(idCol), col(labelCol), col(sourceCol), col(textCol),
        col(weightCol))
      .localCheckpoint(true)
    val schemas = stateSchemas(batch, idCol, labelCol, sourceCol, textCol,
      weightCol)
    def read(dir: String, partition: String = ""): DataFrame =
      spark.read.schema(schemas(dir)).parquet(s"$warehouseDir/$dir$partition")
    def readPrefix(dir: String, before: Long = batchId): DataFrame =
      spark.read.schema(schemas(dir).add("batch", LongType))
        .parquet(s"$warehouseDir/$dir")
        .where(col("batch") < before)
        .select(schemas(dir).fieldNames.map(col): _*)
    val cfg = read("config").head()
    val numShards = cfg.getAs[Int]("num_shards")
    val psiBinWidth = cfg.getAs[Long]("psi_bin_width")
    val refreshEvery = cfg.getAs[Int]("refresh_every")
    // rolling PSI reference (scaladoc policy): bootstrap bins merged
    // with kept-doc bin deltas up to the last refresh boundary
    val boundary =
      if (refreshEvery <= 0) 0L else batchId - (batchId % refreshEvery)
    val refBins0 = read("ref_bins")
    val refBins =
      if (boundary <= 0 ||
          !WarehouseFs.exists(spark, s"$warehouseDir/bin_deltas")) refBins0
      else graft.operators.DriftMonitor.mergeBinCounts(refBins0,
        readPrefix("bin_deltas", boundary))
    // the plan is replaced, not merged: list the partition directories
    // to find the latest one before this batch, then read ONLY it —
    // plan history grows one partition per batch, so scanning the full
    // history's rows every micro-batch is O(batches) for a 1-partition
    // answer (r13 ADVICE; bootstrap always writes batch=-1)
    val lastPlan = WarehouseFs.listPartitionIds(
        spark, s"$warehouseDir/plan", "batch")
      .filter(_ < batchId)
      .reduceOption(_ max _).getOrElse(-1L)
    val state = IngestState(
      segmentHashes = readPrefix("seg_hashes"),
      exactClasses = readPrefix("exact_classes"),
      lshBands = readPrefix("bands"),
      docs = readPrefix("docs"),
      bench13 = read("bench13"),
      bench3 = read("bench3"),
      nbWordCounts = readPrefix("word_counts"),
      nbDocCounts = readPrefix("doc_counts"),
      refBins = refBins,
      existingPlan = read("plan", s"/batch=$lastPlan"))
    // the verdicts feed the re-plan, the decision table and the kept
    // rows — pinned once, so the NB scoring pass runs once
    val verdicts = IngestCapstone.verdicts(state, batch, idCol, labelCol,
      sourceCol, textCol, weightCol, psiBinWidth, lshThreshold)
    val pinned = verdicts.copy(rows = verdicts.rows.localCheckpoint(true))
    val routed = IngestCapstone.route(pinned, state.existingPlan, idCol,
      sourceCol, weightCol, numShards, maxMoves, psiAlertE9)
    // only the ACCEPTED docs enter the warehouse state
    val kept = batch.join(
        pinned.rows.filter(col("verdict") === "kept").select(col(idCol)),
        Seq(idCol), "left_semi")
      .localCheckpoint(true)
    val writes = Seq(
      "decisions" -> routed.decisions,
      "seg_hashes" -> SegmentDedup.segmentHashState(
        IngestCapstone.lined(kept, idCol, textCol), "__lined", "\n"),
      "exact_classes" -> kept
        .select(md5(Dedup.normalized(col(textCol))).as("__nh"), col(idCol))
        .groupBy(col("__nh")).agg(min(col(idCol)).as("__m")),
      "bands" -> Dedup.lshBandWarehouse(kept, idCol, textCol),
      "docs" -> kept.select(col(idCol), col(textCol)),
      "word_counts" -> NaiveBayes.wordCounts(kept, labelCol, textCol),
      "doc_counts" -> NaiveBayes.docCounts(kept, labelCol),
      // written under EVERY policy (cheap, mergeable by addition) so a
      // warehouse can switch to a rolling reference without backfill
      "bin_deltas" -> graft.operators.DriftMonitor.binCounts(kept,
        weightCol, psiBinWidth),
      // the re-plan the decisions were routed by, persisted WHOLE so the
      // next batch starts from it
      "plan" -> routed.plan)
    // independent overwrites of disjoint batch=<id> partitions, all
    // read from the pinned verdicts and kept rows: written concurrently,
    // every one awaited — or the call fails and cancels the rest — before
    // the sink returns
    SideLegs.run(spark) { legs =>
      legs.awaitAll(writes.map { case (dir, df) =>
        legs.fork(df.write.mode("overwrite")
          .parquet(s"$warehouseDir/$dir/batch=$batchId"))
      })
    }
  }

  /** Wire a document stream into the sink, forwarding the batch-time
    * policy knobs (structural numShards/psiBinWidth ride the persisted
    * `config/` — see [[ingestSink]]). Read decisions from
    * `<warehouseDir>/decisions`. */
  def run(docs: DataFrame, idCol: String, labelCol: String,
          sourceCol: String, textCol: String, weightCol: String,
          warehouseDir: String, checkpointDir: String,
          maxMoves: Int = 2, psiAlertE9: Long = 100000000L,
          lshThreshold: Double = 0.3): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(
        ingestSink(warehouseDir, idCol, labelCol, sourceCol, textCol,
          weightCol, maxMoves, psiAlertE9, lshThreshold) _)
      .start()
}
