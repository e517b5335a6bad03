package graft

import org.apache.spark.sql.functions._

/** Dedup-pipeline scale smoke (round-3 VERDICT item 7): measured evidence
  * that LSH candidate volume grows with corpus size ∝ duplicate density,
  * NOT quadratically, and that the iterative graph operators hold their
  * round counts as the corpus grows 100×.
  *
  * Run against any directory holding a `documents.parquet`
  * (`tools/run_class.sh graft.DedupScaleSmoke <dir>`); results for
  * sf0.1 / x10 / x100 are recorded in BASELINE.md §"x100 dedup smoke".
  * The x100 table is documents-only (token-salted replicas, same recipe
  * as gen_scaled_data.py) — generated ad hoc, ~60 MB parquet, not kept
  * in git.
  */
object DedupScaleSmoke {

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession.start(GraftSession.bench(GraftSession.cpus(32)))
    val meter = Meter(spark)
    import graft.operators.{ConnectedComponents, Dedup}

    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val nDocs = docs.count()

    // 1. band-bucket candidate volume, straight from the public signature
    //    pieces (same params as q69/q80/q88: 32 perms, 8 bands, 3-shingles)
    val sigs = Dedup.minHashSignaturesPortable(docs, "doc_id", "text", 32, 3)
    val buckets = sigs
      .select(posexplode(Dedup.bandHashesPortable(col("sig"), 8, 4)))
      .toDF("band", "bhash")
      .groupBy(col("band"), col("bhash")).agg(count(lit(1)).as("n"))
    // coalesce: on an empty documents table the sums/max aggregate to null
    val (bucketStats, sig) = meter {
      buckets.agg(
        coalesce(sum(when(col("n") <= 1000, expr("n * (n - 1) div 2"))
          .otherwise(0L)), lit(0L)).as("candidate_pairs"),
        coalesce(sum(when(col("n") > 1000, 1L).otherwise(0L)), lit(0L))
          .as("oversize_buckets"),
        coalesce(max(col("n")), lit(0L)).as("max_bucket")).head()
    }

    // 2. verified near-dup edges + component structure and round counts
    val pairs = Dedup.minHashLshPortable(docs, "doc_id", "text",
      numPerms = 32, numBands = 8, shingleN = 3, threshold = 0.3)
      .select(col("id_a").as("src"), col("id_b").as("dst"))
      .localCheckpoint(true)
    val nEdges = pairs.count()
    val nodes = docs.select(col("doc_id").as("id"))
    val ((labels, ccRounds), cc) =
      meter(ConnectedComponents.alternatingStarWithRounds(pairs, nodes))
    val comp = labels.groupBy(col("component")).agg(count(lit(1)).as("sz"))
      .agg(count(lit(1)).as("n_components"),
        coalesce(max(col("sz")), lit(0L)).as("max_cluster"))
      .head()

    // 3. the three oracle queries end-to-end at this scale
    val queryLines = meter.queries(dir,
      Seq("q69_near_dup_components", "q84_incremental_dedup", "q88_authority_rank"))

    println(
      s"""{"dir":"$dir","n_docs":$nDocs,""" +
        s""""candidate_pairs":${bucketStats.getLong(0)},""" +
        s""""oversize_buckets":${bucketStats.getLong(1)},""" +
        s""""max_bucket":${bucketStats.getLong(2)},""" +
        s""""verified_edges":$nEdges,"cc_rounds":$ccRounds,""" +
        s""""n_components":${comp.getLong(0)},"max_cluster":${comp.getLong(1)},""" +
        f""""sig_bucket_sec":${sig.sec}%.2f,"cc_sec":${cc.sec}%.2f,""" +
        queryLines.mkString(",") + "}")
    spark.stop()
  }
}
