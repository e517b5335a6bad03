package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Amortized decontamination smoke (round 8) — measures the claim the
  * x100 bloom dossier could only state structurally: the
  * partitioned-bloom path is the AMORTIZED shape, paying off when the
  * distinct train shingles and the bitmaps are materialized ONCE and
  * many probe batches stream through. Per batch:
  *
  *  - **plain**: batch shingles (distinct) exact-semi-joined against
  *    the materialized train-shingle table — the train side re-enters
  *    a shuffle join every batch;
  *  - **bloom**: batch shingles co-partitioned against the persisted
  *    bitmap table ([[graft.operators.BloomFilters.probePartitionedBitmaps]]),
  *    survivors (tiny at any real miss rate) verified against the same
  *    train table — AQE broadcasts the survivors, so the train side is
  *    scanned but never shuffled.
  *
  * Both paths read identical persisted inputs and must produce the
  * identical dirty list (asserted per batch). Run:
  * `tools/run_class.sh graft.DecontamWarehouseSmoke <dir>`; results in
  * BASELINE.md §"amortized decontamination".
  */
object DecontamWarehouseSmoke {

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val batches = args.lift(1).map(_.toInt).getOrElse(5)
    val spark = GraftSession.start(GraftSession.bench(GraftSession.cpus(32)))
    val meter = Meter(spark)
    // result, wall seconds, shuffle write MB
    def timed[T](f: => T): (T, Double, Double) = {
      val (res, r) = meter(f)
      (res, r.sec, r.writeMb)
    }

    val tmp = java.nio.file.Files.createTempDirectory("graft-decontam").toString
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    def shinglesOf(df: DataFrame): DataFrame = df.select(col("doc_id"),
      explode(call_function("graft_shingles", col("text"), lit(13)))
        .as("shingle"))

    // one-time warehouse build: distinct train shingles + bitmaps
    val (_, buildTrainSec, buildTrainMb) = timed {
      shinglesOf(docs.filter(col("doc_id") % 10 =!= 0))
        .select(col("shingle")).distinct()
        .write.mode("overwrite").parquet(s"$tmp/train_shingles")
    }
    val trainTable = spark.read.parquet(s"$tmp/train_shingles")
    val (_, buildBloomSec, buildBloomMb) = timed {
      graft.operators.BloomFilters.buildPartitionedBitmaps(
          trainTable, "shingle",
          expectedItemsPerPart = 262144L, numBitsPerPart = 262144L * 16,
          numPartitions = 64)
        .write.mode("overwrite").parquet(s"$tmp/bitmaps")
    }
    val bitmaps = spark.read.parquet(s"$tmp/bitmaps")

    val lines = Seq.newBuilder[String]
    lines += f""""build":{"train_sec":$buildTrainSec%.2f,"train_mb":$buildTrainMb%.1f,"bloom_sec":$buildBloomSec%.2f,"bloom_mb":$buildBloomMb%.1f}"""

    (0 until batches).foreach { b =>
      val batch = docs.filter(col("doc_id") % 10 === 0 &&
        (col("doc_id") / 10) % batches === b)
      def evalSh = shinglesOf(batch)
        .select(col("doc_id"), col("shingle")).distinct()
      // INNER join, not left_semi (q153's own shape: the train table is
      // distinct so multiplicities are 1). The bloom path broadcasts its
      // survivors EXPLICITLY — they are miss-pruned to near the true-hit
      // count, which is the structural guarantee the bitmap buys, and
      // the hint is what actually keeps the train side un-shuffled (AQE
      // alone converts to a broadcast join only AFTER the train shuffle
      // is written, so the bytes are already paid — measured: 872 MB/
      // batch with AQE's conversion vs batch-sized with the hint). The
      // plain path cannot make that promise about its probe side — at
      // production scale the eval batch is exactly what might NOT fit a
      // broadcast — so it keeps the default plan.
      def dirtyOf(survivors: DataFrame, hintSmall: Boolean): Array[(Long, Long)] = {
        import spark.implicits._
        val s = if (hintSmall) broadcast(survivors) else survivors
        trainTable.join(s, Seq("shingle"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n"))
          .as[(Long, Long)].collect().sorted
      }
      val (plainRes, plainSec, plainMb) =
        timed(dirtyOf(evalSh, hintSmall = false))
      val (bloomRes, bloomSec, bloomMb) = timed {
        dirtyOf(graft.operators.BloomFilters.probePartitionedBitmaps(
          bitmaps, evalSh, "doc_id", "shingle", numPartitions = 64),
          hintSmall = true)
      }
      require(plainRes.toSeq == bloomRes.toSeq,
        s"batch $b: bloom dirty list diverges from plain")
      lines += f""""batch$b":{"plain_sec":$plainSec%.2f,"plain_mb":$plainMb%.1f,"bloom_sec":$bloomSec%.2f,"bloom_mb":$bloomMb%.1f,"dirty":${plainRes.length}}"""
    }
    println(s"""{"dir":"$dir",${lines.result().mkString(",")}}""")
    spark.stop()
  }
}
