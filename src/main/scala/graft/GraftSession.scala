package graft

import org.apache.spark.sql.SparkSession

/** The one place a local SparkSession is built. Every main and the spec
  * session start from [[base]]; the timing tools (Bench, PlanFormat,
  * DevProbe and the scale smokes) add the [[bench]] preset so the plan
  * they print or time is the plan the bench executes.
  *
  * The settings are plain maps so a Spark-free spec can pin them. */
object GraftSession {

  /** Core count from SPARK_GRAFT_CPUS, else the tool's default. */
  def cpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(default)

  def base(cpus: Int): Map[String, String] = Map(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    // events.ts is parquet TIMESTAMP(NANOS) which Spark has no native
    // type for — surface it as nanos-since-epoch long.
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.extensions" -> "graft.plans.GraftExtensions",
    "spark.ui.enabled" -> "false")

  def bench(cpus: Int): Map[String, String] = base(cpus) ++ Map(
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.autoBroadcastJoinThreshold" -> (64 * 1024 * 1024).toString,
    // Bench-scale split sizing: the sf0.1 tables are single ~10-30 MB
    // parquet files — at the 128 MB default each scan is ONE task and
    // CPU-bound queries run single-threaded. 4 MB splits engage the
    // cores; a real cluster at 100 TB keeps the default (row groups
    // there are plentiful).
    "spark.sql.files.maxPartitionBytes" -> (4 * 1024 * 1024).toString,
    "spark.sql.files.openCostInBytes" -> (1024 * 1024).toString,
    // CPU-heavy text tables (documents ≈ 6 MB at the 10× point) would
    // otherwise get 1-2 splits — force at least one split per core so
    // row-local scans engage the full machine
    "spark.sql.files.minPartitionNum" -> cpus.toString)

  /** `settings` plus a managed-table location. A fresh one per session:
    * the in-memory catalog forgets tables at exit but their files
    * survive, and a re-run's saveAsTable would die on
    * LOCATION_ALREADY_EXISTS. */
  def withWarehouse(settings: Map[String, String], dir: String): Map[String, String] =
    settings + ("spark.sql.warehouse.dir" -> dir)

  def start(settings: Map[String, String]): SparkSession = {
    val wh = java.nio.file.Files.createTempDirectory("graft-wh").toString
    val spark = SparkSession.builder().config(withWarehouse(settings, wh)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
