package graft

import org.apache.spark.sql.execution.ExplainMode

/** Dev tool: for named SparkEntry queries, print a few operator counts of
  * the executed plan and write its `.explain("formatted")` output to a
  * file — the before/after plan evidence the optimization protocol
  * requires (plans/rNN/<query>_before.txt / _after.txt).
  *
  * Usage: tools/run_class.sh graft.PlanFormat <q1,q2,...|all> <sfDir> <outDir> [suffix]
  *
  * Writes <outDir>/<query>_<suffix>.txt (suffix defaults to "plan").
  * The session is the Bench preset, so the dumped plan is the one the
  * bench executes.
  */
object PlanFormat {

  // word-start anchored: a bare "Exchange" substring would also match
  // every ReusedExchange/BroadcastExchange, inflating the one count
  // this tool exists to report (the shuffle exchange)
  private val Counted = Seq("ReusedExchange", "Exchange", "FileScan parquet",
    "graft_shingles", "BroadcastExchange", "WindowExec", "SortMergeJoin",
    "BroadcastHashJoin")

  def main(args: Array[String]): Unit = {
    val names = args(0)
    val sfDir = args(1)
    val outDir = args(2)
    val suffix = if (args.length > 3) args(3) else "plan"
    val spark = GraftSession.start(GraftSession.bench(GraftSession.cpus(32)))
    val selected =
      if (names == "all") SparkEntry.queries.keys.toSeq.sorted
      else names.split(",").map(_.trim).toSeq
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    selected.foreach { name =>
      try {
        val qe = SparkEntry.queries(name)(spark, sfDir).queryExecution
        val plan = qe.executedPlan.toString
        println(name + Counted.map(k =>
          s"  $k=${s"(?<![A-Za-z])$k".r.findAllIn(plan).size}").mkString)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"),
          qe.explainString(ExplainMode.fromString("formatted"))
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      } catch {
        case e: Throwable => println(s"FAILED $name: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
