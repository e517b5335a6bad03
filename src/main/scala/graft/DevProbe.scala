package graft

/** Dev tool: run named SparkEntry queries once each through the noop
  * sink and print what each pays — wall time, driver jobs, stages,
  * tasks and shuffle write/read MB, plus its row count — as one JSON
  * line. The evidence for byte-diet and action-fusion changes whose
  * wall delta sits inside local-mode noise.
  *
  * Usage: tools/run_class.sh graft.DevProbe <sfDir> <q1,q2,...|events>
  *
  * `events` is the event-pipeline scale set (round-4 VERDICT item 4):
  * run it against any directory holding an `events.parquet` to check
  * that the event-analytics shapes hold as the stream grows 100×. The
  * claims are partitioning claims: q57's sessionization and q86's
  * funnel shuffle each event exactly once (shuffle bytes ∝ stream),
  * q87's distinct (user, day) collapse bounds its join input by
  * users×days, and q91's per-day pre-aggregate shuffles the collapsed
  * (user, day) table, not the stream. A shape that re-shuffled a join
  * product or re-expanded the stream would show super-linear shuffle
  * bytes here before it showed a wall-time cliff on a cluster. The
  * x100 table is events-only (user/event ids offset per replica — user
  * count grows 100×, events per user stay constant, matching a
  * production stream's growth mode), generated ad hoc, ~135 MB parquet,
  * not kept in git. Results recorded in BASELINE.md §"x100 event smoke".
  */
object DevProbe {

  val EventQueries = Seq("q57_sessionization", "q86_event_funnel",
    "q87_retention_cohorts", "q91_moving_window",
    // r5 history family: q122's two-window SCD2 build and q129's
    // incremental apply (whose shuffle must track open-keys + batch,
    // NOT history depth — the claim to watch here)
    "q122_scd2_history", "q129_scd2_increment",
    "q131_time_weighted_avg")

  def main(args: Array[String]): Unit = {
    val Array(sfDir, list) = args
    val names = if (list == "events") EventQueries else list.split(",").map(_.trim).toSeq
    val spark = GraftSession.start(GraftSession.bench(GraftSession.cpus(32)))
    val lines = Meter(spark).queries(sfDir, names)
    println(s"""{"dir":"$sfDir",${lines.mkString(",")}}""")
    spark.stop()
  }
}
