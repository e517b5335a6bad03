package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew-join scale smoke: measured evidence that each skew operator
  * beats the plain shuffle join IN ITS OWN REGIME — and that using the
  * wrong operator for the regime loses, which is why both exist.
  *
  * Regime A (dim-vs-fact, salted's home): the events table keyed with
  * q109's funnel (70% of rows on key 0, rest uniform over 25 keys)
  * joined to a 10-rows-per-key dim slice. Salting replicates the tiny
  * dim `buckets`× for free and spreads the hot partition; hotSplit
  * pays 3 passes over the fact (detect, hot split, cold split) to
  * avoid a replication that was already free — wrong tool here.
  *
  * Regime B (fact-vs-fact, hotSplit's home): the same stream self-
  * keyed on event_id with 70% funneled onto one hot id, joined to the
  * full 1-row-per-event fact. The right side is as big as the left, so
  * salting's `buckets`× replication shuffles buckets×|right| rows —
  * the cost hotSplit avoids by broadcasting ONLY the hot slice (one
  * row) and shuffle-joining the cold remainder.
  *
  * Broadcast is DISABLED throughout: at synthetic sizes the dim (and
  * even the x10 fact) would auto-broadcast and no straggler could
  * form — the -1 threshold stands in for the production regime where
  * the other side is fact-sized and broadcast is impossible (hotSplit
  * still broadcasts its hot SLICE — a selective broadcast that
  * survives when the full-table broadcast cannot is the operator's
  * entire point). AQE and its skew mitigation stay ON, so the plain
  * baseline is an honest opponent.
  *
  * Run: `tools/run_class.sh graft.SkewScaleSmoke <dir>`; results in
  * BASELINE.md §"skew smoke".
  */
object SkewScaleSmoke {

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/repo/benchdata/sf1x10")
    // AQE's own skew mitigation stays ON (the preset enables it) — the
    // baseline below is "everything Spark does automatically", so the
    // operators must beat an honest opponent, not a strawman
    val spark = GraftSession.start(GraftSession.bench(GraftSession.cpus(32)) +
      ("spark.sql.autoBroadcastJoinThreshold" -> "-1"))

    def fact: DataFrame = spark.read.parquet(s"$dir/events.parquet")
      .select(col("event_id"),
        when(pmod(col("user_id"), lit(10)) < 7, lit(0L))
          .otherwise(pmod(col("user_id"), lit(25))).as("k"))
    // 10 payload rows per key — a per-key slice of a fact too large to
    // broadcast wholesale (enforced by the -1 threshold above)
    def dim: DataFrame = spark.range(0, 250)
      .select(pmod(col("id"), lit(25)).as("k"), (col("id") * 7).as("payload"))

    def agg(j: DataFrame): DataFrame =
      j.groupBy(col("k")).agg(count(lit(1)).as("n"),
        sum(pmod(col("payload"), lit(997L))).as("checksum"))

    def bench(df: => DataFrame): Double = Meter.median(Meter.force(df))

    val n = fact.count()
    val plainA = bench(agg(fact.join(dim, Seq("k"))))
    val saltedA = bench(agg(
      graft.operators.SkewJoin.salted(fact, dim, "k",
        distributeBy = col("event_id"), buckets = 16)))
    val splitA = bench(agg(
      graft.operators.SkewJoin.hotSplit(fact, dim, "k",
        hotThreshold = math.max(2L, n / 25))))

    // regime B: right side is the full per-event fact (|right| = |left|)
    val e0 = spark.read.parquet(s"$dir/events.parquet")
      .agg(min(col("event_id"))).head().getLong(0)
    def leftB: DataFrame = spark.read.parquet(s"$dir/events.parquet")
      .select(
        when(pmod(col("user_id"), lit(10)) < 7, lit(e0))
          .otherwise(col("event_id")).as("k"),
        pmod(col("event_id"), lit(1000L)).as("lv"))
    def rightB: DataFrame = spark.read.parquet(s"$dir/events.parquet")
      .select(col("event_id").as("k"), pmod(col("event_id"), lit(997L)).as("payload"))
    def aggB(j: DataFrame): DataFrame =
      j.groupBy(pmod(col("k"), lit(32L)).as("g"))
        .agg(count(lit(1)).as("n"), sum(col("payload") + col("lv")).as("checksum"))
    val plainB = bench(aggB(leftB.join(rightB, Seq("k"))))
    val saltedB = bench(aggB(
      graft.operators.SkewJoin.salted(leftB, rightB, "k",
        distributeBy = col("lv"), buckets = 16)))
    val splitB = bench(aggB(
      graft.operators.SkewJoin.hotSplit(leftB, rightB, "k",
        hotThreshold = math.max(2L, n / 100))))

    println(f"""{"dir":"$dir","n_fact":$n,"dim_plain_sec":$plainA%.2f,"dim_salted_sec":$saltedA%.2f,"dim_hot_split_sec":$splitA%.2f,"fact_plain_sec":$plainB%.2f,"fact_salted_sec":$saltedB%.2f,"fact_hot_split_sec":$splitB%.2f}""")
    spark.stop()
  }
}
