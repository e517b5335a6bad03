package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.GraftListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One listener that counts jobs, stages, tasks and shuffle bytes for the
  * harness mains. `meter(block)` reads the counters around a block; the
  * listener bus is drained on both sides, so the reading holds every
  * event of the block and none of the work before it. */
final class Meter private (spark: SparkSession) extends SparkListener {
  private val jobs, stages, tasks, shuffleWrite, shuffleRead = new AtomicLong(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet()
    tasks.addAndGet(e.stageInfo.numTasks.toLong)
    val m = e.stageInfo.taskMetrics
    if (m != null) {
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
    }
  }

  private def snapshot(sec: Double): Meter.Reading = {
    GraftListenerBus.drain(spark.sparkContext)
    Meter.Reading(sec, jobs.get, stages.get, tasks.get, shuffleWrite.get, shuffleRead.get)
  }

  def apply[T](f: => T): (T, Meter.Reading) = {
    val before = snapshot(0)
    val t0 = System.nanoTime()
    val r = f
    val sec = (System.nanoTime() - t0) / 1e9
    (r, snapshot(sec) - before)
  }

  /** The smokes' query loop: each named SparkEntry query once through the
    * noop sink, metered — never count(), which lets Catalyst drop a
    * subtree ending in a cardinality-preserving left join (r8: q123/q127
    * "measured" a bare scan). The row count runs first, outside the
    * metered run, so it also warms the scan. Returns one `"qNN":{...}`
    * JSON member per query. */
  def queries(dir: String, names: Seq[String]): Seq[String] = names.map { name =>
    def df = SparkEntry.queries(name)(spark, dir)
    val rows = df.count()
    val (_, r) = apply(Meter.force(df))
    s""""${name.takeWhile(_ != '_')}":{${r.json},"jobs":${r.jobs},""" +
      s""""stages":${r.stages},"tasks":${r.tasks},"rows":$rows}"""
  }
}

object Meter {

  /** Counter deltas of one metered block; MB are 1e6 bytes. */
  final case class Reading(
      sec: Double, jobs: Long, stages: Long, tasks: Long,
      shuffleWrite: Long, shuffleRead: Long) {
    def -(o: Reading): Reading = Reading(sec - o.sec, jobs - o.jobs,
      stages - o.stages, tasks - o.tasks,
      shuffleWrite - o.shuffleWrite, shuffleRead - o.shuffleRead)
    def writeMb: Double = shuffleWrite / 1e6
    def readMb: Double = shuffleRead / 1e6
    def json: String =
      f""""sec":$sec%.2f,"shuffle_write_mb":$writeMb%.1f,"shuffle_read_mb":$readMb%.1f"""
  }

  def apply(spark: SparkSession): Meter = {
    val m = new Meter(spark)
    spark.sparkContext.addSparkListener(m)
    m
  }

  /** Execute through the noop sink so projections are fully materialized
    * (a bare count() lets Spark skip column evaluation). */
  def force(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def time(f: => Unit): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  private val gcBeans =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans

  private def gcMillis: Long = {
    var sum = 0L
    val it = gcBeans.iterator()
    while (it.hasNext) { val t = it.next().getCollectionTime; if (t > 0) sum += t }
    sum
  }

  /** Timed runs after one warm-up, plus the JVM GC time they paid. */
  final case class Timing(samples: Seq[Double], gcSec: Double) {
    def median: Double = samples.sorted.apply(samples.size / 2)
  }

  /** The harness timing rule: 1 warm-up (plan + IO cache), then `runs`
    * timed runs; report the median. */
  def timing(runs: Int = 3)(f: => Unit): Timing = {
    f
    val gc0 = gcMillis
    val samples = Seq.fill(runs)(time(f))
    Timing(samples, (gcMillis - gc0) / 1e3)
  }

  def median(f: => Unit): Double = timing()(f).median
}
