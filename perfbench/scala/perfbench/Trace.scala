package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Per-layer tracing from outside the program.
  *
  * A span is opened around each call into a module's public function.
  * While it is open, the calling thread carries a Spark job tag naming
  * it; Spark copies the tag onto every job and SQL execution the call
  * starts (threads the call creates inherit it), so the listener can
  * attribute jobs, stages and SQL executions to spans without touching
  * the program. Each SQL execution's planning phases and SQL metrics are
  * read from the QueryExecution its end event carries; a
  * QueryExecutionListener would miss the nested executions that
  * `saveAsTable` runs its writes in. Span records
  * live in memory; the listener's raw records are folded into `<span>.<counter>` metrics once, after the
  * session has stopped and the listener bus has drained.
  */
object Trace {
  private val TagPrefix = "pbspan-"

  final case class Span(id: Int, name: String, parent: Int,
                        startMs: Long, var endMs: Long = -1L)

  private final case class Job(spans: Set[Int], startMs: Long)
  private final case class Stage(tasks: Int, runMs: Long, cpuNs: Long,
                                 gcMs: Long, shuffleBytes: Long,
                                 spillBytes: Long)
  private final case class Exec(id: Long, spans: Set[Int], startMs: Long,
                                endMs: Long, decisionWrite: Boolean)
  private final case class Plan(planMs: Double, scanFiles: Long,
                                jsonScanFiles: Long, jsonStageMs: Long,
                                writeFiles: Long, writeBytes: Long)
  private val NoPlan = Plan(0, 0, 0, 0, 0, 0)

  /** Listener state; mutated on the listener-bus threads, read after
    * the session has stopped. */
  final class Listener extends SparkListener {
    private[Trace] val jobs = mutable.Map[Int, Job]()
    private[Trace] val stageJob = mutable.Map[Int, Int]()
    private[Trace] val stages = mutable.Map[Int, Stage]()
    private[Trace] val execs = mutable.Map[Long, Exec]()
    private[Trace] val plans = mutable.Map[Long, Plan]()
    private val execStart = mutable.Map[Long, (Set[Int], Long, Boolean)]()

    private def spansOf(tags: Iterable[String]): Set[Int] =
      tags.filter(_.startsWith(TagPrefix))
        .map(_.stripPrefix(TagPrefix).toInt).toSet

    override def onJobStart(js: SparkListenerJobStart): Unit = {
      val tags = Option(js.properties)
        .flatMap(p => Option(p.getProperty("spark.job.tags")))
        .map(_.split(",").toSeq).getOrElse(Nil)
      val spans = spansOf(tags)
      if (spans.nonEmpty) {
        jobs(js.jobId) = Job(spans, js.time)
        js.stageIds.foreach(s => stageJob.getOrElseUpdate(s, js.jobId))
      }
    }

    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val i = sc.stageInfo
      if (stageJob.contains(i.stageId)) {
        val m = i.taskMetrics
        val prev = stages.get(i.stageId)
        // a retried stage attempt adds to the first one
        val s = Stage(i.numTasks, m.executorRunTime, m.executorCpuTime,
          m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled)
        stages(i.stageId) = prev.fold(s)(p => Stage(p.tasks + s.tasks,
          p.runMs + s.runMs, p.cpuNs + s.cpuNs, p.gcMs + s.gcMs,
          p.shuffleBytes + s.shuffleBytes, p.spillBytes + s.spillBytes))
      }
    }

    override def onOtherEvent(ev: SparkListenerEvent): Unit = ev match {
      case s: SparkListenerSQLExecutionStart =>
        val spans = spansOf(s.jobTags)
        if (spans.nonEmpty) execStart(s.executionId) = (spans, s.time,
          Option(s.physicalPlanDescription).exists(_.contains("/decisions/batch=")))
      case e: SparkListenerSQLExecutionEnd =>
        execStart.remove(e.executionId).foreach { case (spans, t0, dec) =>
          execs(e.executionId) = Exec(e.executionId, spans, t0, e.time, dec)
          queryExecution(e).foreach(qe => plans(e.executionId) = summarize(qe))
        }
      case _ =>
    }

    // the event's `qe` field is Spark-internal in Scala but a public JVM
    // accessor; the benchmark reads it reflectively rather than edit Spark
    private def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] =
      try Option(e.getClass.getMethod("qe").invoke(e).asInstanceOf[QueryExecution])
      catch { case _: ReflectiveOperationException => None }

    private def summarize(qe: QueryExecution): Plan = {
      var scanFiles, jsonFiles, jsonMs, wFiles, wBytes = 0L
      val planMs = qe.tracker.phases.values.map(_.durationMs.toDouble).sum
      val seenStages = mutable.Set[WholeStageCodegenExec]()
      // scan files and the codegen stage holding a JSON scan (the
      // `sources` share of the action); written files and bytes
      def metric(p: SparkPlan, k: String): Long =
        p.metrics.get(k).map(_.value).getOrElse(0L)
      def walk(p: SparkPlan, stage: Option[WholeStageCodegenExec]): Unit = {
        p match {
          case s: FileSourceScanExec =>
            // files the scan's tasks opened: unlike the numFiles metric,
            // this counts after bucket pruning
            val n = s.inputRDD.partitions.collect { case p: FilePartition => p.files.length.toLong }.sum
            scanFiles += n
            if (s.relation.fileFormat.toString.toLowerCase.contains("json")) {
              jsonFiles += n
              stage.filter(seenStages.add).foreach(w => jsonMs += metric(w, "pipelineTime"))
            }
          case w: DataWritingCommandExec =>
            wFiles += metric(w, "numFiles")
            wBytes += metric(w, "numOutputBytes")
          case _ =>
        }
        p match {
          case a: AdaptiveSparkPlanExec => walk(a.executedPlan, stage)
          case q: QueryStageExec => walk(q.plan, None)
          case w: WholeStageCodegenExec => walk(w.child, Some(w))
          case _: ReusedExchangeExec => // counted where it was first built
          case _ => p.children.foreach(walk(_, stage))
        }
      }
      try walk(qe.executedPlan, None)
      catch { case _: Exception => } // an unreadable plan loses its SQL metrics only
      Plan(planMs, scanFiles, jsonFiles, jsonMs, wFiles, wBytes)
    }
  }

  @volatile private var listener: Option[Listener] = None
  @volatile private var sc: SparkContext = _
  private val spans = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[Span]
  private val gauges = mutable.LinkedHashMap[String, Double]()

  def install(spark: SparkSession): Unit = {
    val l = new Listener
    spark.sparkContext.addSparkListener(l)
    listener = Some(l)
    sc = spark.sparkContext
  }

  @volatile private var paused = false

  def active: Boolean = listener.isDefined && !paused

  /** Run `body` without recording spans (warm-up work). */
  def untraced[T](body: => T): T = {
    paused = true
    try body finally paused = false
  }

  /** Run `body` as span `name` when tracing is on; otherwise just run it. */
  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val s = Span(spans.size, name, stack.headOption.fold(-1)(_.id),
        System.currentTimeMillis())
      spans += s
      stack = s :: stack
      sc.addJobTag(TagPrefix + s.id)
      try body
      finally {
        sc.removeJobTag(TagPrefix + s.id)
        s.endMs = System.currentTimeMillis()
        stack = stack.tail
      }
    }

  def gauge(name: String, value: Double): Unit =
    if (listener.isDefined) gauges(name) = value

  /** Fold the raw records into per-call `<span>.<counter>` means; call
    * only after the SparkContext has stopped (the bus is drained). */
  def metrics(cores: Int): Map[String, Double] = listener.fold(Map.empty[String, Double]) { l =>
    final case class Part(name: String, wallMs: Long, jobs: Iterable[Int],
                          execs: Iterable[Exec])
    val jobsBySpan = mutable.Map[Int, mutable.ArrayBuffer[Int]]()
    l.jobs.foreach { case (j, job) =>
      job.spans.foreach(s => jobsBySpan.getOrElseUpdate(s, mutable.ArrayBuffer()) += j) }
    val execsBySpan = mutable.Map[Int, mutable.ArrayBuffer[Exec]]()
    l.execs.values.foreach(e =>
      e.spans.foreach(s => execsBySpan.getOrElseUpdate(s, mutable.ArrayBuffer()) += e))
    val parts = mutable.ArrayBuffer[Part]()
    spans.filter(_.endMs >= 0).foreach { s =>
      val js = jobsBySpan.getOrElse(s.id, mutable.ArrayBuffer())
      val es = execsBySpan.getOrElse(s.id, mutable.ArrayBuffer())
      parts += Part(s.name, s.endMs - s.startMs, js, es)
      if (s.name == "streaming.StreamingIngest.ingestSink") {
        // split the sink at the end of its decision-table write: jobs
        // before it decide, jobs after it write the state deltas
        es.filter(_.decisionWrite).map(_.endMs).maxOption.foreach { cut =>
          val (dj, sj) = js.partition(j => l.jobs(j).startMs <= cut)
          val (de, se) = es.partition(_.startMs <= cut)
          parts += Part(s.name + ".decide", cut - s.startMs, dj, de)
          parts += Part(s.name + ".state_write", s.endMs - cut, sj, se)
        }
      }
    }
    val stagesByJob = l.stageJob.groupBy(_._2).view.mapValues(_.keys.toSeq).toMap
    val out = mutable.LinkedHashMap[String, Double]()
    parts.groupBy(_.name).foreach { case (name, ps) =>
      val calls = ps.size.toDouble
      val st = ps.flatMap(_.jobs).distinct
        .flatMap(j => stagesByJob.getOrElse(j, Nil)).distinct
        .flatMap(l.stages.get)
      val wallMs = ps.map(_.wallMs).sum.toDouble
      val es = ps.flatMap(_.execs).map(e => l.plans.getOrElse(e.id, NoPlan))
      out(s"$name.wall_s") = wallMs / 1e3 / calls
      out(s"$name.jobs") = ps.map(_.jobs.size).sum / calls
      out(s"$name.tasks") = st.map(_.tasks).sum / calls
      out(s"$name.task_cpu_s") = st.map(_.cpuNs).sum / 1e9 / calls
      out(s"$name.core_busy") =
        if (wallMs <= 0) 0.0 else st.map(_.runMs).sum / (cores * wallMs)
      out(s"$name.shuffle_mb") = st.map(_.shuffleBytes).sum / 1e6 / calls
      out(s"$name.spill_mb") = st.map(_.spillBytes).sum / 1e6 / calls
      out(s"$name.gc_s") = st.map(_.gcMs).sum / 1e3 / calls
      out(s"$name.plan_ms") = es.map(_.planMs).sum / calls
      out(s"$name.#scan_files") = es.map(_.scanFiles).sum / calls
      out(s"$name.#json_scan_files") = es.map(_.jsonScanFiles).sum / calls
      out(s"$name.#json_stage_s") = es.map(_.jsonStageMs).sum / 1e3 / calls
      out(s"$name.#write_files") = es.map(_.writeFiles).sum / calls
      out(s"$name.#write_bytes") = es.map(_.writeBytes).sum / calls
      out(s"$name.#calls") = calls
    }
    out ++= gauges
    out.toMap
  }

  /** Span records, for the trace file. */
  def spanRecords: Seq[Span] = spans.toSeq
}
