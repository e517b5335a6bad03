package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark run in a fresh JVM: start the session, set the workload
  * up `--setup-reps` times, warm it up, then run its closed loop for
  * `--seconds` (see `fits`) and write the raw timings (and, with `--trace 1`, the
  * per-layer counters) as JSON to `--out`. Statistics are computed by
  * the Python runner, not here.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val in = opt("input")
    val work = opt("work")
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val reps = opt("setup-reps").toInt
    val cores = opt("cores").toInt

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionReadyMs = System.currentTimeMillis()
    if (trace) Trace.install(spark)

    val facts = Inputs.readJson(s"$in/facts.json").asInstanceOf[Map[String, Any]]
    val wl: Workload = workload match {
      case "catalog_refresh" => new CatalogRefresh(spark, in, work, facts)
      case "corpus_ingest" => new CorpusIngest(spark, in, work, facts)
      case "catalog_reads" => new CatalogReads(spark, in, work, facts)
    }

    val setupS = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      wl.setup()
      (System.nanoTime() - t0) / 1e9
    }
    val w0 = System.nanoTime()
    Trace.untraced(wl.warmup())
    val warmupS = (System.nanoTime() - w0) / 1e9

    val ops = mutable.ArrayBuffer[Map[String, Any]]()
    val loop0 = System.nanoTime()
    var i = 0
    // closed loop: the next op starts only if, at the mean op time so
    // far, it still ends inside the window (the first op always runs),
    // so an op that takes most of the window is not cut in a run-
    // dependent way into one or two samples
    var opS = 0.0
    def fits = i == 0 || (System.nanoTime() - loop0) / 1e9 + opS / i <= seconds
    while (fits && wl.hasOp(i)) {
      wl.prepare(i)
      val t0 = System.nanoTime()
      val done = try Right(wl.run(i)) catch { case e: Exception => Left(e) }
      val ms = (System.nanoTime() - t0) / 1e6
      opS += ms / 1e3
      val (kind, items, digest, failures) = done match {
        case Right(d) =>
          val (dg, bad) = try d.check() catch {
            case e: Exception => ("", Seq(s"check_error:${e.getClass.getSimpleName}"))
          }
          (d.kind, d.items, dg, bad)
        case Left(e) =>
          System.err.println(s"op $i failed: $e")
          ("error", 0L, "", Seq(s"op_error:${e.getClass.getSimpleName}"))
      }
      ops += Map("i" -> i, "kind" -> kind, "ms" -> ms, "items" -> items,
        "digest" -> digest, "failures" -> failures)
      i += 1
    }
    val loopS = (System.nanoTime() - loop0) / 1e9
    val rssMb = peakRssMb()
    spark.stop()

    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "cores" -> cores,
      "session_ready_epoch_ms" -> sessionReadyMs,
      "setup_reps_s" -> setupS, "warmup_s" -> warmupS, "loop_s" -> loopS,
      "peak_rss_mb" -> rssMb, "ops" -> ops)
    if (trace) {
      result("layers") = Trace.metrics(cores)
      result("spans") = Trace.spanRecords.map(s => Map("id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "start_ms" -> s.startMs, "end_ms" -> s.endMs))
    }
    Files.write(Paths.get(opt("out")), Json.render(result).getBytes("UTF-8"))
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case x => quote(x.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
