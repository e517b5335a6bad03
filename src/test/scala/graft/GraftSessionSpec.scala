package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.internal.SQLConf
import org.scalatest.funsuite.AnyFunSuite

/** Pins the session settings: every preset equals the literal settings
  * its tool was built with before the one session factory existed, and
  * no harness main builds a session, registers a listener or sleeps on
  * its own. Spark-free: no session is started. */
class GraftSessionSpec extends AnyFunSuite {

  private val wh = "/tmp/wh"

  test("Verify: the base config, plus a fresh warehouse dir") {
    val verifyLiteral = Map(
      "spark.master" -> "local[4]",
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.extensions" -> "graft.plans.GraftExtensions",
      "spark.ui.enabled" -> "false")
    assert(GraftSession.withWarehouse(GraftSession.base(4), wh) ==
      verifyLiteral + ("spark.sql.warehouse.dir" -> wh))
  }

  test("Bench: the Bench preset equals Bench's own settings") {
    val benchLiteral = Map(
      "spark.master" -> "local[32]",
      "spark.sql.shuffle.partitions" -> "32",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.extensions" -> "graft.plans.GraftExtensions",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "67108864",
      "spark.sql.files.maxPartitionBytes" -> "4194304",
      "spark.sql.files.openCostInBytes" -> "1048576",
      "spark.sql.files.minPartitionNum" -> "32",
      "spark.ui.enabled" -> "false",
      "spark.sql.warehouse.dir" -> wh)
    assert(GraftSession.withWarehouse(GraftSession.bench(32), wh) == benchLiteral)
  }

  test("SparkSpec: the base config at 4 cores; AQE is Spark's default") {
    val specLiteral = Map(
      "spark.master" -> "local[4]",
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.extensions" -> "graft.plans.GraftExtensions",
      "spark.sql.warehouse.dir" -> wh,
      "spark.ui.enabled" -> "false")
    val aqe = SQLConf.ADAPTIVE_EXECUTION_ENABLED
    // the one key the spec session gains sets the value Spark already uses
    assert(aqe.defaultValueString == "true")
    assert(GraftSession.withWarehouse(GraftSession.base(4), wh) ==
      specLiteral + (aqe.key -> "true"))
  }

  test("only GraftSession builds sessions; only Meter listens or waits") {
    val dir = Paths.get("src/main/scala/graft")
    val files: Seq[Path] = Files.list(dir).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.exists(_.endsWith("Verify.scala")), s"no harness sources in $dir")
    val owners = Set("GraftSession.scala", "Meter.scala")
    val offenders = for {
      f <- files if !owners(f.getFileName.toString)
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      token <- Seq("SparkSession.builder", "addSparkListener", "Thread.sleep")
      if line.contains(token)
    } yield s"${f.getFileName}:${i + 1}: $token"
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
