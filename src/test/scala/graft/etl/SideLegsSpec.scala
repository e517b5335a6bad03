package graft.etl

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

import graft.SparkSpec

/** Jobs started under any [[SideLegs]] job group, and the jobs that
  * ended — `running` drains the listener bus first. */
final class SideLegJobs(spark: SparkSession) extends SparkListener {
  val started, ended = ConcurrentHashMap.newKeySet[Int]()
  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (Option(e.properties.getProperty("spark.jobGroup.id"))
        .exists(_.startsWith("graft-side-legs-"))) started.add(e.jobId)
  override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.add(e.jobId)
  def running: Set[Int] = {
    org.apache.spark.GraftListenerBus.drain(spark.sparkContext)
    started.asScala.toSet -- ended.asScala
  }
}

object SideLegJobs {
  def watching[T](spark: SparkSession)(f: SideLegJobs => T): T = {
    val g = new SideLegJobs(spark)
    spark.sparkContext.addSparkListener(g)
    try f(g) finally spark.sparkContext.removeSparkListener(g)
  }
}

/** SideLegs fails loudly: the first leg error (or the caller's own)
  * cancels the legs' job group and is rethrown, and the call returns
  * only once no job of the group is running. */
class SideLegsSpec extends SparkSpec {
  import spark.implicits._

  private def watching[T](f: SideLegJobs => T): T =
    SideLegJobs.watching(spark)(f)

  /** A job of 4 tasks that each poll for up to 30 s, stopping early once
    * the task is killed. */
  private def slowJob(): Long =
    spark.range(0, 4, 1, 4).as[Long].map { i =>
      val tc = TaskContext.get()
      val end = System.nanoTime() + 30e9.toLong
      while (System.nanoTime() < end && !tc.isInterrupted())
        java.util.concurrent.locks.LockSupport.parkNanos(50000000L)
      i
    }.reduce(_ + _)

  test("the first failing leg cancels a running sibling and its error " +
      "is rethrown") {
    watching { g =>
      val t0 = System.nanoTime()
      val e = intercept[IllegalStateException] {
        SideLegs.run(spark) { legs =>
          val slow = legs.fork(slowJob())
          val bad = legs.fork[Long] {
            // let the sibling's job start first
            while (spark.sparkContext.statusTracker.getActiveJobIds().isEmpty)
              java.util.concurrent.locks.LockSupport.parkNanos(10000000L)
            throw new IllegalStateException("leg failed on purpose")
          }
          legs.awaitAll(Seq(slow, bad))
        }
      }
      val sec = (System.nanoTime() - t0) / 1e9
      assert(e.getMessage == "leg failed on purpose")
      assert(sec < 20, s"the failure surfaced after $sec s, not at once")
      assert(g.started.size >= 1, "the slow leg's job never started")
      assert(g.running.isEmpty, s"jobs still running: ${g.running}")
    }
  }

  test("a failure of the caller's own work cancels the legs it forked") {
    watching { g =>
      val e = intercept[IllegalArgumentException] {
        SideLegs.run(spark) { legs =>
          legs.fork(slowJob())
          while (spark.sparkContext.statusTracker.getActiveJobIds().isEmpty)
            java.util.concurrent.locks.LockSupport.parkNanos(10000000L)
          throw new IllegalArgumentException("caller failed on purpose")
        }
      }
      assert(e.getMessage == "caller failed on purpose")
      assert(g.running.isEmpty, s"jobs still running: ${g.running}")
    }
  }

  test("legs that succeed return their values in order") {
    val got = SideLegs.run(spark) { legs =>
      legs.awaitAll((1 to 5).map(i => legs.fork(spark.range(i).count())))
    }
    assert(got == Seq(1L, 2L, 3L, 4L, 5L))
  }
}
