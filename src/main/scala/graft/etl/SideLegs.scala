package graft.etl

import java.util.concurrent.{CancellationException, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import scala.concurrent.{Await, ExecutionContext, Future, Promise}
import scala.concurrent.duration._

import org.apache.spark.sql.SparkSession

/** Independent driver actions run concurrently on a small driver pool
  * (the r14 side-leg pattern: actions are only sequential because the
  * driver calls them sequentially, and the legs' small stages fill the
  * cores a sequential driver leaves idle) — and fail loudly.
  *
  * Every leg runs under one Spark job group, on a pool of
  * [[SideLegs.Threads]] driver threads. Each wait is bounded by
  * [[SideLegs.Bound]], as `ProductQuantizer.fit`'s is: far beyond any
  * real leg, so it fires only on a wedged job. On the first leg
  * failure, a timeout, or a failure of the caller's own work inside
  * [[SideLegs.run]], the group's jobs are cancelled, legs not yet
  * started never start, the call returns only once every leg has
  * stopped, and the first error is rethrown. Nothing of the group runs
  * past the call, so a failed call leaves no job behind and a retried
  * one starts clean.
  */
final class SideLegs private (spark: SparkSession) {
  private val group = s"graft-side-legs-${java.util.UUID.randomUUID()}"
  private val pool = Executors.newFixedThreadPool(SideLegs.Threads)
  private val ec = ExecutionContext.fromExecutorService(pool)
  private val cancelled = new AtomicBoolean(false)

  /** Start `body` on the pool, under the legs' job group. */
  def fork[T](body: => T): Future[T] = Future {
    if (cancelled.get)
      throw new CancellationException(s"$group cancelled before this leg started")
    val sc = spark.sparkContext
    // no description: the legs' SQL executions keep their call sites
    sc.setJobGroup(group, null, interruptOnCancel = false)
    try body finally sc.clearJobGroup()
  }(ec)

  /** Every leg's value, failing on the FIRST leg error — not after the
    * slowest sibling has finished. */
  def awaitAll[T](legs: Seq[Future[T]]): Seq[T] = {
    // completion callbacks run inline: the pool may be shut down by then
    implicit val inline: ExecutionContext = ExecutionContext.parasitic
    val first = Promise[Seq[T]]()
    legs.foreach(_.failed.foreach(first.tryFailure))
    Future.sequence(legs).foreach(first.trySuccess)
    Await.result(first.future, SideLegs.Bound)
  }

  private def cancelAll(): Unit = {
    cancelled.set(true)
    pool.shutdown()
    // a leg between two jobs can submit one more after a cancel, so
    // cancel again until every leg has returned
    val deadline = SideLegs.Bound.fromNow
    do spark.sparkContext.cancelJobGroup(group)
    while (!pool.awaitTermination(100, TimeUnit.MILLISECONDS) &&
      deadline.hasTimeLeft())
  }
}

object SideLegs {

  /** The fixed bound on every wait. */
  val Bound: FiniteDuration = 1.hour

  /** Legs that run at once; more wait for a free thread. */
  val Threads = 4

  /** Run `body`, which forks and awaits its legs; see the class doc. */
  def run[T](spark: SparkSession)(body: SideLegs => T): T = {
    val legs = new SideLegs(spark)
    try body(legs)
    catch { case e: Throwable => legs.cancelAll(); throw e }
    finally legs.pool.shutdown()
  }
}
