package graft.operators

import java.util.concurrent.Executors

import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future, Promise}
import scala.util.Try

import org.apache.spark.sql.DataFrame

/** Future-composition surface (the reference's async/Futures
  * exercises), Spark-first: combinators over concurrent *job
  * submissions*. Spark's scheduler interleaves concurrent jobs
  * across the cluster, so `all` on N independent queries overlaps
  * their stages instead of running them back-to-back — useful for
  * dashboards / multi-query batch drivers.
  *
  * The pool is for driver-side submission only (it blocks on
  * actions); executor-side parallelism stays with Spark.
  */
object Async {
  private lazy val pool = ExecutionContext.fromExecutorService(
    Executors.newCachedThreadPool(r => {
      val t = new Thread(r, "graft-async"); t.setDaemon(true); t
    }))

  /** Future.all: run every query's action concurrently, collect in
    * order. */
  def all[T](actions: Seq[() => T]): Seq[T] = {
    implicit val ec: ExecutionContext = pool
    Await.result(Future.sequence(actions.map(a => Future(a()))), Duration.Inf)
  }

  /** Future.any / Rx amb: first action to complete wins. */
  def any[T](actions: Seq[() => T]): T = {
    implicit val ec: ExecutionContext = pool
    val p = Promise[T]()
    actions.foreach(a => Future(a()).onComplete(p.tryComplete))
    Await.result(p.future, Duration.Inf)
  }

  /** Timeout guard around an action (Rx timeout on a single shot). */
  def withTimeout[T](d: Duration)(action: => T): Try[T] =
    Try(Await.result(Future(action)(pool), d))

  /** Retry with bounded attempts (the reference's retry exercise). */
  def retry[T](attempts: Int)(action: => T): T = {
    require(attempts > 0)
    Try(action).recover {
      case _ if attempts > 1 => retry(attempts - 1)(action)
    }.get
  }

  /** Concurrent counts of several DataFrames (common fan-out case). */
  def countAll(dfs: Seq[DataFrame]): Seq[Long] = all(dfs.map(df => () => df.count()))
}
