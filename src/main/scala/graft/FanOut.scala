package graft

import java.util.concurrent.Executors

import scala.concurrent.duration._
import scala.concurrent.{Await, ExecutionContext, Future}

/** The driver-side fan-out of the shared-table warm and the ETL run: every
  * task is submitted to a `poolSize` pool before the first wait, each is
  * awaited for at most [[Timeout]], and the pool is shut down with
  * interrupts on the way out, so a hung Spark job fails the caller with a
  * `TimeoutException` instead of hanging it or keeping the JVM alive.
  */
private[graft] object FanOut {

  /** The one bound on a driver-side wait: a fan-out task, or a shared
    * table another thread is building ([[graft.io.Materialized]]).
    */
  val Timeout: FiniteDuration = 20.minutes

  /** Each task's result, in task order. */
  def apply[T](tasks: Seq[() => T], poolSize: Int, timeout: Duration = Timeout): Seq[T] = {
    val pool = Executors.newFixedThreadPool(poolSize)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    val fs = tasks.map(t => Future(t()))
    try fs.map(Await.result(_, timeout))
    finally { pool.shutdownNow(); () }
  }
}
