package graftbench

import java.util.concurrent.Executors

import scala.concurrent.duration.FiniteDuration
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.util.Try
import scala.util.chaining._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit}

import graft.SparkEntry
import graft.io.Sources

/** One timed query: construction (the `fn(spark, sf)` call, with its eager
  * pins, collects and driver loops) and execution (a `noop` write, which
  * computes every output column and keeps the final sort).
  */
final case class QueryTime(name: String, construct: Double, execute: Double) {
  def total: Double = construct + execute
}

/** The `query_mix` workload's calls into `SparkEntry.queries`. Each query
  * runs on a worker thread so a hung query fails after `timeout` instead
  * of stalling the run.
  */
final class QueryMix(spark: SparkSession, dataDir: String, trace: Trace, timeout: FiniteDuration) {

  private val queries = SparkEntry.queries
  private val pool = Executors.newSingleThreadExecutor()
  private implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)

  def close(): Unit = { pool.shutdownNow(); () }

  private def bounded[T](f: => T): T = {
    val parent = trace.currentSpan
    Await.result(Future(trace.within(parent)(f)), timeout)
  }

  /** Untimed pass: write each query's result as parquet under `outDir` for
    * the oracle comparison; returns each query's error, if any.
    * It also warms the JIT and codegen caches for the timed passes.
    */
  def resultPass(sample: Seq[String], outDir: String): Seq[(String, Either[String, Unit])] =
    sample.map { q =>
      val path = s"$outDir/$q"
      val t0 = System.nanoTime()
      q -> Try(bounded {
        queries(q)(spark, dataDir).coalesce(1).write.mode("overwrite").parquet(path)
      }).toEither.left.map(e => s"${e.getClass.getSimpleName}: ${e.getMessage}")
        .tap(_ => System.err.println(f"[graftbench] result $q ${(System.nanoTime() - t0) / 1e9}%.2f s"))
    }

  /** One timed pass over the sample, in sample order. */
  def timedPass(sample: Seq[String]): Seq[QueryTime] = sample.map { q =>
    val fam = Inputs.family(q)
    bounded {
      trace.span(s"query[$q]") {
        var t0 = System.nanoTime()
        val df = trace.span(s"ops.$fam.construct")(queries(q)(spark, dataDir))
        val construct = (System.nanoTime() - t0) / 1e9
        t0 = System.nanoTime()
        trace.span(s"ops.$fam.execute")(df.write.format("noop").mode("overwrite").save())
        QueryTime(q, construct, (System.nanoTime() - t0) / 1e9)
      }
    }
  }

  /** The selective reads against the source tables, timed like gold reads. */
  def sourceReads(reads: Seq[Read]): Seq[Double] = reads.map { r =>
    trace.timed(s"read[${r.table}]") {
      Sources.table(spark, dataDir, r.table)
        .filter(col(r.dateCol).cast("date").between(lit(r.range.start.toString),
          lit(r.range.end.toString)) && col(r.keyCol) === r.key)
        .write.format("noop").mode("overwrite").save()
    }
  }
}
