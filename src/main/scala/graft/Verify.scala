package graft
import java.nio.file.{Files, Paths}

import graft.io.Sinks

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB oracle compare. Every query that
  * runs is dumped; the exit code is 1 when any query threw. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: sfDir outDir [comma-separated query names (dev loops)]
    val sfDir = args(0)
    val outDir = args(1)
    val selected = SparkEntry.named(SparkEntry.queries.toSeq,
      if (args.length > 2) args(2).split(",").toSeq else Nil)
    val spark = Session()
    new java.io.File(outDir).mkdirs()
    val failed = selected.filterNot { case (name, fn) =>
      try { Sinks.writer(fn(spark, sfDir).coalesce(1)).mode("overwrite").parquet(s"$outDir/$name"); true }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}"); false
      }
    }.map(_._1)
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Bench.jstr(k)}: ${Bench.jstr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
