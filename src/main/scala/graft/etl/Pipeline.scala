package graft.etl

import java.time.LocalDate

import scala.concurrent.duration._
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.util.Try

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.gold.Materializer
import graft.io.{Sinks, Sources}
import graft.model.ServiceSpec.DateRange
import graft.model.{LoadMode, RangeGrain, ServiceSpec}
import graft.ranges.Ranges
import graft.transform.Normalize

/** End-to-end pipeline orchestration (reference EP1/EP2, `main.py:97-192`).
  *
  * The reference runs one OS process per table via `ProcessPoolExecutor`
  * (`main.py:118-127`); here each table is a Scala `Future` submitting jobs
  * on the shared `SparkSession` — Spark's scheduler interleaves their
  * stages across executors, which is the cluster-correct replacement for
  * process parallelism (per-process token caches and config re-imports
  * disappear; the driver stays a thin coordinator).
  *
  * Per-table flow (reference `run_etl_service`, `utils.py:328-404`):
  *   read → (range filter) → normalize → write, then the RAW→GOLD trigger
  *   (`TRIGGER_MAP`, `main.py:26-30`) materializes the mapped gold table.
  * Incremental tables run delete-range+append per window — implemented as
  * dynamic partition overwrite, preserving the reference's
  * "empty extract deletes nothing" semantics (`utils.py:391-398`).
  *
  * `rowsLoaded` is the table's RAW row count after the run, taken from a
  * job the run executes anyway rather than a readback: the rows a
  * full-truncate write observed, or, for an incremental table with a gold
  * trigger, the rows the gold snapshot observed in its input — the whole
  * RAW table. Only an incremental table without a trigger counts its RAW
  * table in a job of its own.
  */
final class Pipeline(
    spark: SparkSession,
    sourceDir: String,
    warehouseDir: String,
) {

  final case class TableResult(table: String, ranges: Int, rowsLoaded: Long, goldFired: Option[String])

  private def rawPath(name: String) = s"$warehouseDir/raw/$name"
  private def goldPath(name: String) = s"$warehouseDir/gold/$name"

  // r14 (§6): one raw-table readback per (table, write-generation). The
  // run previously issued `spark.read.parquet(raw)` THREE times per
  // table (row count, gold input, caller's readRaw) and each call paid
  // its own partition-directory listing + footer job — 182 partition
  // dirs made that 3 × ~0.4 s locally and 3 × an object-store LIST at
  // 100 TB. The memo holds the DataFrame (hence its resolved
  // FileIndex); every write to the table invalidates its entry.
  private val rawReads =
    scala.collection.concurrent.TrieMap.empty[String, DataFrame]

  /** RAW read with the schema of the frame `runTable` writes there — the
    * normalized source, `<field>_date` partition column included — so
    * the read launches no schema-inference job. `schema` is that frame's
    * schema; `readRaw` derives it through the same job-free source read.
    */
  private def rawRead(name: String, schema: => StructType): DataFrame =
    rawReads.getOrElseUpdate(name, spark.read.schema(schema).parquet(rawPath(name)))

  /** One table, one run (reference `process_table`, `main.py:33-52`). */
  def runTable(spec: ServiceSpec, historical: Option[DateRange] = None,
      refreshAnchor: Option[LocalDate] = None): TableResult = {
    val source = Sources.table(spark, sourceDir, spec.name)
    val normalized = Normalize.normalize(source)
    def raw = rawRead(spec.name, normalized.schema)

    var rangesPlanned = 1
    val written: Option[Long] = spec.loadMode match {
      case LoadMode.FullTruncate =>
        // cadastral full snapshot (utils.py:346-357): the whole table is
        // the rows this write observed
        val n = Sinks.truncate(normalized, rawPath(spec.name))
        rawReads.remove(spec.name)
        Some(n)

      case LoadMode.IncrementalByDate =>
        val field = spec.filterField.getOrElse(
          throw new IllegalArgumentException(s"${spec.name}: incremental load needs filterField"))
        val tsField = field + "_ts"
        // min/max are NULL for an empty source or an all-unparseable date
        // field (try_to_timestamp coerces to NULL) — that is the empty-
        // extract case: load nothing, delete nothing (utils.py:391-398)
        val bounds = historical.orElse {
          val row = normalized
            .agg(min(to_date(col(tsField))).cast("string"), max(to_date(col(tsField))).cast("string"))
            .collect()(0)
          if (row.isNullAt(0) || row.isNullAt(1)) None
          else Some(DateRange(LocalDate.parse(row.getString(0)), LocalDate.parse(row.getString(1))))
        }
        val histWindows = bounds.toSeq.flatMap(b => Ranges.forGrain(spec.rangeGrain, b.start, b.end))

        def writeWindows(ws: Seq[DateRange]): Unit = ws.foreach { w =>
          val batch = normalized.filter(
            to_date(col(tsField)).between(lit(w.start.toString), lit(w.end.toString)))
          // extract-first, delete-only-if-non-empty (utils.py:379-398):
          // dynamic partition overwrite writes (and hence replaces)
          // nothing for an empty batch. Partitioning keys on the payload
          // field's existing `<field>_date` twin from Normalize — NOT a
          // new derived column — so readers filtering the documented twin
          // get partition pruning.
          Sinks.loadIfNonEmpty(batch, b => {
            Sinks.deleteRangeAppend(b, field, rawPath(spec.name))
            rawReads.remove(spec.name); ()
          })
        }

        // Delete-range+append per window is commutative over disjoint
        // windows, and the grain generators partition [start, end] exactly
        // (no gaps — property-tested), so the CONTIGUOUS historical
        // windows coalesce into ONE dynamic partition overwrite covering
        // the whole range — semantically identical to the reference's
        // per-range loop (`utils.py:361-404`) but one Spark job instead of
        // N. At 100 TB this is the difference between 2,500 daily jobs
        // re-scanning the source and a single partitioned write. The
        // grain windows still count as `rangesPlanned`. The refresh window
        // may be DISCONTIGUOUS from the historical range, so it always
        // runs as its own write — a blanket min..max coalesce would
        // wrongly re-extract the gap days.
        val refreshWindows = refreshAnchor.map(a => Ranges.refreshWindow(a)).toSeq
        rangesPlanned = histWindows.size + refreshWindows.size
        writeWindows(bounds.toSeq)
        writeWindows(refreshWindows)
        // the batches are only this run's windows; the table's count
        // comes from the whole RAW table below
        None
    }

    // nothing may have been written at all (empty source AND empty
    // refresh) — the table then may not exist yet
    val rawDir = new Path(rawPath(spec.name))
    val rawExists = rawDir.getFileSystem(spark.sessionState.newHadoopConf()).exists(rawDir)
    val gold = ServiceSpec.triggerMap.get(spec.name)
      .filter(_ => rawExists) // nothing loaded -> nothing to materialize
      .map { goldName =>
      val goldSpec = Materializer.goldSpecs.find(_.name == goldName)
        .getOrElse(throw new IllegalStateException(s"no gold spec $goldName"))
      goldName -> Materializer.materialize(raw, goldSpec, goldPath(goldName))
    }
    val rows = written.orElse(gold.map(_._2)).getOrElse(
      if (rawExists) raw.count() else 0L)
    TableResult(spec.name, rangesPlanned, rows, gold.map(_._1))
  }

  /** All tables concurrently (reference `run_parallel_etl`, `main.py:97`):
    * one Future per table on a bounded pool; Spark interleaves their jobs.
    * Each table is awaited for at most 20 minutes: a hung table makes
    * `runAll` throw `TimeoutException` instead of blocking forever, and
    * the pool is shut down with interrupts on the way out.
    *
    * `onStatus` receives pending→running→success|error transitions (the
    * hook the status board / reference dashboard consumes); each table
    * additionally logs start/finish/failure to its own file logger
    * (reference `utils.py:42-71`) under `<warehouse>/logs/`.
    */
  def runAll(specs: Seq[ServiceSpec] = ServiceSpec.serviceMap, parallelism: Int = 4,
      historical: Option[DateRange] = None,
      onStatus: (String, String) => Unit = (_, _) => ()): Map[String, Try[TableResult]] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(parallelism)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val futures = specs.map { spec =>
        spec.name -> Future {
          // observability must never kill the load: a full disk under the
          // log dir or a throwing dashboard callback loses telemetry for
          // this table, not the run (a raw throw here would escape the
          // Try and abort runAll for EVERY table)
          def safely(f: => Unit): Unit =
            try f catch {
              case e: Throwable =>
                System.err.println(s"[pipeline] ${spec.name} status/log failed: ${e.getMessage}")
            }
          val log = Try(graft.io.ServiceLogger(spec.name, s"$warehouseDir/logs")).toOption
          safely(onStatus(spec.name, "running"))
          safely(log.foreach(_.info(s"run start (mode=${spec.loadMode})")))
          val res = Try(runTable(spec, historical))
          res match {
            case scala.util.Success(r) =>
              safely(log.foreach(_.info(s"run done: ${r.rowsLoaded} rows, ${r.ranges} range(s)" +
                r.goldFired.fold("")(g => s", gold -> $g"))))
              safely(onStatus(spec.name, "success"))
            case scala.util.Failure(e) =>
              safely(log.foreach(_.error(s"run FAILED: ${e.getMessage}")))
              safely(onStatus(spec.name, "error"))
          }
          res
        }
      }
      futures.map { case (n, f) => n -> Await.result(f, Pipeline.TableTimeout) }.toMap
    } finally { pool.shutdownNow(); () }
  }

  /** Read a RAW table back (for tests / downstream queries). */
  def readRaw(name: String): DataFrame =
    rawRead(name, Normalize.normalize(Sources.table(spark, sourceDir, name)).schema)
  def readGold(name: String): DataFrame = spark.read.parquet(goldPath(name))
}

object Pipeline {

  /** Bound on each table's wait in `runAll` — the same bound as
    * `SharedTables.warmAll`'s per-build timeout.
    */
  private val TableTimeout = 20.minutes
}
