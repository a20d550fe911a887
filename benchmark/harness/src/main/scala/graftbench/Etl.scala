package graftbench

import java.io.File
import java.time.LocalDate
import java.util.concurrent.{ConcurrentHashMap, Executors}

import scala.concurrent.duration.FiniteDuration
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit}

import graft.etl.Pipeline
import graft.gold.Materializer
import graft.model.ServiceSpec.DateRange
import graft.model.{LoadMode, ServiceSpec}
import graft.ranges.Ranges

/** Outcome of one load (a `Pipeline.runAll` per date domain, concurrent). */
final case class Load(
    start: Double,
    end: Double,
    tableSeconds: Map[String, Double],
    results: Map[String, Try[Pipeline#TableResult]],
) {
  def wall: Double = (end - start) / 1000.0
}

/** The ETL workloads' calls into `etl.Pipeline`, plus the untimed
  * measurements and output checks made after each load.
  */
final class Etl(spark: SparkSession, dataDir: String, trace: Trace, cores: Int,
    timeout: FiniteDuration) {

  /** `runAll` carries one historical window for every incremental table, so
    * each date domain gets its own call: the TPC-H tables (with every
    * full-truncate table) and `events`. The two run concurrently, with
    * table parallelism summing to the core count.
    */
  private val groups: Seq[(String, Seq[ServiceSpec], Int)] = Seq(
    ("tpch", ServiceSpec.serviceMap.filterNot(_.name == "events"), math.max(1, cores - 1)),
    ("events", ServiceSpec.serviceMap.filter(_.name == "events"), 1),
  )
  val domainOf: Map[String, String] =
    groups.flatMap { case (g, specs, _) => specs.map(_.name -> g) }.toMap
  val incremental: Seq[ServiceSpec] =
    ServiceSpec.serviceMap.filter(_.loadMode == LoadMode.IncrementalByDate)
  private val goldOf: Map[String, Materializer.GoldSpec] = ServiceSpec.triggerMap.map {
    case (raw, gold) => raw -> Materializer.goldSpecs.find(_.name == gold).get
  }

  private val pool = Executors.newFixedThreadPool(math.max(groups.size, incremental.size))
  private implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)

  def close(): Unit = { pool.shutdownNow(); () }

  /** One load of every table into warehouse `wh`: historical `windows` by
    * domain. Per-table latency runs from the table's "running" status to
    * its final status. A call that outlives `timeout` throws.
    */
  def load(wh: String, windows: Map[String, DateRange]): Load = {
    val pipeline = new Pipeline(spark, dataDir, wh)
    val started = new ConcurrentHashMap[String, Double]()
    val seconds = new ConcurrentHashMap[String, Double]()
    val t0 = trace.now()
    val loadSpan = trace.currentSpan
    val futures = groups.map { case (g, specs, parallelism) =>
      Future {
        trace.span(s"pipeline.runAll[$g]", loadSpan) {
          val runAllSpan = trace.currentSpan
          val onStatus: (String, String) => Unit = (table, status) =>
            if (status == "running") {
              started.put(table, trace.now())
              spark.sparkContext.setLocalProperty(Trace.TableProperty, table)
            } else {
              val end = trace.now()
              seconds.put(table, (end - started.get(table)) / 1000.0)
              trace.record(s"pipeline.table[$table]", runAllSpan, started.get(table), end)
            }
          pipeline.runAll(specs, parallelism, Some(windows(g)), onStatus)
        }
      }
    }
    val deadline = timeout.fromNow
    val results = futures.flatMap(f => Await.result(f, deadline.timeLeft max FiniteDuration(1, "ms")))
    Load(t0, trace.now(), seconds.asScala.toMap, results.toMap)
  }

  def rawDir(wh: String, table: String) = new File(s"$wh/raw/$table")
  def goldDir(wh: String, table: String) = new File(s"$wh/gold/${goldOf(table).name}")

  /** Date partitions of a partitioned table directory (`<col>=<date>`). */
  def partitions(dir: File): Set[String] =
    Option(dir.listFiles()).toSeq.flatten.filter(_.isDirectory).map(_.getName)
      .filter(_.contains("=")).map(_.split("=", 2)(1)).toSet

  /** (data files, data bytes) under the warehouse's raw and gold trees. */
  def storage(wh: String): (Long, Long) = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    val files = Seq("raw", "gold").flatMap(d => walk(new File(s"$wh/$d")))
      .filter(f => f.getName.endsWith(".parquet"))
    (files.size.toLong, files.map(_.length).sum)
  }

  /** Rows of a parquet file, from its footer (no Spark job). */
  def parquetRows(f: File): Long = {
    val r = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(f.getPath), spark.sparkContext.hadoopConfiguration))
    try r.getRecordCount finally r.close()
  }

  /** Rows per date partition of a partitioned table directory
    * (`<dir>/<col>=<date>/part-*.parquet`), from the parquet footers.
    */
  def footerRows(dir: File): Map[String, Long] =
    Option(dir.listFiles()).toSeq.flatten.filter(d => d.isDirectory && d.getName.contains("="))
      .map { d =>
        d.getName.split("=", 2)(1) -> Option(d.listFiles()).toSeq.flatten
          .filter(_.getName.endsWith(".parquet")).map(parquetRows).sum
      }.toMap

  private def sourceFile(table: String) = new File(s"$dataDir/$table.parquet")
  private lazy val sourceRows: Map[String, Long] =
    ServiceSpec.serviceMap.map(s => s.name -> parquetRows(sourceFile(s.name))).toMap

  /** Source bytes a load consumed: a full table's file, or the share of an
    * incremental table's file that its RAW rows make up.
    */
  def sourceBytesRead(load: Load, rawRowsOf: String => Long): Double =
    load.results.keys.toSeq.map { t =>
      val bytes = sourceFile(t).length().toDouble
      if (incremental.exists(_.name == t)) bytes * rawRowsOf(t) / math.max(1L, sourceRows(t))
      else bytes
    }.sum

  /** Content hashes of several RAW tables, computed concurrently. */
  def contentHashes(wh: String, tables: Seq[String]): Map[String, Option[(Long, Long)]] = {
    val deadline = timeout.fromNow
    tables.map(t => t -> Future(Try(contentHash(wh, t)).toOption))
      .map { case (t, f) => t -> Await.result(f, deadline.timeLeft max FiniteDuration(1, "ms")) }
      .toMap
  }

  /** Order-independent content hash of a RAW table: (rows, hash sum). */
  def contentHash(wh: String, table: String): (Long, Long) = {
    val r = spark.read.parquet(rawDir(wh, table).getPath)
      .selectExpr("count(1)", "coalesce(sum(xxhash64(*) % 1000000007), 0)").head()
    (r.getLong(0), r.getLong(1))
  }

  /** RAW rows of `table` whose partition date lies in `w`. */
  def rawRowsIn(wh: String, table: String, w: DateRange): Long =
    footerRows(rawDir(wh, table)).collect {
      case (d, n) if !LocalDate.parse(d).isBefore(w.start) && !LocalDate.parse(d).isAfter(w.end) => n
    }.sum

  /** Time each selective gold read as a full `noop` write of its rows. */
  def goldReads(wh: String, reads: Seq[Read]): Seq[Double] = reads.map { r =>
    val path = s"$wh/gold/${r.table}"
    trace.timed(s"read[${r.table}]") {
      spark.read.parquet(path)
        .filter(col(r.dateCol).between(lit(r.range.start.toString), lit(r.range.end.toString)) &&
          col(r.keyCol) === r.key)
        .write.format("noop").mode("overwrite").save()
    }
  }

  /** Checks shared by both ETL workloads, after a load into `wh`: every
    * table loaded; gold rows equal raw rows; gold's date partitions equal
    * raw's. Returns the failed table names with a reason.
    */
  def checkLoad(wh: String, load: Load): Seq[(String, String)] = {
    val failed = load.results.toSeq.collect {
      case (t, Failure(e)) => t -> s"runTable failed: ${e.getClass.getSimpleName}: ${e.getMessage}"
    }
    val goldChecks = incremental.map(_.name).filter(t => load.results.get(t).exists(_.isSuccess))
      .flatMap { t =>
        val raw = load.results(t).get.rowsLoaded
        val gold = footerRows(goldDir(wh, t)).values.sum
        val rp = partitions(rawDir(wh, t))
        val gp = partitions(goldDir(wh, t))
        Seq(
          if (gold != raw) Some(t -> s"gold rows $gold != raw rows $raw") else None,
          if (rp != gp) Some(t -> s"gold partitions ${gp.size} != raw partitions ${rp.size}")
          else None,
        ).flatten
      }
    failed ++ goldChecks
  }

  /** Rows written by a load: every RAW row written plus every GOLD row
    * (gold is rebuilt in full from RAW on each trigger).
    */
  def rowsWritten(wh: String, load: Load, refreshed: Option[Map[String, DateRange]]): Long =
    load.results.toSeq.map {
      case (t, Success(r)) =>
        val raw = refreshed match {
          case Some(ws) if domainOf.contains(t) && goldOf.contains(t) =>
            rawRowsIn(wh, t, ws(domainOf(t)))
          case _ => r.rowsLoaded
        }
        raw + (if (goldOf.contains(t)) r.rowsLoaded else 0L)
      case _ => 0L
    }.sum

  def refreshWindows(anchors: Map[String, LocalDate]): Map[String, DateRange] =
    anchors.map { case (d, a) => d -> Ranges.refreshWindow(a) }
}
