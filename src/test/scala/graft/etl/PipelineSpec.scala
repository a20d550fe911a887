package graft.etl

import java.time.LocalDate
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.concurrent.Eventually
import org.scalatest.time.{Seconds, Span}

import graft.SparkSpec
import graft.model.ServiceSpec.DateRange
import graft.model.{LoadMode, RangeGrain, ServiceSpec}

/** End-to-end pipeline parity (reference EP1/EP2, `main.py:97-192`):
  * full-truncate loads, ranged incremental loads with delete-range
  * idempotency, the RAW→GOLD trigger, and concurrent multi-table runs.
  */
class PipelineSpec extends SparkSpec with Eventually {

  "runTable (full)" should "snapshot a cadastral table (EP2, utils.py:346-357)" in {
    val wh = tmpDir("wh-full")
    val p = new Pipeline(spark, sfDir, wh)
    val res = p.runTable(ServiceSpec("region", None, LoadMode.FullTruncate, RangeGrain.Full))
    res.rowsLoaded shouldBe 5
    p.readRaw("region").count() shouldBe 5
    res.goldFired shouldBe None
    // a rerun replaces the table: the rows the write observed are the
    // rows on disk, not an accumulation
    val rerun = p.runTable(ServiceSpec("region", None, LoadMode.FullTruncate, RangeGrain.Full))
    rerun.rowsLoaded shouldBe p.readRaw("region").count()
  }

  "runTable (incremental)" should "load ranges idempotently and fire the gold trigger (EP1)" in {
    val wh = tmpDir("wh-inc")
    val p = new Pipeline(spark, sfDir, wh)
    val spec = ServiceSpec("orders", Some("o_orderdate"), LoadMode.IncrementalByDate, RangeGrain.Monthly)
    val window = Some(DateRange(LocalDate.parse("1997-01-01"), LocalDate.parse("1997-03-31")))

    val res = p.runTable(spec, historical = window)
    val expected = spark.read.parquet(s"$sfDir/orders.parquet")
      .filter(col("o_orderdate").between("1997-01-01", "1997-03-31 23:59:59")).count()
    res.rowsLoaded shouldBe expected
    res.goldFired shouldBe Some("gold_orders_daily")
    p.readGold("gold_orders_daily").count() shouldBe expected

    // run twice => identical table (delete-range idempotency)
    val res2 = p.runTable(spec, historical = window)
    res2.rowsLoaded shouldBe expected
    p.readRaw("orders").count() shouldBe expected
  }

  it should "extend the table when a refresh window adds newer days (B5)" in {
    val wh = tmpDir("wh-refresh")
    val p = new Pipeline(spark, sfDir, wh)
    val spec = ServiceSpec("lineitem", Some("l_shipdate"), LoadMode.IncrementalByDate, RangeGrain.Monthly)
    p.runTable(spec, historical = Some(DateRange(LocalDate.parse("2001-06-01"), LocalDate.parse("2001-06-30"))))
    val base = p.readRaw("lineitem").count()
    // refresh anchored after the historical window pulls [07-08 .. 07-15]
    val res = p.runTable(spec,
      historical = Some(DateRange(LocalDate.parse("2001-06-01"), LocalDate.parse("2001-06-30"))),
      refreshAnchor = Some(LocalDate.parse("2001-07-15")))
    val extended = p.readRaw("lineitem").count()
    extended should be > base
    // the whole RAW table, not the rows this run's windows wrote
    res.rowsLoaded shouldBe extended
  }

  it should "prune partitions when reading RAW by the derived date column" in {
    val wh = tmpDir("wh-prune")
    val p = new Pipeline(spark, sfDir, wh)
    val spec = ServiceSpec("orders", Some("o_orderdate"), LoadMode.IncrementalByDate, RangeGrain.Monthly)
    p.runTable(spec, historical = Some(DateRange(LocalDate.parse("1997-01-01"), LocalDate.parse("1997-03-31"))))

    // a one-day predicate on the partition column must reach the scan as a
    // partition filter — at 100 TB this is the difference between reading
    // one day's directory and the whole table
    val pruned = p.readRaw("orders")
      .filter(col("o_orderdate_date") === lit("1997-02-03").cast("date"))
    val scan = pruned.queryExecution.executedPlan.collectLeaves()
      .collectFirst { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
    scan should not be empty
    scan.get.partitionFilters.map(_.toString).mkString should include("o_orderdate_date")
    // the pruned scan reads exactly the one matching partition directory
    scan.get.relation.location.listFiles(scan.get.partitionFilters, Nil)
      .map(_.files.size).sum should be < 5
    pruned.count() should be > 0L
  }

  it should "no-op gracefully on an empty source (empty-extract semantics)" in {
    val wh = tmpDir("wh-empty")
    val srcDir = tmpDir("empty-src")
    // an events table with zero rows
    graft.io.Sources.events(spark, sfDir).filter(org.apache.spark.sql.functions.lit(false))
      .write.parquet(s"$srcDir/events.parquet")
    val p = new Pipeline(spark, srcDir, wh)
    val spec = ServiceSpec("events", Some("ts"), LoadMode.IncrementalByDate, RangeGrain.Daily)
    val res = p.runTable(spec) // bounds derive from data: none -> no windows
    res.rowsLoaded shouldBe 0
    res.ranges shouldBe 0
  }

  "runTable" should "take its row count from its writes, with no readback job" in {
    // a child session: its listener sees only this spec's executions
    val session = spark.newSession()
    val actions = new ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        actions.add(funcName): Unit
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        actions.add(s"failed $funcName"): Unit
    }
    session.listenerManager.register(listener)
    // listener events arrive on an async bus, in order: once a sentinel
    // action is seen, every action the run took has been recorded
    def actionsOf(run: => Unit): Seq[String] = {
      actions.clear()
      run
      session.range(1).collect()
      eventually(timeout(Span(30, Seconds))) { actions.asScala.lastOption shouldBe Some("collect") }
      actions.asScala.toSeq.init
    }
    try {
      val p = new Pipeline(session, sfDir, tmpDir("wh-actions"))
      actionsOf(p.runTable(ServiceSpec("region", None, LoadMode.FullTruncate, RangeGrain.Full))) shouldBe
        Seq("command")
      val orders = ServiceSpec("orders", Some("o_orderdate"), LoadMode.IncrementalByDate, RangeGrain.Monthly)
      val window = Some(DateRange(LocalDate.parse("1997-01-01"), LocalDate.parse("1997-03-31")))
      // empty check, delete-range write, gold snapshot
      actionsOf(p.runTable(orders, historical = window)) shouldBe Seq("isEmpty", "command", "command")
    } finally session.listenerManager.unregister(listener)
  }

  it should "run every Spark job inside a SQL execution (no schema-inference job)" in {
    val p = new Pipeline(spark, sfDir, tmpDir("wh-jobs"))
    // one month: a RAW table of more than 32 date partitions is listed by
    // a job of its own (spark.sql.sources.parallelPartitionDiscovery.threshold)
    val orders = ServiceSpec("orders", Some("o_orderdate"), LoadMode.IncrementalByDate, RangeGrain.Monthly)
    val window = Some(DateRange(LocalDate.parse("1997-01-01"), LocalDate.parse("1997-01-31")))
    Seq(
      jobsStartedBy(p.runTable(ServiceSpec("region", None, LoadMode.FullTruncate, RangeGrain.Full))),
      jobsStartedBy(p.runTable(orders, historical = window)),
    ).foreach { jobs =>
      jobs should not be empty
      jobs.map(j => Option(j.getProperty("spark.sql.execution.id"))) should not contain None
    }
  }

  it should "load a warehouse given as a file: URI and fire its gold trigger" in {
    val p = new Pipeline(spark, sfDir, "file:" + tmpDir("wh-uri"))
    val spec = ServiceSpec("orders", Some("o_orderdate"), LoadMode.IncrementalByDate, RangeGrain.Monthly)
    val res = p.runTable(spec,
      historical = Some(DateRange(LocalDate.parse("1997-01-01"), LocalDate.parse("1997-03-31"))))
    res.goldFired shouldBe Some("gold_orders_daily")
    res.rowsLoaded shouldBe p.readRaw("orders").count()
    res.rowsLoaded should be > 0L
  }

  "runAll" should "run multiple tables concurrently with per-table results" in {
    val wh = tmpDir("wh-all")
    val p = new Pipeline(spark, sfDir, wh)
    val specs = Seq(
      ServiceSpec("region", None, LoadMode.FullTruncate, RangeGrain.Full),
      ServiceSpec("nation", None, LoadMode.FullTruncate, RangeGrain.Full),
      ServiceSpec("customer", None, LoadMode.FullTruncate, RangeGrain.Full),
    )
    val seen = scala.collection.concurrent.TrieMap[String, Vector[String]]()
    val out = p.runAll(specs, parallelism = 3,
      onStatus = (t, s) => seen.updateWith(t)(v => Some(v.getOrElse(Vector.empty) :+ s)))
    out.size shouldBe 3
    out.values.forall(_.isSuccess) shouldBe true
    out("nation").get.rowsLoaded shouldBe 25
    // O6 hook: every table reported running then success, in order
    specs.foreach(s => seen(s.name) shouldBe Vector("running", "success"))
    // O5: each table wrote its own log file with a completion line
    specs.foreach { s =>
      val log = scala.io.Source.fromFile(s"$wh/logs/etl_${s.name}.log").getLines().toSeq
      log.exists(_.contains("run done")) shouldBe true
    }
  }
}
