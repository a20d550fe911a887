package graft.gold

import java.io.File

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.io.{Sinks, Sources}
import graft.transform.Normalize

/** GOLD materialization (reference `materialize_gold.py:63-74`): the
  * partition directory layout exists (PARTITION BY analog), data round-trips
  * identically, and rows are sorted on the cluster keys within partitions
  * (CLUSTER BY analog → row-group skipping).
  */
class MaterializerSpec extends SparkSpec {

  "materialize" should "write a date-partitioned, cluster-sorted snapshot" in {
    val path = tmpDir("gold-orders")
    val src = Normalize.normalize(Sources.orders(spark, sfDir))
    val spec = Materializer.goldSpecs.find(_.name == "gold_orders_daily").get
    Materializer.materialize(src, spec, path)

    // PARTITION BY: directory-per-day layout
    val partDirs = new File(path).listFiles().filter(_.getName.startsWith("o_orderdate_date="))
    partDirs.length should be > 100

    // contents round-trip
    val back = spark.read.parquet(path)
    back.count() shouldBe src.count()

    // CLUSTER BY: within any one partition the cluster keys are sorted
    val onePart = partDirs.head.getAbsolutePath
    val rows = spark.read.parquet(onePart)
      .select(col("o_custkey"), col("o_orderpriority")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    rows.toSeq shouldBe rows.toSeq.sorted
  }

  it should "drop stale gold partitions after a delete-range sink write (DROP + CTAS)" in {
    val s = spark
    import s.implicits._
    val batch = Normalize.normalize(Seq(
      (1L, "2024-03-05 10:00:00"), (2L, "2024-03-06 09:00:00")).toDF("id", "dtmovimento"))
    // the RAW write's dynamic partition overwrite must not change how a
    // later gold snapshot in the same session replaces its table
    Sinks.deleteRangeAppend(batch, "dtmovimento", tmpDir("gold-stale-raw"))
    val path = tmpDir("gold-stale")
    val spec = Materializer.GoldSpec("gold_stale", "dtmovimento_date", Seq("id"))
    Materializer.materialize(batch, spec, path)
    Materializer.materialize(batch.filter(col("id") === 2L), spec, path)
    new File(path).listFiles().map(_.getName).filter(_.startsWith("dtmovimento_date="))
      .toSeq shouldBe Seq("dtmovimento_date=2024-03-06")
    spark.read.parquet(path).count() shouldBe 1
  }

  "materializeAll" should "run the gold battery over all trigger edges (O4)" in {
    val wh = tmpDir("gold-battery")
    // stage RAW tables for the 3 trigger sources
    Seq("orders", "lineitem", "events").foreach { t =>
      Normalize.normalize(Sources.table(spark, sfDir, t))
        .write.mode("overwrite").parquet(s"$wh/raw/$t")
    }
    val done = Materializer.materializeAll(spark, n => s"$wh/raw/$n", n => s"$wh/gold/$n")
    done.toSet shouldBe Set("gold_orders_daily", "gold_lineitem_daily", "gold_events_hourly")
    spark.read.parquet(s"$wh/gold/gold_events_hourly").count() shouldBe 1000
  }

  it should "derive the partition column when missing" in {
    val path = tmpDir("gold-events")
    val spec = Materializer.goldSpecs.find(_.name == "gold_events_hourly").get
    Materializer.materialize(Sources.events(spark, sfDir), spec, path)
    val back = spark.read.parquet(path)
    back.columns should contain("ts_date")
    back.count() shouldBe 1000
  }
}
