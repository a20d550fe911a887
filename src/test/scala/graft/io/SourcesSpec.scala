package graft.io

import java.time.LocalDate

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.{StructType, TimestampType}

import graft.SparkSpec
import graft.etl.Pipeline
import graft.model.ServiceSpec.DateRange
import graft.model.{LoadMode, RangeGrain, ServiceSpec}

/** Reads whose schema the program already knows: the footer-derived
  * source schema equals the one Spark's inference job would produce, and
  * so does the schema a RAW readback takes from the frame written there.
  * A nanosecond `events.ts` is read as microseconds without writing the
  * session's conf.
  */
class SourcesSpec extends SparkSpec {

  /** The schema the read scans with: its leaf relation's, before any
    * projection `Sources` adds on top.
    */
  private def scanSchema(df: DataFrame): StructType =
    df.queryExecution.analyzed.collectLeaves().head.schema

  /** Equal multisets: as many rows, none of `a` missing from `b`. */
  private def sameRows(a: DataFrame, b: DataFrame): Unit = {
    a.count() shouldBe b.count()
    a.exceptAll(b).isEmpty shouldBe true
  }

  for (sf <- Seq("sf0.001", "sf0.01")) {
    "Sources.table" should s"read every $sf table with the schema Spark infers" in {
      val dir = s"/root/testdata/$sf"
      // an ns events.ts converts to a long only under nanosAsLong, which
      // Sources.events applies to its footer: infer under it too
      val nanos = spark.newSession()
      nanos.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      Sources.tableNames.foreach { name =>
        val read = scanSchema(Sources.table(spark, dir, name))
        withClue(s"$sf/$name: ") {
          read shouldBe (if (name == "events") nanos else spark).read.parquet(s"$dir/$name.parquet").schema
        }
      }
    }
  }

  it should "read a Spark-written directory, empty or of several files, as inference does" in {
    val dir = tmpDir("src-dirs")
    Sources.events(spark, sfDir).filter(lit(false)).write.parquet(s"$dir/events.parquet")
    Sources.orders(spark, sfDir).repartition(3).write.parquet(s"$dir/orders.parquet")

    val events = Sources.events(spark, dir)
    scanSchema(events) shouldBe spark.read.parquet(s"$dir/events.parquet").schema
    events.count() shouldBe 0

    val orders = Sources.orders(spark, dir)
    scanSchema(orders) shouldBe spark.read.parquet(s"$dir/orders.parquet").schema
    sameRows(orders, Sources.orders(spark, sfDir))
  }

  it should "start no Spark job" in {
    jobsStartedBy(Sources.table(spark, sfDir, "orders")) shouldBe empty
    jobsStartedBy(Sources.events(spark, sfDir)) shouldBe empty
  }

  it should "read a nanosecond events.ts as microseconds, writing no session conf" in {
    // no fixture stores ts in ns, so write one: INT64 TIMESTAMP(NANOS), as
    // pyarrow writes a tz-naive ns column; sub-microsecond digits and a
    // negative value truncate toward zero, as `div` does
    val nanos = Seq(0L, 999L, 1000L, 1500000001L, 1700000000123456789L, -1500L)
    val file = s"${tmpDir("src-nanos")}/events.parquet"
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,false)); }")
    val writer = ExampleParquetWriter.builder(new Path(file)).withType(schema)
      .withConf(new Configuration()).build()
    val groups = new SimpleGroupFactory(schema)
    try nanos.zipWithIndex.foreach { case (ns, i) =>
      writer.write(groups.newGroup().append("event_id", i.toLong).append("ts", ns))
    } finally writer.close()

    // a fresh session: the shared one may carry conf written by other suites
    val fresh = spark.newSession()
    val before = fresh.conf.getAll
    val events = Sources.events(fresh, file.stripSuffix("/events.parquet"))
    events.schema("ts").dataType shouldBe TimestampType
    events.selectExpr("event_id", "unix_micros(ts)").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1).toSeq shouldBe
      nanos.zipWithIndex.map { case (ns, i) => i.toLong -> ns / 1000 }
    fresh.conf.getAll shouldBe before
  }

  "Pipeline.readRaw" should "read RAW with the schema and rows of an inferred read" in {
    val wh = tmpDir("wh-readraw")
    val p = new Pipeline(spark, sfDir, wh)
    p.runTable(ServiceSpec("region", None, LoadMode.FullTruncate, RangeGrain.Full))
    p.runTable(ServiceSpec("orders", Some("o_orderdate"), LoadMode.IncrementalByDate, RangeGrain.Monthly),
      historical = Some(DateRange(LocalDate.parse("1997-01-01"), LocalDate.parse("1997-03-31"))))
    Seq("region", "orders").foreach { name =>
      withClue(s"$name: ") {
        val inferred = spark.read.parquet(s"$wh/raw/$name")
        p.readRaw(name).schema shouldBe inferred.schema
        sameRows(p.readRaw(name), inferred)
      }
    }
  }
}
