package graft.io

import java.time.LocalDate

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.StructType

import graft.SparkSpec
import graft.etl.Pipeline
import graft.model.ServiceSpec.DateRange
import graft.model.{LoadMode, RangeGrain, ServiceSpec}

/** Reads whose schema the program already knows: the footer-derived
  * source schema equals the one Spark's inference job would produce, and
  * so does the schema a RAW readback takes from the frame written there.
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
      Sources.tableNames.foreach { name =>
        // events sets nanosAsLong first: the inferred read needs it too
        val read = scanSchema(Sources.table(spark, dir, name))
        withClue(s"$sf/$name: ") {
          read shouldBe spark.read.parquet(s"$dir/$name.parquet").schema
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
