package graft

import java.io.File

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.JaroWinkler
import graft.io.{Sinks, Sources}

/** The replicated fixtures `Probe scale` times the declared queries on:
  * row counts, key types, replica 0, key-disjoint replicas, part names
  * whose pairs score as in the fixture, the `_SUCCESS`-gated cache kept
  * apart from caches of older rules, and the growth exponent.
  */
class ScaleReplicaSpec extends SparkSpec {

  private lazy val root = tmpDir("graft-scale")
  private lazy val dir = Probe.replica(spark, sfDir, 2, root)

  private val dimensions = Seq("nation", "region", "supplier")
  private val replicated = Sources.tableNames.filterNot(dimensions.contains)

  /** The first key column of each replicated table: it tells the replica. */
  private val firstKey = Map(
    "customer" -> "c_custkey", "part" -> "p_partkey", "orders" -> "o_orderkey",
    "lineitem" -> "l_orderkey", "events" -> "event_id", "documents" -> "doc_id",
    "embeddings" -> "vec_id")

  private def fixture(t: String): DataFrame = Sources.table(spark, sfDir, t)
  private def copy(t: String): DataFrame = Sources.table(spark, dir, t)
  private def rowsOf(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  "Probe.replica" should "serve the fixture itself at k = 1" in {
    Probe.replica(spark, sfDir, 1, root) shouldBe sfDir
  }

  it should "double the fact and entity tables and copy the three small dimensions" in {
    firstKey.keySet shouldBe replicated.toSet
    replicated.foreach(t => withClue(t) { copy(t).count() shouldBe 2 * fixture(t).count() })
    dimensions.foreach(t => withClue(t) { rowsOf(copy(t)) shouldBe rowsOf(fixture(t)) })
  }

  it should "keep every column's type, key columns included" in {
    Sources.tableNames.foreach { t =>
      withClue(t) {
        copy(t).schema.map(f => f.name -> f.dataType) shouldBe fixture(t).schema.map(f => f.name -> f.dataType)
      }
    }
  }

  it should "hold the fixture row for row in replica 0" in {
    replicated.foreach { t =>
      withClue(t) { rowsOf(copy(t).filter(col(firstKey(t)) < Probe.KeyOffset)) shouldBe rowsOf(fixture(t)) }
    }
  }

  /** (p_partkey within its replica, p_brand, p_name) of replica `r`. */
  private def parts(r: Int): Seq[(Long, String, String)] =
    copy("part").filter(col("p_partkey") >= r * Probe.KeyOffset && col("p_partkey") < (r + 1) * Probe.KeyOffset)
      .select("p_partkey", "p_brand", "p_name").collect().toSeq
      .map(row => (row.getLong(0) - r * Probe.KeyOffset, row.getString(1), row.getString(2)))
      .sortBy(_._1)

  it should "rotate every part-name letter of replica 1 by one" in {
    val rotated = parts(0).map { case (key, brand, name) =>
      (key, brand, name.map(c => if (c >= 'a' && c <= 'z') ('a' + (c - 'a' + 1) % 26).toChar else c))
    }
    rotated should not be empty
    parts(1) shouldBe rotated
    parts(1).map(_._3) should not equal parts(0).map(_._3)
  }

  it should "keep replica 1's within-brand Jaro-Winkler >= 0.9 pair count equal to replica 0's" in {
    def pairs(r: Int): Int = parts(r).groupBy(_._2).values.map { block =>
      block.combinations(2).count { case Seq(a, b) =>
        JaroWinkler.similarity(UTF8String.fromString(a._3), UTF8String.fromString(b._3)) >= 0.9
      }
    }.sum
    pairs(0) should be > 0
    pairs(1) shouldBe pairs(0)
  }

  it should "refuse a scale with more replicas than letter rotations" in {
    an[IllegalArgumentException] should be thrownBy Probe.replica(spark, sfDir, Probe.MaxScale + 1, root)
    new File(s"$root/${Probe.ReplicaRule}/x${Probe.MaxScale + 1}").exists() shouldBe false
  }

  it should "match no key across replicas: the fact-fact and fact-entity joins double" in {
    def joins(d: String) = {
      val li = Sources.lineitem(spark, d)
      val ord = Sources.orders(spark, d)
      (li.join(ord, col("l_orderkey") === col("o_orderkey")).count(),
        ord.join(Sources.customer(spark, d), col("o_custkey") === col("c_custkey")).count())
    }
    val (liOrd, ordCust) = joins(sfDir)
    liOrd should be > 0L
    ordCust should be > 0L
    joins(dir) shouldBe ((2 * liOrd, 2 * ordCust))
  }

  it should "rebuild a table whose directory has no _SUCCESS marker and keep the others" in {
    val orders = new File(s"$dir/orders.parquet")
    val lineitem = new File(s"$dir/lineitem.parquet")
    val lineitemFiles = lineitem.list().toSet
    val lineitemMtime = new File(lineitem, "_SUCCESS").lastModified()
    // an interrupted write: only Spark's _temporary directory is left
    orders.listFiles().foreach(f => if (f.isFile) f.delete())
    new File(orders, "_temporary").mkdirs()
    Probe.replica(spark, sfDir, 2, root) shouldBe dir
    new File(orders, "_SUCCESS").exists() shouldBe true
    copy("orders").count() shouldBe 2 * fixture("orders").count()
    lineitem.list().toSet shouldBe lineitemFiles
    new File(lineitem, "_SUCCESS").lastModified() shouldBe lineitemMtime
  }

  it should "never read a cache written under an older replica rule" in {
    // an older rule's cache, complete (_SUCCESS) at <root>/x2: its part
    // table holds one copy of the fixture, not two
    Sinks.writer(fixture("part")).mode("overwrite").parquet(s"$root/x2/part.parquet")
    Probe.replica(spark, sfDir, 2, root) shouldBe dir
    copy("part").count() shouldBe 2 * fixture("part").count()
  }

  "the declared queries" should "run on the replica" in {
    Seq("agg_pricing_summary", "graph_pagerank_parts").foreach { name =>
      withClue(name) {
        val fn = SparkEntry.queries(name)
        Bench.action(fn(spark, dir)) shouldBe Bench.action(fn(spark, sfDir))
      }
    }
  }

  "Probe.growthExponent" should "read linear growth as 1.0 and need two scales" in {
    Probe.growthExponent(Seq(1, 4), Seq(1.0, 4.0)).get shouldBe 1.0 +- 1e-12
    Probe.growthExponent(Seq(1, 4, 16), Seq(2.0, 3.0, 2.0)).get shouldBe 0.0 +- 1e-12
    Probe.growthExponent(Seq(4), Seq(1.0)) shouldBe None
  }
}
