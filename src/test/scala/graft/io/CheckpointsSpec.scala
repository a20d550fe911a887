package graft.io

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ops.{Dedup, Prefix}

/** The reliable-checkpoint toggle must be a pure storage-policy switch:
  * every pinned operator (two-pass prefix, iterative CC) returns
  * identical rows with it on, the checkpoint files actually land in the
  * configured directory, and a half-configured session (reliable with
  * no dir anywhere) fails loudly instead of silently degrading. A
  * layout pin keeps its hash partitioning without touching the session's
  * conf.
  */
class CheckpointsSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def withReliable[T](body: => T): T = {
    val dir = tmpDir("graft-ckpt")
    spark.conf.set(Checkpoints.ReliableKey, "true")
    spark.conf.set(Checkpoints.DirKey, dir)
    try body
    finally {
      spark.conf.set(Checkpoints.ReliableKey, "false")
      spark.conf.unset(Checkpoints.DirKey)
    }
  }

  private lazy val df = spark.range(0, 500).toDF("id")
    .withColumn("k", (col("id") * 2654435761L) % 89)
    .withColumn("v", (col("id") * 7919L) % 1021)

  "Checkpoints.pin" should "write reliable checkpoint files when toggled on" in {
    withReliable {
      Checkpoints.pin(df).count() shouldBe 500
      val root = new java.io.File(
        spark.sparkContext.getCheckpointDir.get.stripPrefix("file:"))
      root.exists() shouldBe true
    }
  }

  it should "fail loudly when reliable is set but no dir is configured" in {
    // a context-level dir may already be installed by the test above;
    // this asserts the contract only when none is present
    if (spark.sparkContext.getCheckpointDir.isEmpty) {
      spark.conf.set(Checkpoints.ReliableKey, "true")
      try {
        an[IllegalStateException] should be thrownBy Checkpoints.pin(df).count()
      } finally spark.conf.set(Checkpoints.ReliableKey, "false")
    }
  }

  /** Shuffle exchanges of `df`'s physical plan, inside AQE's plan too. */
  private def shuffles(df: DataFrame): Int =
    collect(df.queryExecution.executedPlan) { case e: ShuffleExchangeLike => e }.size

  "Checkpoints.pinLayout" should "keep the hash layout, so a groupBy on its key plans no shuffle" in {
    // a fresh session: the shared one may carry conf written by other suites
    val fresh = spark.newSession()
    val before = fresh.conf.getAll
    // a new frame per pin: a frame keeps the physical plan it was first planned with
    def keyed = fresh.range(0, 500).toDF("id").withColumn("k", col("id") % 89)
      .repartition(3, col("k"))
    val pinned = Checkpoints.pinLayout(keyed)
    pinned.queryExecution.executedPlan.outputPartitioning match {
      case HashPartitioning(Seq(k: Attribute), n) => (k.name, n) shouldBe (("k", 3))
      case other => fail(s"pinLayout lost the layout: $other")
    }
    val counts = pinned.groupBy("k").count()
    shuffles(counts) shouldBe 0
    shuffles(Checkpoints.pin(keyed).groupBy("k").count()) shouldBe 1
    counts.collect().map(_.getLong(1)).sum shouldBe 500
    pinned.sparkSession shouldBe fresh
    fresh.conf.getAll shouldBe before
  }

  "Prefix.running" should "be unchanged under reliable checkpointing" in {
    val order = Seq(col("k").desc, col("id").asc)
    def run() = Prefix.running(df, order,
        rankOut = Some("rk"), sums = Seq(col("v") -> "cum_v"))
      .select("id", "rk", "cum_v").orderBy("rk")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val base = run()
    val rel = withReliable(run())
    rel shouldBe base
  }

  "connectedGroups" should "be unchanged under reliable checkpointing" in {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L))
      .toDF("id_a", "id_b")
    val nodes = (1L to 30L).toDF("id")
    // localFinishEdges = 0 forces the distributed star rounds — the
    // path whose per-round pins the reliable toggle redirects
    def run() = Dedup.connectedGroupsWithStats(pairs, nodes, "id",
        localFinishEdges = 0L)._1
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val base = run()
    val rel = withReliable(run())
    rel shouldBe base
  }
}
