package graft.io

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.util.{Failure, Try}

import org.apache.spark.sql.DataFrame

import graft.SparkSpec

/** Regression for the nested-build crash: a `Materialized.of` block that
  * itself calls `Materialized.of` (the undirected-edge table computing
  * the edge table) must not throw. The old computeIfAbsent
  * implementation died with "Recursive update" whenever the two keys
  * hashed to the same ConcurrentHashMap bin — collision-dependent, so
  * it surfaced only on specific (label, fixture) combinations.
  */
class MaterializedSpec extends SparkSpec {

  "Materialized.of" should "allow a build to nest another build" in {
    import spark.implicits._
    // many nested pairs so at least some keys share a bin
    (1 to 64).foreach { i =>
      val outer = Materialized.of(spark, s"mat-spec-outer-$i") {
        val inner = Materialized.of(spark, s"mat-spec-inner-$i") {
          Seq(i).toDF("x")
        }
        inner.selectExpr("x * 2 AS y")
      }
      outer.collect().map(_.getInt(0)).toSeq shouldBe Seq(i * 2)
    }
  }

  it should "return the cached frame on the second call" in {
    import spark.implicits._
    var builds = 0
    def get() = Materialized.of(spark, "mat-spec-count") {
      builds += 1; Seq(1).toDF("x")
    }
    get(); get()
    builds shouldBe 1
  }

  /** Two callers of one label used to build it once each (check, then
    * putIfAbsent). The build here waits up to 2 s for a second build to
    * reach the same latch, which happens only if both callers build.
    */
  it should "build a label once when two threads request it together" in {
    import spark.implicits._
    val builds = new AtomicInteger(0)
    val bothBuilding = new CountDownLatch(2)
    val frames = inParallel(2) {
      Materialized.of(spark, "mat-spec-once") {
        builds.incrementAndGet()
        bothBuilding.countDown()
        bothBuilding.await(2, TimeUnit.SECONDS)
        Seq(1).toDF("x")
      }
    }
    builds.get() shouldBe 1
    frames(0) should be theSameInstanceAs frames(1)
  }

  it should "hand a failed build to its waiters and build again on the next call" in {
    import spark.implicits._
    val builds = new AtomicInteger(0)
    val started = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    def get(): DataFrame = Materialized.of(spark, "mat-spec-fails") {
      if (builds.incrementAndGet() == 1) {
        started.countDown()
        release.await(10, TimeUnit.SECONDS)
        throw new IllegalStateException("build failed")
      }
      Seq(2).toDF("x")
    }
    val builder = new Caller(get())
    builder.start()
    started.await(10, TimeUnit.SECONDS) shouldBe true
    val waiter = new Caller(get())
    waiter.start()
    // the waiter is parked on the in-flight build before it fails
    val deadline = System.nanoTime() + 10e9.toLong
    while (waiter.getState != Thread.State.TIMED_WAITING && System.nanoTime() < deadline)
      Thread.sleep(10)
    waiter.getState shouldBe Thread.State.TIMED_WAITING
    release.countDown()
    Seq(builder, waiter).foreach { t =>
      t.join(10000)
      t.result.failed.get.getMessage shouldBe "build failed"
    }
    builds.get() shouldBe 1
    get().collect().map(_.getInt(0)).toSeq shouldBe Seq(2)
    builds.get() shouldBe 2
  }

  /** A thread that records what `body` returned or threw. */
  private class Caller(body: => DataFrame) extends Thread {
    @volatile var result: Try[DataFrame] = Failure(new IllegalStateException("not run"))
    override def run(): Unit = result = Try(body)
  }

  private def inParallel(n: Int)(body: => DataFrame): Seq[DataFrame] = {
    val callers = Seq.fill(n)(new Caller(body))
    callers.foreach(_.start())
    callers.map { t => t.join(30000); t.result.get }
  }
}
