package graft

import java.util.{Properties, UUID}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/** Shared local SparkSession for specs: the [[Session]] factory at 4 cores. */
trait SparkSpec extends AnyFlatSpec with Matchers with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSpec.session

  val sfDir = "/root/testdata/sf0.001"

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** The properties of every Spark job `body` starts. Jobs are context-wide
    * and suites may share the context, so `body` runs with a fresh tag in
    * a local property of this thread, which its jobs carry (SQL executions
    * pass it on to their broadcast threads). The listener bus is in order:
    * once a sentinel job started after `body` is seen, every job of
    * `body` has been recorded.
    */
  def jobsStartedBy(body: => Unit): Seq[Properties] = {
    val sc = spark.sparkContext
    val key = "graft.test.jobTag"
    val tag = UUID.randomUUID().toString
    val sentinel = s"$tag-sentinel"
    val jobs = new ConcurrentLinkedQueue[Properties]()
    val sentinelSeen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(key))) match {
          case Some(`tag`) => jobs.add(e.properties): Unit
          case Some(`sentinel`) => sentinelSeen.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(key, tag)
      body
      sc.setLocalProperty(key, sentinel)
      sc.parallelize(Seq(1), 1).count()
      assert(sentinelSeen.await(30, TimeUnit.SECONDS), "the sentinel job never reached the listener")
      jobs.asScala.toSeq
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(listener)
    }
  }
}

object SparkSpec {
  lazy val session: SparkSession = Session(4)
}
