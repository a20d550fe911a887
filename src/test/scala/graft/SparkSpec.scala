package graft

import java.util.{Properties, UUID}
import java.util.concurrent.ConcurrentLinkedQueue

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
    * pass it on to their broadcast threads); [[Session.drainListeners]]
    * then waits until every job of `body` has been recorded.
    */
  def jobsStartedBy(body: => Unit): Seq[Properties] = {
    val sc = spark.sparkContext
    val key = "graft.test.jobTag"
    val tag = UUID.randomUUID().toString
    val jobs = new ConcurrentLinkedQueue[Properties]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(key) == tag)) jobs.add(e.properties): Unit
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(key, tag)
      body
      sc.setLocalProperty(key, null)
      Session.drainListeners(sc)
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
