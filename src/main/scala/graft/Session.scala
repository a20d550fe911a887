package graft

import java.util.UUID
import java.util.concurrent.{CountDownLatch, TimeUnit, TimeoutException}

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftshim.Classic

/** The one SparkSession factory. `Bench`, `Verify`, `Main`, `Probe` and
  * the test session all start here, so their sessions differ only in the
  * core count: Graft's SQL functions, `local[cores]` with one shuffle
  * partition per core, the UTC session time zone (timestamps format and
  * truncate the same on every host), no UI, WARN logging. Anything else
  * comes from Spark's own `-Dspark.*` system properties. No other code
  * writes a session's conf: every table and query of a run shares one
  * session, so a write anywhere else would reach every later plan.
  */
object Session {

  /** `SPARK_GRAFT_CPUS`, else every core the JVM sees. */
  val defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def apply(cores: Int = defaultCores): SparkSession = {
    val spark = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** A copy of `spark` that plans with AQE off, for
    * [[graft.io.Checkpoints.pinLayout]]. The copy starts with every key
    * set on `spark` at run time (shuffle partitions,
    * `spark.graft.checkpoint.*`); turning AQE off on it leaves `spark`
    * as it was.
    */
  def withoutAqe(spark: SparkSession): SparkSession = {
    val copy = Classic.cloneSession(spark)
    copy.conf.set("spark.sql.adaptive.enabled", "false")
    copy
  }

  /** Returns once every listener event posted before the call has reached
    * the listeners added with `addSparkListener`. They share one queue,
    * which delivers in order, so a sentinel job started now is seen last:
    * it runs no stage (no partitions), and its start event, tagged through
    * a local property of this thread, ends the wait.
    */
  def drainListeners(sc: SparkContext): Unit = {
    val key = "graft.drain"
    val tag = UUID.randomUUID().toString
    val seen = new CountDownLatch(1)
    val sentinel = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(key) == tag)) seen.countDown()
    }
    sc.addSparkListener(sentinel)
    try {
      sc.setLocalProperty(key, tag)
      sc.emptyRDD[Int].count()
      if (!seen.await(30, TimeUnit.SECONDS))
        throw new TimeoutException("the sentinel job never reached the listener bus")
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(sentinel)
    }
  }
}
