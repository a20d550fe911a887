package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory. `Bench`, `Verify`, `Main`, `Probe` and
  * the test session all start here, so their sessions differ only in the
  * core count: Graft's SQL functions, `local[cores]` with one shuffle
  * partition per core, the UTC session time zone (timestamps format and
  * truncate the same on every host), no UI, WARN logging. Anything else
  * comes from Spark's own `-Dspark.*` system properties.
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
}
