package graft.io

import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.{LongType, TimestampNTZType}

/** Fixture/table readers.
  *
  * The reference's source is a paginated REST scan with a source-pushed
  * BETWEEN predicate (`utils.py:150-235`); the harness form is a Parquet
  * scan, where Catalyst provides the same pushdown automatically
  * (`PushedFilters` on the date column reach the Parquet row-group stats).
  * Explicit per-table accessors keep call sites typo-safe.
  *
  * Every read carries its schema: the driver reads one source file's
  * footer and converts it exactly as Spark's own inference does. A bare
  * `spark.read.parquet(path)` would instead launch a one-task job outside
  * any SQL execution to read that footer, and on a busy session that job
  * queues behind other tables' write tasks.
  */
object Sources {

  val tableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Fixture parquet may carry timestamps either UTC-adjusted (read as
    * TIMESTAMP) or timezone-naive (read as TIMESTAMP_NTZ under Spark 4's
    * `inferTimestampNTZ` default). Every session here runs with
    * `spark.sql.session.timeZone=UTC`, so casting NTZ back to TIMESTAMP is
    * value-preserving and gives all downstream operators (`unix_micros`,
    * watermarks, interval joins) one consistent instant type — the same
    * wall-clock values DuckDB's naive reader hands the oracle.
    */
  private def normalizeTs(df: DataFrame): DataFrame =
    df.schema.fields.foldLeft(df) { (acc, f) =>
      if (f.dataType == TimestampNTZType) acc.withColumn(f.name, col(f.name).cast("timestamp"))
      else acc
    }

  /** `path` read with the schema of its parquet footer, which the driver
    * reads itself. The footer is converted by the function and session
    * conf Spark's schema inference applies to it
    * (`ParquetFileFormat.readSchemaFromFooter`), so the schema equals the
    * inferred one and no inference job runs. `path` is one file or a flat
    * Spark-written directory; for a directory the first data file stands
    * for all, skipping `_`/`.` names as inference does.
    */
  private[graft] def readParquet(spark: SparkSession, path: String): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val status = fs.getFileStatus(root)
    val file =
      if (!status.isDirectory) status
      else fs.listStatus(root)
        .filter(f => f.isFile && !f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith("."))
        .sortBy(_.getPath.getName).headOption
        .getOrElse(throw new IllegalArgumentException(s"$path: no parquet data file"))
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(file, conf),
      HadoopReadOptions.builder(conf).withMetadataFilter(SKIP_ROW_GROUPS).build())
    val footer = try reader.getFooter finally reader.close()
    val schema = ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
    spark.read.schema(schema).parquet(path)
  }

  /** Generic accessor — routes `events` through its ns-timestamp handling
    * so every caller (Pipeline, gold battery, tests) gets a readable ts.
    */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") events(spark, sfDir)
    else normalizeTs(readParquet(spark, s"$sfDir/$name.parquet"))

  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  /** `events.ts` is nanosecond-precision in the fixture parquet, which
    * Spark's vectorized reader rejects as a timestamp; read it as raw
    * nanos (`legacy.parquet.nanosAsLong`) and truncate to Spark's native
    * microsecond timestamps (`ts div 1000` in integer space — a double
    * division would lose precision above 2^53 ns). The footer is read
    * after the conf is set, so its ns column converts to a long.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = readParquet(s, s"$d/events.parquet")
    normalizeTs(
      if (raw.schema("ts").dataType == LongType)
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      else raw)
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
