package graft.gold

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

import graft.io.Sinks

/** GOLD-layer materializer (reference `materialize_gold.py:42-79`).
  *
  * The reference emits `DROP TABLE IF EXISTS` + `CREATE TABLE … PARTITION BY
  * DATE(col) CLUSTER BY c1,c2,c3 AS SELECT * FROM view` to BigQuery
  * (`materialize_gold.py:63-74`). The Spark-native equivalent:
  *
  *  - PARTITION BY  -> `df.write.partitionBy(dateCol)` (directory layout =
  *    partition pruning for readers);
  *  - CLUSTER BY    -> `sortWithinPartitions(clusterCols)` (intra-file
  *    ordering = Parquet row-group min/max skipping on the cluster keys —
  *    the same scan-reduction BigQuery clustering buys);
  *  - DROP + CTAS   -> `SaveMode.Overwrite` (static: the whole table is
  *    replaced, so a day missing from the view leaves no stale partition).
  *
  * `repartition(partitionCol)` before the sorted write keeps one task per
  * date partition writing one file, instead of every task writing a sliver
  * of every partition — at 1000 executors that is the difference between
  * p×t small files and p files.
  *
  * The write starts from [[Sinks.writer]], like every RAW write: its two
  * per-write Hadoop options put the gold table's files on
  * [[graft.io.LocalFs]], which sets each file's, sidecar's and
  * directory's permissions in process instead of forking a `chmod`. They
  * are options of this write, not session conf, so no other read or
  * write in the session changes filesystem; the filesystem cache is
  * disabled for the write because the cached `file:` instance would
  * otherwise be returned whatever `fs.file.impl` says.
  */
object Materializer {

  final case class GoldSpec(
      name: String,
      partitionCol: String,
      clusterCols: Seq[String],
  )

  /** The 3 gold tables (reference `TABLES_TO_OPTIMIZE`,
    * `materialize_gold.py:26-39`: partition `DTMOVIMENTO`, cluster
    * `EMPRESA`/product/section), re-keyed to fixture columns.
    */
  val goldSpecs: Seq[GoldSpec] = Seq(
    GoldSpec("gold_orders_daily", "o_orderdate_date", Seq("o_custkey", "o_orderpriority")),
    GoldSpec("gold_lineitem_daily", "l_shipdate_date", Seq("l_suppkey", "l_partkey")),
    GoldSpec("gold_events_hourly", "ts_date", Seq("user_id", "event_type")),
  )

  /** Gold battery mode (reference `materialize_gold.py:104-137`, O4):
    * materialize every gold spec sequentially from its RAW table.
    */
  def materializeAll(spark: org.apache.spark.sql.SparkSession,
      rawPathFor: String => String, goldPathFor: String => String): Seq[String] = {
    val rawByGold = graft.model.ServiceSpec.triggerMap.map(_.swap)
    goldSpecs.map { spec =>
      val rawName = rawByGold.getOrElse(spec.name,
        throw new IllegalStateException(s"no RAW trigger edge for ${spec.name}"))
      materialize(spark.read.parquet(rawPathFor(rawName)), spec, goldPathFor(spec.name))
      spec.name
    }
  }

  /** Snapshot `view` into a partitioned + clustered table at `path`.
    * Returns the rows of `view` the write consumed, observed in the
    * write's own job — the gold table's row count, and, when `view` is a
    * whole RAW table, that table's row count too.
    */
  def materialize(view: DataFrame, spec: GoldSpec, path: String): Long = {
    val counted = new Sinks.RowCount(view)
    val base =
      if (view.columns.contains(spec.partitionCol)) counted.df
      else {
        val src = spec.partitionCol.stripSuffix("_date")
        counted.df.withColumn(spec.partitionCol, to_date(col(src)))
      }
    val clustered = base
      // explicit count (r14): same fix as Sinks.deleteRangeAppend — a
      // count-less keyed repartition gets AQE-coalesced to one task on
      // tiny-byte batches and that task pays every partition
      // directory's file-create serially (measured 2.5 s for the gold
      // write inside the e2e pipeline). One day still maps to exactly
      // one task, so the one-file-per-day layout is unchanged.
      .repartition(math.max(2, view.sparkSession.sparkContext.defaultParallelism),
        col(spec.partitionCol))
      .sortWithinPartitions(spec.clusterCols.map(col): _*)
    Sinks.writer(clustered)
      .mode(SaveMode.Overwrite)
      .partitionBy(spec.partitionCol)
      .parquet(path)
    counted.rows(path)
  }
}
