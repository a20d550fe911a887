package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.etl.EtlQueries
import graft.ops.{Analytics, Audit, Decomp, EntityRes, Geo, Graph, Layout, Mining, Ml, Multimodal, Privacy, Relational, RelationalExt, Sampling, Similarity, Sketches, Stats, StreamingAnalogs, Temporal, TextOps, TextSignals}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` aggregates every operator family's query map; `oracleSql`
  * carries the DuckDB-equivalent SQL for each hash-checkable query
  * (non-SQL-expressible ops — LSH, SimHash, HLL sketches — are rows-only
  * checked per the contract).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * TPC-H Q1-style pricing summary over normalized lineitem.
    */
  def entry(spark: SparkSession): DataFrame =
    Relational.aggPricingSummary(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    EtlQueries.queries ++
      Relational.queries ++
      RelationalExt.queries ++
      TextOps.queries ++
      TextSignals.queries ++
      Similarity.queries ++
      StreamingAnalogs.queries ++
      Sampling.queries ++
      Multimodal.queries ++
      Analytics.queries ++
      Temporal.queries ++
      Audit.queries ++
      Decomp.queries ++
      Ml.queries ++
      Sketches.queries ++
      Mining.queries ++
      Graph.queries ++
      Stats.queries ++
      Layout.queries ++
      EntityRes.queries ++
      Privacy.queries ++
      Geo.queries

  /** The entries of `known` named in `names`, in that order; no names
    * selects all of `known`. Throws listing every name not in `known`, so
    * a typo fails the run instead of silently selecting nothing.
    */
  def named[A](known: Seq[(String, A)], names: Seq[String]): Seq[(String, A)] = {
    val byName = known.toMap
    val unknown = names.filterNot(byName.contains)
    require(unknown.isEmpty, s"unknown name(s): ${unknown.mkString(", ")}")
    if (names.isEmpty) known else names.map(n => n -> byName(n))
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    EtlQueries.oracles ++
      Relational.oracles ++
      RelationalExt.oracles ++
      TextOps.oracles ++
      TextSignals.oracles ++
      Similarity.oracles ++
      StreamingAnalogs.oracles ++
      Sampling.oracles ++
      Multimodal.oracles ++
      Analytics.oracles ++
      Temporal.oracles ++
      Audit.oracles ++
      Decomp.oracles ++
      Ml.oracles ++
      Sketches.oracles ++
      Mining.oracles ++
      Graph.oracles ++
      Stats.oracles ++
      Layout.oracles ++
      EntityRes.oracles ++
      Privacy.oracles ++
      Geo.oracles
}
