package graft.etl

import org.apache.spark.SparkFiles
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Sources
import graft.transform.Normalize

/** Oracle-checkable query forms of the reference's ETL semantics
  * (SURVEY §2.1-2.3): normalization, range filtering, delete-range
  * idempotent merge, and batch planning. These express the *relational
  * meaning* of each pipeline step so the DuckDB oracle can verify it; the
  * physical write paths live in [[graft.io.Sinks]] and are exercised by
  * ScalaTest (run-twice idempotency, partition layout).
  */
object EtlQueries {

  /** P1+P2: date normalization to canonical string + typed day twin
    * (reference `utils.py:300-307`).
    */
  def etlNormalizeDates(s: SparkSession, d: String): DataFrame = {
    val norm = Normalize.normalize(Sources.orders(s, d))
    norm.select(
      col("o_orderkey"),
      col("o_orderdate"), // canonical "yyyy-MM-dd HH:mm:ss" string
      date_format(col("o_orderdate_ts"), "yyyy-MM-dd").as("o_orderdate_day"),
    ).orderBy("o_orderkey")
  }

  /** P4/S2: the BETWEEN predicate with reference-style widened bounds
    * (`utils.py:166-187`) — pushed down to the Parquet scan by Catalyst.
    */
  def etlRangeFilter(s: SparkSession, d: String): DataFrame =
    Sources.lineitem(s, d)
      .filter(col("l_shipdate").between(lit("1996-03-01 00:00:00"), lit("1996-03-31 23:59:59")))
      .select(
        col("l_orderkey"), col("l_linenumber"),
        date_format(col("l_shipdate"), "yyyy-MM-dd").as("ship_day"),
        round(col("l_quantity"), 2).as("l_quantity"),
      )
      .orderBy("l_orderkey", "l_linenumber")

  /** S5: delete-range + append as a relational expression — `(old outside
    * window) UNION ALL (new batch inside window)` (reference
    * `utils.py:390-398`). The "new batch" here is the window re-extracted
    * with a marker transform so the merge is observable.
    */
  def etlIdempotentMerge(s: SparkSession, d: String): DataFrame = {
    val li = Sources.lineitem(s, d)
    val inWindow = col("l_shipdate").between(lit("1997-01-01 00:00:00"), lit("1997-01-31 23:59:59"))
    val old = li.filter(!inWindow)
    val fresh = li.filter(inWindow).withColumn("l_quantity", col("l_quantity") * 2)
    old.unionByName(fresh)
      .groupBy(date_format(col("l_shipdate"), "yyyy-MM").as("ship_month"))
      .agg(count(lit(1)).as("n_rows"), round(sum("l_quantity"), 2).as("sum_qty"))
      .orderBy("ship_month")
  }

  /** B1: monthly batch planning as data — the generated month spine joined
    * back to facts (reference `get_monthly_ranges`, `config.py:152-172`).
    * Months with no orders stay present with n_orders = 0 (left join), the
    * same set of batches the reference would schedule.
    */
  def etlMonthlyBatches(s: SparkSession, d: String): DataFrame = {
    val months = s.range(1).select(
      explode(sequence(
        to_date(lit("1995-01-01")), to_date(lit("2001-12-01")),
        expr("interval 1 month"))).as("month_start"))
    months
      .join(Sources.orders(s, d), trunc(col("o_orderdate"), "MM") === col("month_start"), "left")
      .groupBy(date_format(col("month_start"), "yyyy-MM").as("batch_month"))
      .agg(count(col("o_orderkey")).as("n_orders"), round(sum("o_totalprice"), 2).as("sum_price"))
      .orderBy("batch_month")
  }

  /** B5: the recent-refresh window re-pull (reference `utils.py:406-451`):
    * re-extract `[anchor - 7 days, anchor]` and merge idempotently. Anchor
    * is fixed (not current_date) so the oracle is reproducible.
    */
  def etlRefreshWindow(s: SparkSession, d: String): DataFrame = {
    val anchor = "2001-07-15"
    Sources.lineitem(s, d)
      .filter(to_date(col("l_shipdate")).between(date_sub(to_date(lit(anchor)), 7), to_date(lit(anchor))))
      .groupBy(date_format(col("l_shipdate"), "yyyy-MM-dd").as("ship_day"))
      .agg(count(lit(1)).as("n_rows"), round(sum("l_extendedprice"), 2).as("sum_price"))
      .orderBy("ship_day")
  }

  /** The FULL pipeline as an oracle-checked query: run the incremental
    * orders load (monthly ranges → normalize → delete-range write → gold
    * trigger) into a scratch warehouse, read the RAW table back, and
    * aggregate — the oracle computes the same aggregate straight from the
    * source, so parquet round-trip + normalization + partitioned write are
    * all under the hash check. Each call gets a fresh warehouse under
    * the SparkContext's scratch root, so concurrent calls and sessions
    * never share one, and it is deleted when the context stops.
    */
  def etlPipelineE2e(s: SparkSession, d: String): DataFrame = {
    val wh = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(SparkFiles.getRootDirectory()), "graft_e2e_wh_").toString
    val p = new Pipeline(s, d, wh)
    p.runTable(
      graft.model.ServiceSpec("orders", Some("o_orderdate"),
        graft.model.LoadMode.IncrementalByDate, graft.model.RangeGrain.Monthly),
      historical = Some(graft.model.ServiceSpec.DateRange(
        java.time.LocalDate.parse("1996-01-01"), java.time.LocalDate.parse("1996-06-30"))))
    p.readRaw("orders")
      .groupBy(date_format(col("o_orderdate_ts"), "yyyy-MM").as("order_month"))
      .agg(count(lit(1)).as("n_orders"), round(sum("o_totalprice"), 2).as("sum_price"))
      .orderBy("order_month")
  }

  /** CDC apply over the event stream: treat each event as a change record
    * for its user (op = delete when `event_type = 'error'`, upsert
    * otherwise) and collapse to current state with
    * [[graft.ops.Dedup.cdcApply]] — latest change wins, tombstoned keys
    * drop out. The batch form of applying a binlog/Debezium feed; one
    * user-keyed window shuffle.
    */
  def etlCdcApply(s: SparkSession, d: String): DataFrame =
    graft.ops.Dedup.cdcApply(
        Sources.events(s, d)
          .withColumn("op", when(col("event_type") === "error", "D").otherwise("U")),
        keys = Seq("user_id"), orderCols = Seq("ts", "event_id"),
        opCol = "op", deleteOp = "D")
      .select(col("user_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts"),
        col("event_type").as("last_type"), round(col("value"), 2).as("value"))
      .orderBy("user_id")

  /** Incremental view maintenance: the month-grain revenue view kept as
    * PARTIAL-aggregate state (exact decimal sums + counts) and advanced
    * by merging a delta batch's partials — re-aggregating two partial
    * tables, never re-scanning history. This is the 100 TB refresh
    * shape: the state table is months-sized, the delta is one batch, and
    * the merge is sum-of-sums / sum-of-counts (both algebraic). Sums run
    * in DECIMAL(18,2) so they are EXACT — accumulation order can't
    * perturb them — and cast to double only at the edge, which is why
    * merged state hash-matches the full-recompute oracle bit-for-bit.
    */
  /** Data-quality quarantine routing (`etl_dq_quarantine`, r13): the
    * contract-enforcement stage every ingest runs BEFORE facts reach
    * consumers — each order is tested against a published rule set and
    * routed: 'childless' (no lineitems — referential completeness),
    * 'early_ship' (some lineitem ships before the order exists — a
    * cross-table temporal contract the fixture genuinely violates),
    * 'bad_priority' (domain violation — empty on this feed, the
    * clean-rule shape an audit must still report as zero, not omit).
    * Rows failing ANY rule are quarantined; the '_clean' row counts the
    * pass-through population, so the four counts reconcile to... NOT
    * the order count (rules overlap) — which is exactly why the clean
    * count is computed as violates-none, not n−Σ. Plan: one lineitem
    * pre-aggregate (min shipdate per order, map-side combinable), one
    * left join, one conditional-sum pass — the quarantine decision
    * never rescans the corpus per rule.
    */
  def etlDqQuarantine(s: SparkSession, d: String): DataFrame = {
    val known = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val minShip = Sources.lineitem(s, d)
      .groupBy(col("l_orderkey").as("o_orderkey"))
      .agg(min(to_date(col("l_shipdate"))).as("min_ship"))
    Sources.orders(s, d)
      .select(col("o_orderkey"), to_date(col("o_orderdate")).as("od"),
        col("o_orderpriority"))
      .join(minShip, Seq("o_orderkey"), "left")
      .select(
        col("min_ship").isNull.as("childless"),
        (col("min_ship").isNotNull && col("min_ship") < col("od"))
          .as("early_ship"),
        (!col("o_orderpriority").isin(known: _*)).as("bad_priority"))
      .agg(
        sum(col("childless").cast("long")).as("childless"),
        sum(col("early_ship").cast("long")).as("early_ship"),
        sum(col("bad_priority").cast("long")).as("bad_priority"),
        sum((!col("childless") && !col("early_ship") && !col("bad_priority"))
          .cast("long")).as("_clean"))
      .selectExpr("stack(4, 'bad_priority', bad_priority, " +
        "'childless', childless, 'early_ship', early_ship, " +
        "'zz_clean', _clean) AS (rule, n_orders)")
      // explicit order: the driver compare is row-order-sensitive and
      // stack/UNION ALL emission order is incidental, not contractual
      // (r13 self-review find — the zz_ prefix exists to sort last)
      .orderBy("rule")
  }

  def etlIncrementalAgg(s: SparkSession, d: String): DataFrame = {
    val o = Sources.orders(s, d).select(
      date_format(col("o_orderdate"), "yyyy-MM").as("month"),
      col("o_orderdate"),
      col("o_totalprice").cast("decimal(18,2)").as("price"))
    val cutoff = lit("1999-01-01").cast("date")
    def partial(df: DataFrame): DataFrame =
      df.groupBy("month").agg(sum("price").as("rev"), count(lit(1)).as("n"))
    val state = partial(o.filter(col("o_orderdate") < cutoff))   // persisted view state
    val delta = partial(o.filter(col("o_orderdate") >= cutoff))  // the new batch
    state.unionByName(delta)
      .groupBy("month")
      .agg(sum("rev").as("rev_m"), sum("n").as("n_orders"))
      .select(col("month"), col("rev_m").cast("double").as("revenue"), col("n_orders"))
      .orderBy("month")
  }

  /** Z-order layout statistics (`etl_zorder_stats`) — the data-skipping
    * evidence behind a `ZORDER BY (l_partkey, l_suppkey)` table
    * optimize: rows are bucketed two ways — by the interleaved-bit
    * Morton code of the two keys (32 buckets = the code's top 5 bits)
    * and by the linear partkey order — and each bucket reports its
    * min/max range PER KEY. Under z-order BOTH columns' per-bucket
    * ranges are ~√32× narrower than the global domain, so a predicate
    * on EITHER key prunes most buckets from file-level min/max stats;
    * under linear layout only the sort key prunes. The Morton code is
    * 32 shift/mask/add terms — pure integer codegen, identical
    * arithmetic in the oracle; the bucket aggregate is one shuffle of
    * (bucket, keys). This is the layout decision a 100 TB table makes
    * once at write time to turn full scans into ~1/32 scans.
    */
  def etlZorderStats(s: SparkSession, d: String): DataFrame = {
    // interleave the low 16 bits: pk bit i -> 2i+1, sk bit i -> 2i
    val morton = (0 until 16).map { i =>
      s"(shiftleft(pk16 >> $i & 1, ${2 * i + 1}) + shiftleft(sk16 >> $i & 1, ${2 * i}))"
    }.mkString(" + ")
    // spread each key onto the full 16-bit domain first — integer floor
    // division off the 1-row max attach, so small fixture key spaces
    // still exercise all 32 buckets (identical arithmetic in the oracle)
    val mx = Sources.lineitem(s, d)
      .agg(max("l_partkey").as("pk_max"), max("l_suppkey").as("sk_max"))
    val base = Sources.lineitem(s, d)
      .crossJoin(broadcast(mx))
      .select(
        expr("(l_partkey * 65536) div (pk_max + 1)").as("pk16"),
        expr("(l_suppkey * 65536) div (sk_max + 1)").as("sk16"))
      .withColumn("z", expr(morton))
    def stats(df: DataFrame, bucket: Column, layout: String): DataFrame =
      df.withColumn("bucket", bucket.cast("long"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_rows"),
          min("pk16").as("pk_min"), max("pk16").as("pk_max"),
          min("sk16").as("sk_min"), max("sk16").as("sk_max"))
        .withColumn("layout", lit(layout))
    stats(base, expr("z >> 27"), "zorder")
      .union(stats(base, expr("pk16 >> 11"), "linear"))
      .select("layout", "bucket", "n_rows", "pk_min", "pk_max", "sk_min", "sk_max")
      .orderBy("layout", "bucket")
  }

  /** Incremental maintenance of a JOIN view (`etl_ivm_join`): the
    * nation-revenue view V = γ(orders ⋈ customer) kept current under
    * deltas on BOTH base tables, by the textbook delta-join rule
    *
    *   ΔV = γ( ΔO ⋈ C_old  ∪  O_old ⋈ ΔC  ∪  ΔO ⋈ ΔC )
    *
    * merged into the old view state sum-of-sums (extends
    * [[etlIncrementalAgg]], which maintains a single-table aggregate —
    * here the three disjoint delta terms are what makes a JOIN view
    * maintainable without re-scanning either full base table: at 100 TB
    * the two Δ⋈old terms probe the big sides with batch-sized build
    * sides, and ΔO⋈ΔC is batch×batch). Splits are deterministic key
    * slices (orders by orderkey % 10, customers by custkey % 7); the
    * oracle is the FULL recompute over both complete tables, so the
    * hash gate proves the delta decomposition is complete and disjoint
    * — one double-counted or dropped term and the sums diverge.
    * DECIMAL accumulation keeps both paths exact (the
    * incremental-agg discipline).
    */
  def etlIvmJoin(s: SparkSession, d: String): DataFrame = {
    val o = Sources.orders(s, d).select(col("o_custkey"),
      col("o_orderkey"), col("o_totalprice").cast("decimal(18,2)").as("price"))
    val c = Sources.customer(s, d).select(col("c_custkey"), col("c_nationkey"))
    val oOld = o.filter(col("o_orderkey") % 10 =!= 0)
    val oDelta = o.filter(col("o_orderkey") % 10 === 0)
    val cOld = c.filter(col("c_custkey") % 7 =!= 0)
    val cDelta = c.filter(col("c_custkey") % 7 === 0)
    def grouped(orders: DataFrame, cust: DataFrame): DataFrame =
      orders.join(cust, col("o_custkey") === col("c_custkey"))
        .groupBy("c_nationkey")
        .agg(sum("price").as("rev"), count(lit(1)).as("n"))
    val vOld = grouped(oOld, cOld) // yesterday's persisted view state
    val dv1 = grouped(oDelta, cOld) // ΔO ⋈ C_old
    val dv2 = grouped(oOld, cDelta) // O_old ⋈ ΔC
    val dv3 = grouped(oDelta, cDelta) // ΔO ⋈ ΔC
    vOld.unionByName(dv1).unionByName(dv2).unionByName(dv3)
      .groupBy("c_nationkey")
      .agg(sum("rev").as("rev_d"), sum("n").as("n_orders"))
      .select(col("c_nationkey"), col("rev_d").cast("double").as("revenue"),
        col("n_orders"))
      .orderBy("c_nationkey")
  }

  /** Schema-evolution union (`etl_schema_evolution`): land two batches
    * of the same feed written under DIFFERENT schema versions — v1
    * (even orderkeys) lacks the `o_orderstatus` column and spells
    * priority under an old name; v2 (odd) carries both — and reconcile
    * with `unionByName(allowMissingColumns = true)` + explicit rename,
    * the Spark-native answer to schema drift (missing columns
    * NULL-fill; renamed columns are aligned by the mapping, never by
    * position). The aggregate proves the reconciliation: per priority,
    * v1 rows contribute NULL statuses (counted separately) and both
    * versions' revenues land in one column. Pure map-side projections
    * + one keyed agg — drift handling costs nothing at 100 TB.
    */
  def etlSchemaEvolution(s: SparkSession, d: String): DataFrame = {
    val o = Sources.orders(s, d)
    val v1 = o.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_orderpriority").as("prio_v1"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
    val v2 = o.filter(col("o_orderkey") % 2 === 1)
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_orderstatus"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
    val landed = v1.withColumnRenamed("prio_v1", "o_orderpriority")
      .unionByName(v2, allowMissingColumns = true)
    landed.groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_rows"),
        count(col("o_orderstatus")).as("n_with_status"),
        sum(when(col("o_orderstatus").isNull, 1L).otherwise(0L)).as("n_v1_nulls"),
        sum("cents").as("rev_cents"))
      .orderBy("o_orderpriority")
  }

  /** Surrogate-key assignment (`etl_surrogate_keys`, r13): dense,
    * stable integer surrogates for the (nation, segment) dimension —
    * the warehouse-modeling step every star schema runs before facts
    * can join on compact keys (natural keys are composite and wide;
    * surrogates are join- and partition-friendly). The surrogate is the
    * 1-based dense rank of the natural key in (nationkey, segment)
    * order, realized by the two-pass [[graft.ops.Prefix]] over the
    * DISTINCT dimension table — rank assignment stays distributed even
    * when the dimension grows (the audit_column_profile lesson: never
    * a single-partition window on a corpus-derived table). Facts then
    * take their surrogate via one broadcast equi-join on the natural
    * key, and the census proves the mapping is total (Σ n_customers =
    * corpus) and collision-free (one natural key per sk). Exact
    * integers throughout (balances as cents).
    */
  def surrogateKeys(s: SparkSession, d: String): DataFrame = {
    val dim = Sources.customer(s, d)
      .select(col("c_nationkey"), col("c_mktsegment")).distinct()
    val withSk = graft.ops.Prefix.running(dim,
      Seq(col("c_nationkey"), col("c_mktsegment")), rankOut = Some("sk"))
    Sources.customer(s, d)
      .select(col("c_nationkey"), col("c_mktsegment"),
        round(col("c_acctbal") * 100).cast("long").as("cents"))
      .join(broadcast(withSk), Seq("c_nationkey", "c_mktsegment"))
      .groupBy("sk", "c_nationkey", "c_mktsegment")
      .agg(count(lit(1)).as("n_customers"), sum("cents").as("sum_cents"))
      .orderBy("sk")
  }

  /** Backfill planning (`etl_backfill_plan`, r13): the scheduling dual
    * of the reference's range generators (`config.py:152-208` make
    * ranges for known work; this derives the ranges for MISSING work):
    * build the full calendar spine between the landed min/max days,
    * anti-join the days that actually have orders, and merge the
    * missing days into maximal consecutive ranges via gaps-and-islands
    * (epoch-day − row_number, the win_streaks key) — exactly the
    * (start, end) batches `run_etl_service` would be handed to repair
    * the holes. The island window is GLOBAL but over the
    * calendar-bounded missing-day set (≤ span days by construction —
    * the ts_peak_days sanction class). Empty output = nothing to
    * backfill (true at sf0.1, where every calendar day has orders —
    * the plan reports a clean corpus honestly).
    */
  def backfillPlan(s: SparkSession, d: String): DataFrame = {
    val daily = Sources.orders(s, d)
      .select(to_date(col("o_orderdate")).as("day")).distinct()
    val bounds = daily.agg(min("day").as("mn"), max("day").as("mx"))
    val spine = bounds.select(explode(
      expr("sequence(mn, mx, interval 1 day)")).as("day"))
    val missing = spine.join(daily, Seq("day"), "left_anti")
    val w = org.apache.spark.sql.expressions.Window.orderBy("day")
    missing
      .withColumn("grp",
        expr("datediff(day, DATE'1970-01-01')") -
          row_number().over(w).cast("long"))
      .groupBy("grp")
      .agg(date_format(min("day"), "yyyy-MM-dd").as("range_start"),
        date_format(max("day"), "yyyy-MM-dd").as("range_end"),
        count(lit(1)).as("n_days"))
      .select("range_start", "range_end", "n_days")
      .orderBy("range_start")
  }

  /** Retention/TTL plan (`etl_retention_plan`, r13): the compliance
    * dual of [[backfillPlan]] — which month partitions a retention
    * policy keeps, archives, or purges, with the row census each
    * action touches. The as-of anchor is the corpus max order date
    * (deterministic — a frozen wall clock would rot with the
    * fixture); a partition's age is measured at its month END
    * (youngest row governs — the conservative reading), and the
    * published policy is keep < 365 days, archive < 730, purge ≥ 730.
    * The reference deletes by date range (`utils.py:255-283`) but has
    * no retention planning at all; at 100 TB this plan IS the
    * delete-range driver. One month-keyed aggregate + a 1-row as-of
    * attach; months are calendar-bounded.
    */
  def retentionPlan(s: SparkSession, d: String): DataFrame = {
    val byMonth = Sources.orders(s, d)
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(count(lit(1)).as("n_rows"),
        max(to_date(col("o_orderdate"))).as("max_day_in_month"))
    val asof = Sources.orders(s, d)
      .agg(max(to_date(col("o_orderdate"))).as("asof"))
    byMonth.crossJoin(broadcast(asof)) // 1-row as-of attach
      .withColumn("month_end",
        last_day(to_date(concat(col("month"), lit("-01")))))
      .withColumn("age_days",
        datediff(col("asof"), col("month_end")).cast("long"))
      .select(col("month"), col("n_rows"), col("age_days"),
        when(col("age_days") < 365, lit("keep"))
          .when(col("age_days") < 730, lit("archive"))
          .otherwise(lit("purge")).as("action"))
      .orderBy("month")
  }

  /** Partition sizing plan (`etl_partition_plan`, r13): the
    * write-side planning audit the reference's GOLD CTAS delegates to
    * BigQuery's automatic repartitioning (`materialize_gold.py:70`) —
    * before writing a month-partitioned table at 100 TB you must know
    * which partitions need how many files, or you ship the small-file
    * problem (thousands of KB files) or its dual (one 40 GB file no
    * executor can read in parallel). Per o_orderdate month: row
    * census, estimated bytes at the PUBLISHED 120 bytes/row average
    * (schema-derived, frozen so the plan is replayable), file count =
    * ceil(bytes / 128 MiB target) as pure integer arithmetic
    * ((b + t − 1) div t), and the skew read pct_of_avg = (100·rows)
    * div avg-rows — the flag a compaction scheduler (`io/Sinks`
    * small-file compaction) consumes. One month-keyed aggregate + a
    * 1-row broadcast attach; months are calendar-bounded.
    */
  def partitionPlan(s: SparkSession, d: String): DataFrame = {
    val rowBytes = 120L
    val targetBytes = 134217728L // 128 MiB
    val byMonth = Sources.orders(s, d)
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(count(lit(1)).as("n_rows"))
    val avg = byMonth.agg(expr("sum(n_rows) div count(1)").as("avg_rows"))
    byMonth.crossJoin(broadcast(avg)) // 1-row aggregate attach
      .select(col("month"), col("n_rows"),
        (col("n_rows") * rowBytes).as("est_bytes"),
        expr(s"(n_rows * ${rowBytes}L + ${targetBytes - 1}L) div ${targetBytes}L")
          .as("n_files"),
        expr("(100L * n_rows) div avg_rows").as("pct_of_avg"))
      .orderBy("month")
  }

  /** Snapshot reconciliation census (`etl_snapshot_diff`, r13): the
    * post-migration validation every replication/backfill pipeline
    * runs — full-outer-join yesterday's snapshot against today's on
    * the business key and publish added / removed / changed /
    * unchanged counts plus the changed-value drift, so a silent CDC
    * gap shows up as a number, not a hunch. Today's snapshot is
    * DERIVED deterministically from the base (the fixture plays both
    * roles): every 50th key dropped (removed), every 10th surviving
    * key's balance bumped one cent (changed), every 40th key mirrored
    * STRICTLY beyond the key space (k + maxkey + 1 — keys start at 0,
    * so a bare k + maxkey mirror of key 0 would collide with the max
    * key and mis-classify it as changed) (added) — each census class provably
    * non-empty at every SF. One full-outer equi-join on the
    * pre-aggregated key level, one 4-class census off the literal
    * domain; balance compare on the exact cents lattice.
    */
  def etlSnapshotDiff(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val base = Sources.customer(s, d).select(col("c_custkey").as("k"),
      round(col("c_acctbal") * 100).cast("long").as("cents"))
    val maxK = base.agg(max("k").as("mk"))
    val today = base.filter(col("k") % 50 =!= 0)
      .select(col("k"),
        (col("cents") + when(col("k") % 10 === 0, 1L).otherwise(0L))
          .as("cents"))
      .unionAll(base.filter(col("k") % 40 === 0)
        .crossJoin(broadcast(maxK))
        .select((col("k") + col("mk") + 1L).as("k"), col("cents")))
    val j = base.select(col("k"), col("cents").as("c0"))
      .join(today.select(col("k"), col("cents").as("c1")), Seq("k"),
        "full_outer")
      .select(col("k"),
        when(col("c0").isNull, "added")
          .when(col("c1").isNull, "removed")
          .when(col("c0") =!= col("c1"), "changed")
          .otherwise("unchanged").as("cls"),
        coalesce(col("c1"), lit(0L)) - coalesce(col("c0"), lit(0L)))
      .toDF("k", "cls", "drift")
    val dom = Seq("added", "changed", "removed", "unchanged").toDF("cls")
    dom.join(j.groupBy("cls").agg(count(lit(1)).as("nn"),
        sum("drift").as("dr"), sum("k").as("sk")), Seq("cls"), "left")
      .select(col("cls"), coalesce(col("nn"), lit(0L)).as("n_keys"),
        coalesce(col("dr"), lit(0L)).as("drift_cents"),
        coalesce(col("sk"), lit(0L)).as("sum_keys"))
      .orderBy("cls")
  }

  /** Right-to-erasure cascade audit (`etl_gdpr_erasure`, r13): the
    * compliance planning query a deletion request triggers — given a
    * subject list (every 97th customer), size the FULL cascade
    * (orders, line items, revenue mass) and count the DANGLING
    * references a naive single-table deletion would leave (orders
    * still pointing at erased customers — the FK-orphan count that
    * turns an erasure into a liability). The self-check column
    * `n_orphans_after` recomputes orphans AFTER the simulated cascade
    * and must be zero — the audit certifies its own plan. Three
    * key-joins (subjects broadcast; order keys semi-join into
    * lineitem), all exact integers, one census row.
    */
  def etlGdprErasure(s: SparkSession, d: String): DataFrame = {
    val subjects = Sources.customer(s, d)
      .filter(col("c_custkey") % 97 === 0).select(col("c_custkey"))
    val erasedOrders = Sources.orders(s, d)
      .join(broadcast(subjects), col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
    val pinned = graft.io.Checkpoints.pin(erasedOrders, eager = false)
    val li = Sources.lineitem(s, d).select(col("l_orderkey"))
    val cascadeLi = li.join(pinned.select(col("o_orderkey")
      .as("l_orderkey")), "l_orderkey")
    // orphans-after: surviving line items whose order does NOT survive
    // — derived through TWO independent paths (cascade by erased-order
    // keys vs survivors by subject anti-join), so a drifted cascade
    // predicate shows up as a nonzero count instead of passing
    // vacuously
    val survivingOrders = Sources.orders(s, d)
      .join(broadcast(subjects), col("o_custkey") === col("c_custkey"),
        "left_anti")
      .select(col("o_orderkey").as("l_orderkey"))
    val afterLi = li
      .join(pinned.select(col("o_orderkey").as("l_orderkey")),
        Seq("l_orderkey"), "left_anti")
      .join(survivingOrders, Seq("l_orderkey"), "left_anti")
    subjects.agg(count(lit(1)).as("n_subjects"))
      .crossJoin(broadcast(pinned.agg(
        count(lit(1)).as("n_orders_cascade"),
        sum("cents").as("cents_cascade"))))
      .crossJoin(broadcast(cascadeLi.agg(count(lit(1))
        .as("n_lineitems_cascade"))))
      .crossJoin(broadcast(afterLi.agg(count(lit(1))
        .as("n_orphans_after"))))
      .select(col("n_subjects"),
        col("n_orders_cascade").as("n_dangling_naive"),
        col("n_orders_cascade"), col("cents_cascade"),
        col("n_lineitems_cascade"), col("n_orphans_after"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "etl_snapshot_diff" -> (etlSnapshotDiff _),
    "etl_gdpr_erasure" -> (etlGdprErasure _),
    "etl_partition_plan" -> (partitionPlan _),
    "etl_retention_plan" -> (retentionPlan _),
    "etl_backfill_plan" -> (backfillPlan _),
    "etl_surrogate_keys" -> (surrogateKeys _),
    "etl_schema_evolution" -> (etlSchemaEvolution _),
    "etl_ivm_join" -> (etlIvmJoin _),
    "etl_zorder_stats" -> (etlZorderStats _),
    "etl_cdc_apply" -> (etlCdcApply _),
    "etl_incremental_agg" -> (etlIncrementalAgg _),
    "etl_dq_quarantine" -> (etlDqQuarantine _),
    "etl_pipeline_e2e" -> (etlPipelineE2e _),
    "etl_normalize_dates" -> (etlNormalizeDates _),
    "etl_range_filter" -> (etlRangeFilter _),
    "etl_idempotent_merge" -> (etlIdempotentMerge _),
    "etl_monthly_batches" -> (etlMonthlyBatches _),
    "etl_refresh_window" -> (etlRefreshWindow _),
  )

  val oracles: Map[String, String] = Map(
    // same subject rule, same cascade joins, same two-path orphan check
    "etl_gdpr_erasure" ->
      """WITH subjects AS (SELECT c_custkey FROM customer
        |   WHERE c_custkey % 97 = 0),
        | eo AS (SELECT o_orderkey,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |   FROM orders JOIN subjects ON o_custkey = c_custkey),
        | cl AS (SELECT l_orderkey FROM lineitem
        |   JOIN eo ON l_orderkey = o_orderkey),
        | so AS (SELECT o_orderkey FROM orders
        |   WHERE o_custkey NOT IN (SELECT c_custkey FROM subjects)),
        | orphans AS (SELECT l.l_orderkey FROM lineitem l
        |   WHERE l.l_orderkey NOT IN (SELECT o_orderkey FROM eo)
        |    AND l.l_orderkey NOT IN (SELECT o_orderkey FROM so))
        |SELECT
        | (SELECT CAST(count(*) AS BIGINT) FROM subjects) AS n_subjects,
        | (SELECT CAST(count(*) AS BIGINT) FROM eo) AS n_dangling_naive,
        | (SELECT CAST(count(*) AS BIGINT) FROM eo) AS n_orders_cascade,
        | (SELECT CAST(sum(cents) AS BIGINT) FROM eo) AS cents_cascade,
        | (SELECT CAST(count(*) AS BIGINT) FROM cl) AS n_lineitems_cascade,
        | (SELECT CAST(count(*) AS BIGINT) FROM orphans) AS n_orphans_after""".stripMargin,
    // same derived today-snapshot (drop %50, bump %10, mirror %40 to
    // k + maxkey + 1), same full-outer classify, same literal class domain
    "etl_snapshot_diff" ->
      """WITH base AS (SELECT c_custkey AS k,
        |   CAST(round(c_acctbal * 100) AS BIGINT) AS cents FROM customer),
        | mk AS (SELECT max(k) AS mk FROM base),
        | today AS (
        |  SELECT k, cents + CASE WHEN k % 10 = 0 THEN 1 ELSE 0 END AS cents
        |   FROM base WHERE k % 50 <> 0
        |  UNION ALL
        |  SELECT k + mk.mk + 1, cents FROM base CROSS JOIN mk WHERE k % 40 = 0),
        | j AS (SELECT coalesce(b.k, t.k) AS k,
        |    CASE WHEN b.k IS NULL THEN 'added'
        |      WHEN t.k IS NULL THEN 'removed'
        |      WHEN b.cents <> t.cents THEN 'changed'
        |      ELSE 'unchanged' END AS cls,
        |    coalesce(t.cents, 0) - coalesce(b.cents, 0) AS drift
        |   FROM base b FULL OUTER JOIN today t ON b.k = t.k),
        | dom AS (SELECT unnest(['added', 'changed', 'removed',
        |   'unchanged']) AS cls),
        | cen AS (SELECT cls, CAST(count(*) AS BIGINT) AS nn,
        |    CAST(sum(drift) AS BIGINT) AS dr,
        |    CAST(sum(k) AS BIGINT) AS sk FROM j GROUP BY 1)
        |SELECT dom.cls, coalesce(cen.nn, 0) AS n_keys,
        | coalesce(cen.dr, 0) AS drift_cents,
        | coalesce(cen.sk, 0) AS sum_keys
        |FROM dom LEFT JOIN cen USING (cls) ORDER BY cls""".stripMargin,
    // same corpus-max as-of, same month-end age, same 365/730 bands
    // (CTE columns avoid `month` and `asof` — both are DuckDB
    // keywords: `month` is a DATEPART inside datediff, `asof` is the
    // ASOF-join keyword)
    "etl_retention_plan" ->
      """WITH bm AS (SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m')
        |     AS mth, CAST(count(*) AS BIGINT) AS n_rows
        |  FROM orders GROUP BY 1),
        | ao AS (SELECT max(CAST(o_orderdate AS DATE)) AS as_of FROM orders),
        | k AS (SELECT mth, n_rows,
        |   CAST(datediff('day', last_day(CAST(mth || '-01' AS DATE)),
        |     as_of) AS BIGINT) AS age_days
        |  FROM bm, ao)
        |SELECT mth AS month, n_rows, age_days,
        | CASE WHEN age_days < 365 THEN 'keep'
        |   WHEN age_days < 730 THEN 'archive' ELSE 'purge' END AS action
        |FROM k ORDER BY mth""".stripMargin,
    // same frozen 120 B/row and 128 MiB target, ceil by integer
    // identity, avg by floor division
    "etl_partition_plan" ->
      """WITH bm AS (SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m')
        |     AS month, CAST(count(*) AS BIGINT) AS n_rows
        |  FROM orders GROUP BY 1),
        | av AS (SELECT CAST(sum(n_rows) // count(*) AS BIGINT) AS avg_rows
        |  FROM bm)
        |SELECT month, n_rows,
        | n_rows * 120 AS est_bytes,
        | (n_rows * 120 + 134217727) // 134217728 AS n_files,
        | (100 * n_rows) // avg_rows AS pct_of_avg
        |FROM bm, av ORDER BY month""".stripMargin,
    // same spine, same anti-join, same epoch-day-minus-rank island key
    "etl_backfill_plan" ->
      """WITH daily AS (SELECT DISTINCT CAST(o_orderdate AS DATE) AS day
        |   FROM orders),
        | b AS (SELECT min(day) AS mn, max(day) AS mx FROM daily),
        | spine AS (SELECT CAST(unnest(generate_series(mn, mx,
        |    INTERVAL 1 DAY)) AS DATE) AS day FROM b),
        | miss AS (SELECT s.day FROM spine s LEFT JOIN daily d
        |   ON s.day = d.day WHERE d.day IS NULL),
        | g AS (SELECT day,
        |   datediff('day', DATE '1970-01-01', day)
        |     - row_number() OVER (ORDER BY day) AS grp FROM miss)
        |SELECT strftime(min(day), '%Y-%m-%d') AS range_start,
        | strftime(max(day), '%Y-%m-%d') AS range_end,
        | CAST(count(*) AS BIGINT) AS n_days
        |FROM g GROUP BY grp ORDER BY range_start""".stripMargin,
    // identical (nationkey, segment) total order realizes the same
    // dense surrogate in both engines
    "etl_surrogate_keys" ->
      """WITH dim AS (SELECT DISTINCT c_nationkey, c_mktsegment
        |   FROM customer),
        | sk AS (SELECT c_nationkey, c_mktsegment,
        |   CAST(row_number() OVER (ORDER BY c_nationkey, c_mktsegment)
        |     AS BIGINT) AS sk
        |  FROM dim)
        |SELECT sk.sk, sk.c_nationkey, sk.c_mktsegment,
        | CAST(count(*) AS BIGINT) AS n_customers,
        | CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
        |   AS sum_cents
        |FROM customer c JOIN sk ON c.c_nationkey = sk.c_nationkey
        |  AND c.c_mktsegment = sk.c_mktsegment
        |GROUP BY 1, 2, 3 ORDER BY sk.sk""".stripMargin,
    // the NULL-fill union replay: v1 rows carry NULL status by schema,
    // v2 rows their real one — counts and revenue must reconcile
    "etl_schema_evolution" ->
      """WITH v1 AS (SELECT o_orderkey, o_orderpriority,
        |    CAST(NULL AS VARCHAR) AS o_orderstatus,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |   FROM orders WHERE o_orderkey % 2 = 0),
        | v2 AS (SELECT o_orderkey, o_orderpriority, o_orderstatus,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |   FROM orders WHERE o_orderkey % 2 = 1),
        | landed AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
        |SELECT o_orderpriority,
        | CAST(count(*) AS BIGINT) AS n_rows,
        | CAST(count(o_orderstatus) AS BIGINT) AS n_with_status,
        | CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END)
        |   AS BIGINT) AS n_v1_nulls,
        | CAST(sum(cents) AS BIGINT) AS rev_cents
        |FROM landed GROUP BY 1 ORDER BY 1""".stripMargin,
    "etl_zorder_stats" -> {
      val morton = (0 until 16).map { i =>
        s"((((pk16 >> $i) & 1) << ${2 * i + 1}) + (((sk16 >> $i) & 1) << ${2 * i}))"
      }.mkString(" + ")
      s"""WITH mx AS (SELECT max(l_partkey) AS pk_max, max(l_suppkey) AS sk_max
         |   FROM lineitem),
         | base AS (SELECT CAST((l_partkey * 65536) // (pk_max + 1) AS BIGINT) AS pk16,
         |   CAST((l_suppkey * 65536) // (sk_max + 1) AS BIGINT) AS sk16
         |  FROM lineitem CROSS JOIN mx),
         | z AS (SELECT pk16, sk16, $morton AS z FROM base),
         | zb AS (SELECT 'zorder' AS layout, CAST(z >> 27 AS BIGINT) AS bucket,
         |   CAST(count(*) AS BIGINT) AS n_rows,
         |   min(pk16) AS pk_min, max(pk16) AS pk_max,
         |   min(sk16) AS sk_min, max(sk16) AS sk_max
         |  FROM z GROUP BY 2),
         | lb AS (SELECT 'linear' AS layout, CAST(pk16 >> 11 AS BIGINT) AS bucket,
         |   CAST(count(*) AS BIGINT) AS n_rows,
         |   min(pk16) AS pk_min, max(pk16) AS pk_max,
         |   min(sk16) AS sk_min, max(sk16) AS sk_max
         |  FROM z GROUP BY 2)
         |SELECT * FROM zb UNION ALL SELECT * FROM lb
         |ORDER BY layout, bucket""".stripMargin
    },
    // full recompute over BOTH complete base tables — the semantics the
    // three-term delta-join merge must equal exactly
    "etl_ivm_join" ->
      """SELECT c_nationkey,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        | count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,
    // full recompute — the semantics the partial-merge must equal; the
    // decimal sums make both sides exact, so the doubles agree bitwise
    // overlapping rules: the clean census is violates-NONE, never n - sum
    "etl_dq_quarantine" ->
      """WITH ms AS (SELECT l_orderkey AS o_orderkey,
        |   CAST(min(l_shipdate) AS DATE) AS min_ship FROM lineitem GROUP BY 1),
        | f AS (SELECT
        |    ms.min_ship IS NULL AS childless,
        |    ms.min_ship IS NOT NULL
        |      AND ms.min_ship < CAST(o_orderdate AS DATE) AS early_ship,
        |    o_orderpriority NOT IN ('1-URGENT', '2-HIGH', '3-MEDIUM',
        |      '4-NOT SPECIFIED', '5-LOW') AS bad_priority
        |  FROM orders LEFT JOIN ms USING (o_orderkey)),
        | g AS (SELECT
        |    CAST(sum(CASE WHEN childless THEN 1 ELSE 0 END) AS BIGINT)
        |      AS childless,
        |    CAST(sum(CASE WHEN early_ship THEN 1 ELSE 0 END) AS BIGINT)
        |      AS early_ship,
        |    CAST(sum(CASE WHEN bad_priority THEN 1 ELSE 0 END) AS BIGINT)
        |      AS bad_priority,
        |    CAST(sum(CASE WHEN NOT childless AND NOT early_ship
        |      AND NOT bad_priority THEN 1 ELSE 0 END) AS BIGINT) AS clean
        |  FROM f)
        |SELECT rule, n_orders FROM (
        | SELECT 'bad_priority' AS rule, bad_priority AS n_orders FROM g
        | UNION ALL SELECT 'childless', childless FROM g
        | UNION ALL SELECT 'early_ship', early_ship FROM g
        | UNION ALL SELECT 'zz_clean', clean FROM g)
        |ORDER BY rule""".stripMargin,
    "etl_incremental_agg" ->
      """SELECT strftime(o_orderdate, '%Y-%m') AS month,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        | count(*) AS n_orders
        |FROM orders GROUP BY month ORDER BY month""".stripMargin,
    "etl_cdc_apply" ->
      """WITH c AS (SELECT user_id, ts, event_id, event_type, value,
        |   row_number() OVER (PARTITION BY user_id
        |     ORDER BY ts DESC, event_id DESC) AS rn
        | FROM events)
        |SELECT user_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts,
        | event_type AS last_type, round(value, 2) AS value
        |FROM c WHERE rn = 1 AND event_type <> 'error'
        |ORDER BY user_id""".stripMargin,
    "etl_pipeline_e2e" ->
      """SELECT strftime(o_orderdate, '%Y-%m') AS order_month,
        | count(*) AS n_orders, round(sum(o_totalprice), 2) AS sum_price
        |FROM orders
        |WHERE CAST(o_orderdate AS DATE) BETWEEN DATE '1996-01-01' AND DATE '1996-06-30'
        |GROUP BY order_month ORDER BY order_month""".stripMargin,
    "etl_normalize_dates" ->
      """SELECT o_orderkey,
        | strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS o_orderdate,
        | strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate_day
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "etl_range_filter" ->
      """SELECT l_orderkey, l_linenumber,
        | strftime(l_shipdate, '%Y-%m-%d') AS ship_day,
        | round(l_quantity, 2) AS l_quantity
        |FROM lineitem
        |WHERE l_shipdate BETWEEN TIMESTAMP '1996-03-01 00:00:00' AND TIMESTAMP '1996-03-31 23:59:59'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "etl_idempotent_merge" ->
      """SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
        | count(*) AS n_rows, round(sum(l_quantity), 2) AS sum_qty
        |FROM (
        | SELECT l_shipdate, l_quantity FROM lineitem
        |  WHERE l_shipdate NOT BETWEEN TIMESTAMP '1997-01-01 00:00:00' AND TIMESTAMP '1997-01-31 23:59:59'
        | UNION ALL
        | SELECT l_shipdate, l_quantity * 2 FROM lineitem
        |  WHERE l_shipdate BETWEEN TIMESTAMP '1997-01-01 00:00:00' AND TIMESTAMP '1997-01-31 23:59:59')
        |GROUP BY ship_month ORDER BY ship_month""".stripMargin,
    "etl_monthly_batches" ->
      """SELECT strftime(m, '%Y-%m') AS batch_month,
        | count(o_orderkey) AS n_orders, round(sum(o_totalprice), 2) AS sum_price
        |FROM (SELECT unnest(generate_series(DATE '1995-01-01', DATE '2001-12-01', INTERVAL 1 MONTH)) AS m)
        |LEFT JOIN orders ON date_trunc('month', o_orderdate) = m
        |GROUP BY batch_month ORDER BY batch_month""".stripMargin,
    "etl_refresh_window" ->
      """SELECT strftime(l_shipdate, '%Y-%m-%d') AS ship_day,
        | count(*) AS n_rows, round(sum(l_extendedprice), 2) AS sum_price
        |FROM lineitem
        |WHERE CAST(l_shipdate AS DATE) BETWEEN DATE '2001-07-08' AND DATE '2001-07-15'
        |GROUP BY ship_day ORDER BY ship_day""".stripMargin,
  )
}
