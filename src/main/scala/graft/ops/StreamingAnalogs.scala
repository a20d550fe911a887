package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Sources
import graft.streaming.StreamingOps

/** Batch-mode equivalents of the streaming surface (SURVEY §2.10) over the
  * `events` fixture: tumbling / sliding / session windows. Where
  * [[graft.streaming.StreamingOps]] defines the streaming transform, the
  * batch twin runs that very transform on a batch frame (`withWatermark`
  * is dropped from a batch plan) and only formats, rounds and orders its
  * output, so the DuckDB oracle checks the code that actually streams.
  *
  * The reference has no event-driven path — its incremental story is the
  * scheduled refresh window (`utils.py:406-451`); these operators are its
  * idiomatic streaming generalization.
  */
object StreamingAnalogs {

  /** Tumbling 1-hour windows per event type, through
    * [[graft.streaming.StreamingOps.tumblingHourly]].
    */
  def tumblingHourly(s: SparkSession, d: String): DataFrame =
    StreamingOps.tumblingHourly(Sources.events(s, d))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm").as("win_start"),
        col("event_type"), col("n_events"), round(col("sum_value"), 2).as("sum_value"))
      .orderBy("win_start", "event_type")

  /** Sliding 1-hour windows every 30 minutes — each event lands in two
    * windows; the oracle reproduces that with a two-bucket UNION ALL.
    */
  def slidingHourly(s: SparkSession, d: String): DataFrame =
    Sources.events(s, d)
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("win"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("sum_value"))
      .select(
        date_format(col("win.start"), "yyyy-MM-dd HH:mm").as("win_start"),
        col("event_type"), col("n_events"), col("sum_value"))
      .orderBy("win_start", "event_type")

  /** Session windows with a 30-minute gap per user, through
    * [[graft.streaming.StreamingOps.sessionPerUser]]; oracle via
    * gaps-and-islands.
    */
  def sessionPerUser(s: SparkSession, d: String): DataFrame =
    StreamingOps.sessionPerUser(Sources.events(s, d))
      .select(
        col("user_id"),
        date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        col("n_events"), round(col("sum_value"), 2).as("sum_value"))
      .orderBy("user_id", "session_start")

  /** Stream-stream interval join, batch form: purchases joined to clicks
    * of the same user within the preceding hour, counted per purchase.
    * Runs the *actual* [[graft.streaming.StreamingOps.purchasesWithRecentClicks]]
    * transform — `withWatermark` is a no-op on batch frames, so the
    * oracle hash-checks the very join the streaming path executes.
    */
  def intervalJoin(s: SparkSession, d: String): DataFrame = {
    val ev = Sources.events(s, d)
    val joined = graft.streaming.StreamingOps.purchasesWithRecentClicks(
      ev.filter(col("event_type") === "purchase"),
      ev.filter(col("event_type") === "click"))
    joined.groupBy(col("p_user").as("user_id"),
        date_format(col("p_ts"), "yyyy-MM-dd HH:mm:ss").as("purchase_ts"))
      .agg(count(lit(1)).as("n_clicks"))
      .orderBy("user_id", "purchase_ts")
  }

  /** Custom-state surface, batch form: per-user running totals through the
    * *actual* typed [[graft.streaming.StreamingOps.runningUserTotals]]
    * `mapGroupsWithState` (batch mode runs the state function once per
    * group from empty state), so the oracle checks the stateful code path
    * itself against a plain GROUP BY.
    */
  def runningTotals(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = Sources.events(s, d)
      .select(col("user_id"), col("value")).as[graft.streaming.UserEvent]
    graft.streaming.StreamingOps.runningUserTotals(ev).toDF()
      .select(col("user_id"), col("n_events"),
        round(col("sum_value"), 2).as("sum_value"))
      .orderBy("user_id")
  }

  /** Batch twin of [[graft.streaming.StreamingOps.dedupWithinWatermark]]
    * (`dropDuplicatesWithinWatermark`): late replays of an event inside
    * the 10-minute watermark horizon are dropped; replays arriving after
    * the horizon (state already evicted) survive as new rows. The fixture
    * has unique `event_id`s, so replays are synthesized deterministically
    * — every 5th event replayed at +5 min (in-horizon ⇒ dropped), every
    * 7th at +30 min (out-of-horizon ⇒ kept) — which makes both outcomes
    * bind and keeps the input non-chaining (each survivor ≥ horizon after
    * the previous), so the oracle's min-anchored window check is exact.
    *
    * The horizon fold itself is general: per event_id, an `aggregate`
    * HOF over the sorted arrival array keeps a row iff it is ≥ horizon
    * after the last KEPT row — the deterministic contract of streaming
    * state eviction. One shuffle on event_id; per-key arrays are
    * replay-count-sized (bounded), and the fold is codegen'd — no UDF.
    */
  def dedupWatermarkBatch(s: SparkSession, d: String): DataFrame = {
    val horizonUs = 10L * 60L * 1000000L
    val ev = Sources.events(s, d).select(col("event_id"), col("ts"))
    val all = ev
      .unionAll(ev.filter(col("event_id") % 5 === 0)
        .withColumn("ts", col("ts") + expr("INTERVAL 5 MINUTES")))
      .unionAll(ev.filter(col("event_id") % 7 === 0)
        .withColumn("ts", col("ts") + expr("INTERVAL 30 MINUTES")))
    all.select(col("event_id"), unix_micros(col("ts")).as("us"))
      .groupBy("event_id").agg(array_sort(collect_list("us")).as("ts_all"))
      .select(col("event_id"), explode(aggregate(
        col("ts_all"),
        struct(lit(null).cast("bigint").as("last"),
          expr("CAST(array() AS ARRAY<BIGINT>)").as("kept")),
        (acc, t) => {
          val keep = acc.getField("last").isNull ||
            (t - acc.getField("last") >= lit(horizonUs))
          struct(
            when(keep, t).otherwise(acc.getField("last")).as("last"),
            when(keep, concat(acc.getField("kept"), array(t)))
              .otherwise(acc.getField("kept")).as("kept"))
        },
        acc => acc.getField("kept"))).as("us"))
      .select(col("event_id"),
        date_format(timestamp_micros(col("us")), "yyyy-MM-dd HH:mm:ss").as("ts_kept"))
      .orderBy("event_id", "ts_kept")
  }

  /** Drift monitor — the ingestion-health check a continuously-fed corpus
    * runs on every batch: per event type, today's volume against the
    * trailing-7-observation baseline, flagged when it sits more than 2
    * sample standard deviations out. The streaming form is the same
    * aggregation under a sliding watermarked window; batch mode keeps it
    * oracle-checkable.
    *
    * The baseline moments come from INTEGER window sums (count, Σn, Σn²)
    * — exact at any scale — and the mean/variance/z float math is a
    * fixed expression tree over those exact sums, so the rounded z is
    * engine-reproducible (no engine-specific Welford accumulation
    * order). Days with fewer than 3 baseline points report null. Plan:
    * one hash aggregate to daily grain (map-side partial over the scan),
    * then a window over the tiny (type × day) table.
    */
  def driftMonitor(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy("day").rowsBetween(-7, -1)
    val daily = Sources.events(s, d)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    val withSums = daily
      .withColumn("cnt_w", count("n").over(w))
      .withColumn("sum_w", sum("n").over(w))
      .withColumn("ssq_w", sum(col("n") * col("n")).over(w))
    val meanD = col("sum_w").cast("double") / col("cnt_w").cast("double")
    val varD = (col("ssq_w").cast("double") -
      col("sum_w").cast("double") * col("sum_w").cast("double") / col("cnt_w").cast("double")) /
      (col("cnt_w").cast("double") - 1.0)
    withSums
      .withColumn("base_mean", when(col("cnt_w") >= 3, round(meanD, 4)))
      .withColumn("z", when(col("cnt_w") >= 3 && varD > 0,
        round((col("n").cast("double") - meanD) / sqrt(varD), 4)))
      .withColumn("anomaly", coalesce(abs(col("z")) > 2, lit(false)))
      .select(col("event_type"), date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("n"), col("base_mean"), col("z"), col("anomaly"))
      .orderBy("event_type", "day")
  }

  /** Stream-static enrichment, batch form: the event stream joined to the
    * customer dimension then windowed per market segment, through
    * [[graft.streaming.StreamingOps.enrichWithDim]]. Its `broadcast()`
    * dimension side is the shape Structured Streaming re-broadcasts per
    * micro-batch (no shuffle of the stream side on the join key; the
    * only exchange is the windowed aggregate's).
    */
  def staticEnrich(s: SparkSession, d: String): DataFrame =
    StreamingOps.enrichWithDim(Sources.events(s, d), Sources.customer(s, d))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm").as("win_start"),
        col("c_mktsegment").as("segment"), col("n_events"),
        round(col("sum_value"), 2).as("sum_value"))
      .orderBy("win_start", "segment")

  /** MATCH_RECOGNIZE-style sequence mining, composed from primitives
    * neither engine needs an extension for: each user's event history
    * collapses to an ordered initial-string (c/e/p/s/v), and a regex
    * counts conversion runs (`c+p` — one or more clicks closed by a
    * purchase, non-overlapping left-to-right in both engines). The heavy
    * step is one user-keyed aggregate; per-user history strings are
    * session-sized. The in-row sort of the collected (ts, event_id,
    * initial) structs makes the string order-deterministic regardless of
    * partitioning — `collect_list` alone has no ordering contract.
    */
  def patternConversions(s: SparkSession, d: String): DataFrame =
    Sources.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"),
        substring(col("event_type"), 1, 1).as("i"))
      .groupBy("user_id")
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("ts"), col("event_id"), col("i")))),
        x => x.getField("i")), "").as("seq"))
      .select(col("user_id"),
        length(col("seq")).cast("long").as("n_events"),
        size(regexp_extract_all(col("seq"), lit("c+p"), lit(0))).cast("long")
          .as("n_conversions"))
      .orderBy("user_id")

  /** Top user paths (`seq_user_paths`): the first three event types of
    * each user's timeline, joined into a path string, counted across
    * users — the onboarding-flow analysis every event pipeline runs.
    * Same order-determinism discipline as [[patternConversions]]:
    * `array_sort` over (ts, event_id, type) structs fixes the sequence
    * under any partitioning before the slice; the top-10 is a
    * TakeOrderedAndProject, never a global sort.
    */
  def userPaths(s: SparkSession, d: String): DataFrame =
    Sources.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .groupBy("user_id")
      .agg(array_join(slice(transform(
        array_sort(collect_list(struct(col("ts"), col("event_id"), col("event_type")))),
        x => x.getField("event_type")), 1, 3), ">").as("path"))
      .groupBy("path").agg(count(lit(1)).as("n_users"))
      .orderBy(col("n_users").desc, col("path")).limit(10)

  /** Watermark-lateness planning audit (`stream_lateness_audit`, r13):
    * the census you run BEFORE choosing `withWatermark`'s allowed
    * lateness — for each candidate policy L, how many events would a
    * tumbling-hour aggregate DROP because they arrive after their
    * window closes at window_end + L? Arrival times are synthesized
    * deterministically (the scalarIpv4Parse dirty-feed pattern): a
    * Knuth-hash delay on a 0–119 s domain, with every 13th event a
    * +3600 s straggler — the long-tail shape real event buses exhibit
    * and the reason the policy choice is non-trivial (L = 60 s catches
    * the bulk, only L > 1 h catches stragglers). The drop predicate
    * `arrival > window_end + L` is the idealized-watermark bound
    * (watermark = max event time − L ≥ this event's window_end + L at
    * drop time); everything is exact integer µs, the share an exact e6
    * floor. Plan: map-side flags, a 3-row policy broadcast fan-out,
    * one keyed census.
    */
  def latenessAudit(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = Sources.events(s, d).select(
      (pmod(col("event_id") * lit(2654435761L), lit(4294967296L)) % 120L +
        when(col("event_id") % 13 === 0, lit(3600L)).otherwise(lit(0L)))
        .as("delay_s"),
      unix_micros(col("ts")).as("ts_us"),
      (unix_micros(date_trunc("hour", col("ts"))) + lit(3600000000L))
        .as("wend_us"))
    val pol = Seq(0L, 60L, 600L).toDF("policy_s")
    ev.crossJoin(broadcast(pol))
      .groupBy("policy_s")
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("ts_us") + col("delay_s") * lit(1000000L) >
          col("wend_us") + col("policy_s") * lit(1000000L), 1L)
          .otherwise(0L)).as("n_dropped"),
        max("delay_s").as("max_delay_s"))
      .withColumn("drop_e6", expr("(n_dropped * 1000000L) div n_total"))
      .orderBy("policy_s")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_lateness_audit" -> (latenessAudit _),
    "seq_user_paths" -> (userPaths _),
    "stream_drift_monitor" -> (driftMonitor _),
    "stream_static_enrich" -> (staticEnrich _),
    "stream_pattern_conversions" -> (patternConversions _),
    "stream_tumbling_hourly" -> (tumblingHourly _),
    "stream_sliding_hourly" -> (slidingHourly _),
    "stream_session_per_user" -> (sessionPerUser _),
    "stream_interval_join" -> (intervalJoin _),
    "stream_running_totals" -> (runningTotals _),
    "stream_dropdup_watermark" -> (dedupWatermarkBatch _),
  )

  val oracles: Map[String, String] = Map(
    // same Knuth-hash delays with the 13th-event straggler tail, same
    // integer-µs drop predicate per policy, same exact e6 share
    "stream_lateness_audit" ->
      """WITH ev AS (SELECT
        |   (event_id * 2654435761) % 4294967296 % 120 +
        |     CASE WHEN event_id % 13 = 0 THEN 3600 ELSE 0 END AS delay_s,
        |   epoch_us(ts) AS ts_us,
        |   epoch_us(date_trunc('hour', ts)) + 3600000000 AS wend_us
        |  FROM events),
        | pol AS (SELECT unnest([0, 60, 600]) AS policy_s)
        |SELECT CAST(policy_s AS BIGINT) AS policy_s,
        | CAST(count(*) AS BIGINT) AS n_total,
        | CAST(sum(CASE WHEN ts_us + delay_s * 1000000 >
        |   wend_us + policy_s * 1000000 THEN 1 ELSE 0 END) AS BIGINT)
        |  AS n_dropped,
        | CAST(max(delay_s) AS BIGINT) AS max_delay_s,
        | (CAST(sum(CASE WHEN ts_us + delay_s * 1000000 >
        |    wend_us + policy_s * 1000000 THEN 1 ELSE 0 END) AS BIGINT)
        |   * 1000000) // CAST(count(*) AS BIGINT) AS drop_e6
        |FROM ev CROSS JOIN pol GROUP BY policy_s
        |ORDER BY policy_s""".stripMargin,
    "seq_user_paths" ->
      """WITH p AS (SELECT user_id, array_to_string(
        |   (array_agg(event_type ORDER BY ts, event_id))[1:3], '>') AS path
        | FROM events GROUP BY user_id)
        |SELECT path, count(*) AS n_users FROM p GROUP BY path
        |ORDER BY n_users DESC, path LIMIT 10""".stripMargin,
    "stream_pattern_conversions" ->
      """WITH s AS (SELECT user_id,
        |   string_agg(substring(event_type, 1, 1), ''
        |     ORDER BY ts, event_id) AS seq
        | FROM events GROUP BY user_id)
        |SELECT user_id, CAST(length(seq) AS BIGINT) AS n_events,
        | CAST(len(regexp_extract_all(seq, 'c+p')) AS BIGINT) AS n_conversions
        |FROM s ORDER BY user_id""".stripMargin,
    "stream_static_enrich" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS win_start,
        | c_mktsegment AS segment, count(*) AS n_events,
        | round(sum(value), 2) AS sum_value
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY win_start, segment ORDER BY win_start, segment""".stripMargin,
    "stream_drift_monitor" ->
      """WITH daily AS (
        | SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
        | FROM events GROUP BY event_type, CAST(ts AS DATE)),
        | wnd AS (
        | SELECT event_type, day, n,
        |  count(n) OVER w AS cnt_w, sum(n) OVER w AS sum_w, sum(n*n) OVER w AS ssq_w
        | FROM daily
        | WINDOW w AS (PARTITION BY event_type ORDER BY day
        |   ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)),
        | scored AS (
        | SELECT event_type, day, n,
        |  CASE WHEN cnt_w >= 3
        |   THEN round(sum_w::DOUBLE / cnt_w, 4) END AS base_mean,
        |  CASE WHEN cnt_w >= 3 AND
        |    (ssq_w::DOUBLE - sum_w::DOUBLE * sum_w::DOUBLE / cnt_w) / (cnt_w - 1.0) > 0
        |   THEN round((n - sum_w::DOUBLE / cnt_w) /
        |     sqrt((ssq_w::DOUBLE - sum_w::DOUBLE * sum_w::DOUBLE / cnt_w) / (cnt_w - 1.0)), 4)
        |   END AS z
        | FROM wnd)
        |SELECT event_type, strftime(day, '%Y-%m-%d') AS day, n, base_mean, z,
        | COALESCE(abs(z) > 2, false) AS anomaly
        |FROM scored ORDER BY event_type, day""".stripMargin,
    "stream_tumbling_hourly" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS win_start,
        | event_type, count(*) AS n_events, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY win_start, event_type ORDER BY win_start, event_type""".stripMargin,
    "stream_sliding_hourly" ->
      """SELECT strftime(ws, '%Y-%m-%d %H:%M') AS win_start, event_type,
        | count(*) AS n_events, round(sum(value), 2) AS sum_value
        |FROM (
        | SELECT time_bucket(INTERVAL '30 minutes', ts) AS ws, event_type, value FROM events
        | UNION ALL
        | SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes' AS ws, event_type, value FROM events)
        |GROUP BY win_start, event_type ORDER BY win_start, event_type""".stripMargin,
    "stream_interval_join" ->
      """SELECT p.user_id, strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
        | count(*) AS n_clicks
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id
        | AND c.ts >= p.ts - INTERVAL '1 hour' AND c.ts <= p.ts
        |GROUP BY p.user_id, purchase_ts
        |ORDER BY p.user_id, purchase_ts""".stripMargin,
    "stream_running_totals" ->
      """SELECT user_id, count(*) AS n_events, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "stream_dropdup_watermark" ->
      """WITH all_ev AS (
        |  SELECT event_id, ts FROM events
        |  UNION ALL SELECT event_id, ts + INTERVAL '5 minutes' FROM events WHERE event_id % 5 = 0
        |  UNION ALL SELECT event_id, ts + INTERVAL '30 minutes' FROM events WHERE event_id % 7 = 0),
        | m AS (SELECT event_id, min(ts) AS t0 FROM all_ev GROUP BY event_id)
        |SELECT a.event_id, strftime(a.ts, '%Y-%m-%d %H:%M:%S') AS ts_kept
        |FROM all_ev a JOIN m USING (event_id)
        |WHERE a.ts = m.t0 OR a.ts >= m.t0 + INTERVAL '10 minutes'
        |ORDER BY event_id, ts_kept""".stripMargin,
    "stream_session_per_user" ->
      """WITH x AS (
        |  SELECT user_id, ts, value,
        |   CASE WHEN lag(ts) OVER w IS NULL
        |         OR ts - lag(ts) OVER w >= INTERVAL '30 minutes' THEN 1 ELSE 0 END AS new_s
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        | y AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid FROM x)
        |SELECT user_id, strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        | count(*) AS n_events, round(sum(value), 2) AS sum_value
        |FROM y GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin,
  )
}
