package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Minimal typed event for custom-state streaming. */
case class UserEvent(user_id: Long, value: Double)

/** Per-user running totals held in the state store. */
case class UserTotal(user_id: Long, n_events: Long, sum_value: Double)

/** Emitted by [[HighWaterProcessor]] whenever a user's maximum improves. */
case class UserHighWater(user_id: Long, high: Double)

/** Full typed event row (the fixture `events` schema) for the stateful
  * funnel / transition processors.
  */
case class TypedEvent(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
    event_type: String, value: Double)

/** Per-user funnel progress: stage timestamps in epoch micros, -1 = unset. */
case class FunnelSt(t1: Long, t2: Long, t3: Long)

/** Emitted by [[FunnelProcessor]] when a user first reaches a stage. */
case class FunnelStage(user_id: Long, stage: String)

/** Last event seen per user — the streaming carrier of `lag(event_type)`. */
case class LastEv(ts: Long, event_id: Long, et: String)

/** Emitted by [[TransitionProcessor]] for each consecutive event pair. */
case class Transition(user_id: Long, prev: String, nxt: String)

/** A finalized (event-time closed) daily count for one event type — the
  * output of the watermarked daily aggregate, input to [[DriftProcessor]].
  */
case class DailyCount(event_type: String, day: String, n: Long)

/** Drift verdict for one finalized day, identical math and column
  * semantics to the batch `StreamingAnalogs.driftMonitor`.
  */
case class DriftRow(event_type: String, day: String, n: Long,
    base_mean: Option[Double], z: Option[Double], anomaly: Boolean)

/** Trailing ≤7-day baseline buffer held per event type by [[DriftProcessor]]. */
case class Baseline(days: Seq[String], ns: Seq[Long])

/** Streaming conversion funnel (twin of `Analytics.funnel`): a per-user
  * stage machine in a `ValueState[FunnelSt]` — first view sets t1, first
  * click in (t1, t1+1d] sets t2, first purchase in (t2, t2+1d] sets t3 —
  * emitting one [[FunnelStage]] row the moment a user reaches a stage.
  * With per-user in-timestamp-order delivery (rows are sorted within
  * each micro-batch; cross-batch order is the source's delivery
  * contract) "first satisfying" equals the batch `min(ts)` semantics, so
  * stage counts equal the batch funnel. State is three longs per user —
  * the keyed-state layout RocksDB shards across executors at any user
  * count.
  */
class FunnelProcessor extends org.apache.spark.sql.streaming.StatefulProcessor[Long, TypedEvent, FunnelStage] {
  import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}

  private val DayMicros = 86400000000L
  @transient private var st: ValueState[FunnelSt] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    st = getHandle.getValueState[FunnelSt]("funnel",
      org.apache.spark.sql.Encoders.product[FunnelSt], TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[TypedEvent],
      timers: TimerValues): Iterator[FunnelStage] = {
    var s = if (st.exists()) st.get() else FunnelSt(-1L, -1L, -1L)
    val out = Seq.newBuilder[FunnelStage]
    def micros(e: TypedEvent): Long = e.ts.getTime / 1000 * 1000000L + e.ts.getNanos / 1000
    // micro-batch iterators carry no order; sort the (bounded) batch
    rows.toSeq.sortBy(e => (micros(e), e.event_id)).foreach { e =>
      val us = micros(e)
      e.event_type match {
        case "view" if s.t1 < 0 =>
          s = s.copy(t1 = us); out += FunnelStage(key, "1_view")
        case "click" if s.t1 >= 0 && s.t2 < 0 && us > s.t1 && us <= s.t1 + DayMicros =>
          s = s.copy(t2 = us); out += FunnelStage(key, "2_click")
        case "purchase" if s.t2 >= 0 && s.t3 < 0 && us > s.t2 && us <= s.t2 + DayMicros =>
          s = s.copy(t3 = us); out += FunnelStage(key, "3_purchase")
        case _ => ()
      }
    }
    st.update(s)
    out.result().iterator
  }
}

/** Streaming first-order transitions (twin of
  * `Temporal.transitionMatrix`): `lag(event_type) OVER (PARTITION BY
  * user ORDER BY ts, event_id)` re-expressed as one [[LastEv]] record of
  * state per user, emitting a [[Transition]] per consecutive pair.
  * Counting/normalizing the emitted pairs downstream (update-mode
  * aggregate or `foreachBatch`) reproduces the batch matrix.
  */
class TransitionProcessor extends org.apache.spark.sql.streaming.StatefulProcessor[Long, TypedEvent, Transition] {
  import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}

  @transient private var last: ValueState[LastEv] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    last = getHandle.getValueState[LastEv]("last",
      org.apache.spark.sql.Encoders.product[LastEv], TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[TypedEvent],
      timers: TimerValues): Iterator[Transition] = {
    var prev = if (last.exists()) Some(last.get()) else None
    val out = Seq.newBuilder[Transition]
    rows.toSeq.map { e =>
      val us = e.ts.getTime / 1000 * 1000000L + e.ts.getNanos / 1000
      LastEv(us, e.event_id, e.event_type)
    }.sortBy(e => (e.ts, e.event_id)).foreach { e =>
      prev.foreach(p => out += Transition(key, p.et, e.et))
      prev = Some(e)
    }
    prev.foreach(last.update)
    out.result().iterator
  }
}

/** Streaming drift monitor (twin of `StreamingAnalogs.driftMonitor`):
  * keyed by event type, a bounded trailing buffer of the last 7
  * FINALIZED daily counts; each incoming closed day is scored against
  * the buffered baseline with the exact integer-sum moment math of the
  * batch query (Σn, Σn² over ≤7 longs, then the identical float
  * expression tree and HALF_UP rounding), so streaming and batch z
  * verdicts are bit-equal. State is ≤7 (day, n) pairs per event type.
  * Upstream, [[StreamingOps.dailyCounts]] closes days via watermark;
  * days finalize in event-time order, which is the delivery order this
  * processor assumes.
  */
class DriftProcessor extends org.apache.spark.sql.streaming.StatefulProcessor[String, DailyCount, DriftRow] {
  import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}

  @transient private var base: ValueState[Baseline] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    base = getHandle.getValueState[Baseline]("base",
      org.apache.spark.sql.Encoders.product[Baseline], TTLConfig.NONE)

  private def r4(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0

  override def handleInputRows(key: String, rows: Iterator[DailyCount],
      timers: TimerValues): Iterator[DriftRow] = {
    var b = if (base.exists()) base.get() else Baseline(Nil, Nil)
    val out = Seq.newBuilder[DriftRow]
    rows.toSeq.sortBy(_.day).foreach { d =>
      val cnt = b.ns.length
      val (mean, z): (Option[Double], Option[Double]) =
        if (cnt >= 3) {
          val sum = b.ns.sum
          val ssq = b.ns.map(n => n * n).sum
          val meanD = sum.toDouble / cnt.toDouble
          val varD = (ssq.toDouble - sum.toDouble * sum.toDouble / cnt.toDouble) / (cnt.toDouble - 1.0)
          (Some(r4(meanD)),
            if (varD > 0) Some(r4((d.n.toDouble - meanD) / math.sqrt(varD))) else None)
        } else (None, None)
      out += DriftRow(key, d.day, d.n, mean, z, z.exists(v => math.abs(v) > 2))
      b = Baseline((b.days :+ d.day).takeRight(7), (b.ns :+ d.n).takeRight(7))
    }
    base.update(b)
    out.result().iterator
  }
}

/** Running EWMA per user: the current smoothed value (`set` false until
  * the first event seeds it).
  */
case class EwmaSt(e: Double, set: Boolean)

/** Emitted by [[EwmaProcessor]] per event: the post-update smoothed value. */
case class EwmaOut(user_id: Long, event_id: Long, value: Double, ewma: Double)

/** A user's retained touch window: (epoch-micros, event_type) pairs no
  * older than 7 days before the newest event processed for the user.
  */
case class AttrSt(touches: Seq[AttrTouch])
case class AttrTouch(us: Long, kind: String)

/** Per-purchase attribution emitted at purchase time (integer cents;
  * channel splits + floor-division residual + the no-touch bucket —
  * identical arithmetic to the batch `join_attribution_linear`).
  */
case class AttrOut(user_id: Long, event_id: Long, cents: Long,
    click_cents: Long, view_cents: Long, signup_cents: Long,
    residual_cents: Long, unattributed_cents: Long)

/** Streaming linear attribution (twin of
  * `Analytics.attributionLinear`): the batch operator counts a
  * purchase's preceding touches with a 7-day RANGE frame — a shape that
  * needs the user's window co-resident in one task. THIS is the
  * unbounded form: state per user is only the touches younger than 7
  * days (pruned as the clock advances — the same retention the range
  * frame implies), and each arriving purchase splits its cents over the
  * retained counts with the exact integer arithmetic of the batch op.
  * The batch RANGE frame is inclusive of the purchase's own timestamp,
  * so within a batch rows are processed in per-TIMESTAMP groups —
  * every touch at time t joins the state BEFORE any purchase at t is
  * split — matching the frame's peer semantics regardless of event-id
  * tie order. Cents use BigDecimal HALF_UP (`round(value*100)` in the
  * batch op — `math.round` would differ on negative values). Under
  * per-user in-timestamp-order delivery the per-purchase outputs are
  * EXACTLY the batch rows (integer cents — no float tolerance needed;
  * asserted in StreamingOpsSpec across a micro-batch boundary). The
  * one caveat delivery order cannot erase: a same-timestamp touch
  * arriving in a LATER micro-batch than its purchase was already
  * emitted without it — inherent to emit-at-purchase streaming, not to
  * this operator.
  */
class AttributionProcessor extends org.apache.spark.sql.streaming.StatefulProcessor[Long, TypedEvent, AttrOut] {
  import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}

  private val SevenDaysUs = 7L * 86400L * 1000000L
  private val Touches = Set("click", "view", "signup")

  @transient private var st: ValueState[AttrSt] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    st = getHandle.getValueState[AttrSt]("attr",
      org.apache.spark.sql.Encoders.product[AttrSt], TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[TypedEvent],
      timers: TimerValues): Iterator[AttrOut] = {
    var touches = if (st.exists()) st.get().touches.toVector else Vector.empty[AttrTouch]
    val out = Seq.newBuilder[AttrOut]
    def micros(e: TypedEvent): Long = e.ts.getTime / 1000 * 1000000L + e.ts.getNanos / 1000
    // per-timestamp groups: ALL touches at time t enter the state before
    // any purchase at t is split — the inclusive RANGE frame counts
    // same-timestamp touches as peers whatever their event-id order
    rows.toSeq.sortBy(e => (micros(e), e.event_id)).groupBy(micros).toSeq.sortBy(_._1)
      .foreach { case (us, group) =>
        // retention: anything at exactly us - 7d is still inside the
        // inclusive batch frame, so prune strictly-older only
        touches = touches.filter(_.us >= us - SevenDaysUs)
        group.foreach { e =>
          if (Touches(e.event_type)) touches :+= AttrTouch(us, e.event_type)
        }
        group.sortBy(_.event_id).foreach { e =>
          if (e.event_type == "purchase") {
            // HALF_UP at scale 0 = the batch op's round(value * 100)
            // (math.round is floor(x+.5): off by one cent for negative x)
            val cents = java.math.BigDecimal.valueOf(e.value * 100)
              .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
            val nC = touches.count(_.kind == "click").toLong
            val nV = touches.count(_.kind == "view").toLong
            val nS = touches.count(_.kind == "signup").toLong
            val tot = nC + nV + nS
            // plain / = Java truncation, matching the batch `div`
            // (Spark IntegralDivide truncates toward zero)
            val (aC, aV, aS) =
              if (tot > 0) (cents * nC / tot, cents * nV / tot, cents * nS / tot)
              else (0L, 0L, 0L)
            out += AttrOut(key, e.event_id, cents, aC, aV, aS,
              if (tot > 0) cents - (aC + aV + aS) else 0L,
              if (tot == 0) cents else 0L)
          }
        }
      }
    st.update(AttrSt(touches))
    out.result().iterator
  }
}

/** Streaming EWMA (twin of `Temporal.ewma`, α = 0.5): the batch
  * operator reassembles each user's full series in one task, which is
  * the right shape when series fit a task; THIS is the shape when they
  * don't — state is ONE double per user (`e ← e + α(v − e)` is
  * associative over prefixes, so no history is ever needed), the
  * recurrence runs in arrival order, and under per-user in-timestamp-
  * order delivery the emitted values are BIT-EQUAL to the batch fold
  * (identical IEEE op sequence; asserted in StreamingOpsSpec).
  */
class EwmaProcessor extends org.apache.spark.sql.streaming.StatefulProcessor[Long, TypedEvent, EwmaOut] {
  import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}

  @transient private var st: ValueState[EwmaSt] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    st = getHandle.getValueState[EwmaSt]("ewma",
      org.apache.spark.sql.Encoders.product[EwmaSt], TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[TypedEvent],
      timers: TimerValues): Iterator[EwmaOut] = {
    var s = if (st.exists()) st.get() else EwmaSt(0.0, set = false)
    val out = Seq.newBuilder[EwmaOut]
    def micros(e: TypedEvent): Long = e.ts.getTime / 1000 * 1000000L + e.ts.getNanos / 1000
    rows.toSeq.sortBy(e => (micros(e), e.event_id)).foreach { e =>
      val nv = if (!s.set) e.value else s.e + 0.5 * (e.value - s.e)
      s = EwmaSt(nv, set = true)
      out += EwmaOut(key, e.event_id, e.value, nv)
    }
    st.update(s)
    out.result().iterator
  }
}

/** One (document × LSH band) routing row for streaming ingestion dedup:
  * the band bucket it lands in plus the distinct shingle set the exact
  * verifier needs.
  */
case class DocBandRow(doc_id: Long, band_idx: Int, band_hash: Long, sset: Seq[String])

/** A document's verification payload stored in a band bucket's state. */
case class DocSig(doc_id: Long, sset: Seq[String])

/** An exact-verified near-duplicate pair emitted at ingestion time. */
case class NearDupHit(id_a: Long, id_b: Long, jaccard: Double)

/** Streaming ingestion-time near-dup detection (twin of the batch
  * `dedup_minhash_lsh` propose/verify pipeline): keyed by (band index,
  * band hash) — i.e. the LSH BUCKET is the state shard — each bucket
  * holds the signatures of every document ever routed to it
  * (`ListState[DocSig]`, the inverted LSH index RocksDB shards across
  * executors). An arriving document exact-Jaccard-verifies against its
  * bucket's residents (identical shingle/rounding/τ definitions to the
  * batch `exactRerank`) and joins the bucket. Under doc_id-ordered
  * delivery the emitted pair set equals the batch query exactly — same
  * bands, same τ, same verified values (asserted in StreamingOpsSpec;
  * pairs sharing several bands emit once per shared band, dedup
  * downstream exactly as the batch `distinct()` does). Buckets past
  * `bucketCap` degrade to hub-only comparison — the streaming form of
  * the batch star-linking cap, bounding boilerplate buckets at O(m)
  * work instead of O(m²).
  */
class NearDupProcessor(tau: Double, bucketCap: Int)
    extends org.apache.spark.sql.streaming.StatefulProcessor[(Int, Long), DocBandRow, NearDupHit] {
  import org.apache.spark.sql.streaming.{ListState, OutputMode, TimeMode, TimerValues, TTLConfig}

  @transient private var bucket: ListState[DocSig] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    bucket = getHandle.getListState[DocSig]("bucket",
      org.apache.spark.sql.Encoders.product[DocSig], TTLConfig.NONE)

  private def r4(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0

  override def handleInputRows(key: (Int, Long), rows: Iterator[DocBandRow],
      timers: TimerValues): Iterator[NearDupHit] = {
    val stored = scala.collection.mutable.ArrayBuffer.empty[DocSig]
    bucket.get().foreach(stored += _)
    val out = Seq.newBuilder[NearDupHit]
    rows.toSeq.sortBy(_.doc_id).foreach { r =>
      if (!stored.exists(_.doc_id == r.doc_id)) { // re-delivery guard
        val residents = if (stored.length > bucketCap) stored.take(1) else stored
        val a = r.sset.toSet
        residents.foreach { s =>
          val b = s.sset.toSet
          val inter = a.count(b)
          val jac = r4(inter.toDouble / (a.size + b.size - inter).toDouble)
          if (jac >= tau)
            out += NearDupHit(math.min(r.doc_id, s.doc_id), math.max(r.doc_id, s.doc_id), jac)
        }
        val sig = DocSig(r.doc_id, r.sset)
        stored += sig
        bucket.appendValue(sig)
      }
    }
    out.result().iterator
  }
}

/** A contracted delta pair for streaming dedup-group maintenance: both
  * endpoints already resolved to yesterday's group roots (or the delta
  * doc's own id) by the stream-static contraction join.
  */
case class ContractedPair(a: Long, b: Long)

/** A (touched-forest node → current group label) assignment emitted
  * after a micro-batch. Labels only ever DECREASE (merges take the min
  * label), so the final state per node is the minimum over all
  * emissions — which is how a consumer reading an update stream folds
  * it without batch ids.
  */
case class GroupAssign(node: Long, new_gid: Long)

/** The touched forest: parallel (node, label) seqs — delta-bounded by
  * construction (see [[IncGroupsProcessor]]).
  */
case class ForestSt(nodes: Seq[Long], gids: Seq[Long])

/** Streaming incremental dedup-group maintenance — the twin of
  * `Dedup.incrementalMerge` (`text_dedup_incremental`) as micro-batches
  * via `transformWithState`: the state is the CONTRACTED-graph forest
  * over {touched base roots ∪ delta ids} with min-id labels, the input
  * is the contracted delta pairs, and after any replay the folded
  * assignments equal the batch merge's relabel set exactly
  * (StreamingOpsSpec asserts row equality against
  * `textDedupIncremental` across a 3-split replay).
  *
  * The single grouping key is deliberate and is NOT a scale cheat: the
  * batch incremental-CC insight is precisely that the update's working
  * set is the contracted graph — delta-sized at every corpus scale
  * (measured 1% of the full rerun, PLANS.md "Round-9: k-means map-side
  * E-step, model warm phase, incremental CC"), the corpus-sized
  * relabel being a downstream JOIN against this delta-sized output.
  * A delta-bounded union-find is a single-node computation in the
  * batch path too (`connectedGroups`' bounded local finish); holding
  * it in one state shard is the same boundedness, one layer over.
  * Merging relabels by a full scan of the forest — O(|touched|) per
  * merge, bounded by the same argument.
  */
class IncGroupsProcessor extends org.apache.spark.sql.streaming.StatefulProcessor[Int, ContractedPair, GroupAssign] {
  import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}

  @transient private var forest: ValueState[ForestSt] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    forest = getHandle.getValueState[ForestSt]("forest",
      org.apache.spark.sql.Encoders.product[ForestSt], TTLConfig.NONE)

  override def handleInputRows(key: Int, rows: Iterator[ContractedPair],
      timers: TimerValues): Iterator[GroupAssign] = {
    val cur = scala.collection.mutable.Map.empty[Long, Long]
    if (forest.exists()) {
      val st = forest.get()
      st.nodes.iterator.zip(st.gids.iterator).foreach { case (n, g) => cur(n) = g }
    }
    // deterministic replay order (batch CC is order-insensitive in the
    // final partition; sorting just makes intermediate emissions stable)
    rows.toSeq.sortBy(e => (e.a, e.b)).foreach { e =>
      val ga = cur.getOrElse(e.a, e.a)
      val gb = cur.getOrElse(e.b, e.b)
      val lo = math.min(ga, gb)
      val hi = math.max(ga, gb)
      cur(e.a) = lo
      cur(e.b) = lo
      if (hi != lo)
        cur.mapValuesInPlace((_, v) => if (v == hi) lo else v)
    }
    val snap = cur.toSeq.sortBy(_._1)
    forest.update(ForestSt(snap.map(_._1), snap.map(_._2)))
    snap.iterator.map { case (n, g) => GroupAssign(n, g) }
  }
}

/** Per-user pattern-matching state: whether the scanner is inside an
  * open `c+` run, plus the running totals the batch query reports.
  */
case class PatternSt(in_run: Boolean, n_events: Long, n_conversions: Long)

/** Emitted by [[PatternProcessor]] once per (user, micro-batch): the
  * user's running totals after that batch.
  */
case class PatternOut(user_id: Long, n_events: Long, n_conversions: Long)

/** Streaming sequence-pattern mining (twin of
  * `StreamingAnalogs.patternConversions`): the batch query counts
  * non-overlapping `c+p` regex matches over each user's ordered
  * event-initial string; a left-to-right regex scan is a 2-state
  * machine, so the streaming form needs ONE BOOLEAN of pattern state
  * per user (inside an open `c+` run or not) plus the two running
  * counters — no history string is ever stored. Per event-initial:
  * `c` opens/continues a run, `p` closes an open run as one conversion,
  * anything else breaks the run — exactly the non-overlapping greedy
  * semantics of `regexp_extract_all(seq, 'c+p')` in both engines. Under
  * per-user in-order delivery the final totals are equal to the batch
  * query (asserted in StreamingOpsSpec across micro-batch splits, which
  * exercise runs spanning batch boundaries).
  */
class PatternProcessor extends org.apache.spark.sql.streaming.StatefulProcessor[Long, TypedEvent, PatternOut] {
  import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}

  @transient private var st: ValueState[PatternSt] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    st = getHandle.getValueState[PatternSt]("pattern",
      org.apache.spark.sql.Encoders.product[PatternSt], TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[TypedEvent],
      timers: TimerValues): Iterator[PatternOut] = {
    var s = if (st.exists()) st.get() else PatternSt(in_run = false, 0L, 0L)
    def micros(e: TypedEvent): Long = e.ts.getTime / 1000 * 1000000L + e.ts.getNanos / 1000
    rows.toSeq.sortBy(e => (micros(e), e.event_id)).foreach { e =>
      s = e.event_type.charAt(0) match {
        case 'c' => PatternSt(in_run = true, s.n_events + 1, s.n_conversions)
        case 'p' if s.in_run =>
          PatternSt(in_run = false, s.n_events + 1, s.n_conversions + 1)
        case _ => PatternSt(in_run = false, s.n_events + 1, s.n_conversions)
      }
    }
    st.update(s)
    Iterator.single(PatternOut(key, s.n_events, s.n_conversions))
  }
}

/** Spark 4 arbitrary-state v2 (`StatefulProcessor` / `transformWithState`
  * — the successor to `mapGroupsWithState` with typed per-key state
  * primitives): a per-user high-water mark in a `ValueState[Double]`,
  * emitting only on improvement (the dedup/alerting shape: suppress
  * non-improving events, state is one double per key). Requires the
  * RocksDB state store provider, which is what a production deployment
  * runs anyway for large keyed state.
  */
class HighWaterProcessor extends org.apache.spark.sql.streaming.StatefulProcessor[Long, UserEvent, UserHighWater] {
  import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}

  @transient private var high: ValueState[Double] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    high = getHandle.getValueState[Double]("high",
      org.apache.spark.sql.Encoders.scalaDouble, TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[UserEvent],
      timers: TimerValues): Iterator[UserHighWater] = {
    val prev = if (high.exists()) high.get() else Double.NegativeInfinity
    val mx = rows.foldLeft(prev)((a, e) => math.max(a, e.value))
    if (mx > prev) {
      high.update(mx)
      Iterator.single(UserHighWater(key, mx))
    } else Iterator.empty
  }
}

/** True Structured Streaming forms of the batch analogs in
  * [[graft.ops.StreamingAnalogs]] — the same aggregation expressions wired
  * with `readStream` semantics: watermarks bound state, window aggregates
  * emit per-watermark, `dropDuplicatesWithinWatermark` handles late
  * duplicate events (the streaming form of the reference's refresh-window
  * re-pull, `utils.py:406-451`).
  *
  * These take an already-streaming DataFrame (tests feed a MemoryStream;
  * production feeds `spark.readStream.format(...)`), so the transforms are
  * source-agnostic. Each returns a streaming DataFrame ready for
  * `writeStream`.
  */
/** One (term × document) posting: term frequency plus the 0-based token
  * positions the positional index needs for phrase adjacency.
  */
case class PostingIn(term: String, doc_id: Long, tf: Long, positions: Seq[Long])

/** Per-term index state: document frequency and collection frequency of
  * the term's posting list.
  */
case class IdxSt(df: Long, cf: Long)

/** An index-maintenance update emitted as a posting is appended: the
  * posting itself plus the term's running (df, cf) AFTER the append —
  * the last update per term carries the final statistics BM25-style
  * scoring reads.
  */
case class PostingUpd(term: String, doc_id: Long, tf: Long,
    positions: Seq[Long], df: Long, cf: Long)

/** Streaming inverted-index maintenance (twin of the batch retrieval
  * surface `search_boolean_and` / `search_phrase_match` / `text_bm25`):
  * keyed by TERM — the posting LIST is the state shard, exactly how a
  * distributed index partitions — each arriving document's posting is
  * appended to the term's `ListState` (the RocksDB-backed posting list)
  * and the term's (df, cf) counters advance. Emitted updates carry the
  * appended posting with positions plus the running statistics, so the
  * union of updates IS the from-scratch index (documents are
  * append-only; a posting is emitted exactly once) and the final (df,
  * cf) per term equals the batch scan's. Ingestion-time maintenance is
  * what a 100 TB retrieval pipeline actually runs — the batch builder
  * re-tokenizes the full corpus per refresh; this pays one append per
  * new posting. Asserted in StreamingOpsSpec: reconstructed index ==
  * batch index, and boolean-AND + positional-phrase queries served from
  * the streamed index equal the batch query results exactly.
  */
class PostingIndexProcessor extends org.apache.spark.sql.streaming.StatefulProcessor[String, PostingIn, PostingUpd] {
  import org.apache.spark.sql.streaming.{ListState, OutputMode, TimeMode, TTLConfig, ValueState}

  @transient private var stats: ValueState[IdxSt] = _
  @transient private var postings: ListState[PostingIn] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    stats = getHandle.getValueState[IdxSt]("idx",
      org.apache.spark.sql.Encoders.product[IdxSt], TTLConfig.NONE)
    postings = getHandle.getListState[PostingIn]("postings",
      org.apache.spark.sql.Encoders.product[PostingIn], TTLConfig.NONE)
  }

  override def handleInputRows(key: String, rows: Iterator[PostingIn],
      timers: org.apache.spark.sql.streaming.TimerValues): Iterator[PostingUpd] = {
    var st = if (stats.exists()) stats.get() else IdxSt(0L, 0L)
    val out = Seq.newBuilder[PostingUpd]
    rows.toSeq.sortBy(_.doc_id).foreach { p =>
      postings.appendValue(p)
      st = IdxSt(st.df + 1, st.cf + p.tf)
      out += PostingUpd(p.term, p.doc_id, p.tf, p.positions, st.df, st.cf)
    }
    stats.update(st)
    out.result().iterator
  }
}

/** One token for the streaming heavy-hitters sketch: group key, item,
  * and a total-order sequence id that fixes the fold order (estimates
  * of a Misra-Gries sketch depend on processing order; pinning the
  * order makes the stream replayable bit-for-bit).
  */
case class MGIn(grp: String, item: String, seq: Long)

/** Sketch snapshot row: emitted per group after each micro-batch;
  * `n_seen` (items folded so far) identifies the latest snapshot.
  */
case class MGOut(grp: String, item: String, est: Long, n_seen: Long)

/** Per-group sketch state: the ≤ k counters plus the fold length. */
case class MGSt(counters: Map[String, Long], nSeen: Long)

/** Streaming twin of the [[graft.functions.MisraGriesAggregator]]
  * heavy-hitters sketch: the k-counter summary lives in a per-group
  * `ValueState` and every arriving token advances it with the SAME
  * `reduce` step the batch aggregator uses — one sketch maintained at
  * ingestion time instead of a per-refresh full recount. State is k
  * counters per group regardless of stream length, the bounded-state
  * property that makes the sketch deployable over an unbounded 100 TB
  * ingest. Tokens inside a batch are folded in `seq` order, so the
  * maintained sketch is EXACTLY the sequential fold over the full
  * stream — StreamingOpsSpec replays that fold on the driver and
  * asserts bit-equality across a micro-batch boundary, plus the
  * classic guarantee (true frequency > n/(k+1) ⇒ item survives).
  */
class MisraGriesProcessor(k: Int)
    extends org.apache.spark.sql.streaming.StatefulProcessor[String, MGIn, MGOut] {
  import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TTLConfig, ValueState}

  private val mg = new graft.functions.MisraGriesAggregator(k)
  @transient private var st: ValueState[MGSt] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    st = getHandle.getValueState[MGSt]("mg",
      org.apache.spark.sql.Encoders.product[MGSt], TTLConfig.NONE)

  override def handleInputRows(key: String, rows: Iterator[MGIn],
      timers: org.apache.spark.sql.streaming.TimerValues): Iterator[MGOut] = {
    val prev = if (st.exists()) st.get() else MGSt(Map.empty, 0L)
    val toks = rows.toSeq.sortBy(_.seq)
    val counters = toks.foldLeft(prev.counters)((b, t) => mg.reduce(b, t.item))
    val next = MGSt(counters, prev.nSeen + toks.length)
    st.update(next)
    mg.finish(counters).iterator
      .map(e => MGOut(key, e.item, e.est, next.nSeen))
  }
}

/** Per-user last-event-time state for the inter-arrival stream. */
case class ArrivalSt(lastUs: Long)

/** One inter-arrival observation: gap to the previous event in micros
  * (−1 for the user's first event).
  */
case class GapOut(user_id: Long, event_id: Long, gap_us: Long)

/** Streaming per-user inter-arrival gaps: one Long of state per user
  * (the last event time). Under (ts, event_id)-ordered delivery the
  * emitted gap multiset equals the batch `lag`-window derivation
  * exactly (asserted in StreamingOpsSpec across a micro-batch
  * boundary) — the stream form of `Temporal.interarrival`'s windowed
  * input, feeding the same bucket histogram downstream.
  */
class InterArrivalProcessor extends org.apache.spark.sql.streaming.StatefulProcessor[Long, TypedEvent, GapOut] {
  import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}

  @transient private var st: ValueState[ArrivalSt] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    st = getHandle.getValueState[ArrivalSt]("arr",
      org.apache.spark.sql.Encoders.product[ArrivalSt], TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[TypedEvent],
      timers: TimerValues): Iterator[GapOut] = {
    var last = if (st.exists()) st.get().lastUs else -1L
    def micros(e: TypedEvent): Long = e.ts.getTime / 1000 * 1000000L + e.ts.getNanos / 1000
    val out = Seq.newBuilder[GapOut]
    rows.toSeq.sortBy(e => (micros(e), e.event_id)).foreach { e =>
      val us = micros(e)
      out += GapOut(key, e.event_id, if (last < 0) -1L else us - last)
      last = us
    }
    st.update(ArrivalSt(last))
    out.result().iterator
  }
}

/** Per-user Page-CUSUM state: the running statistic, alarms fired, rows seen. */
case class PageSt(sacc: Long, alarms: Long, n: Long)

/** Cumulative Page-CUSUM summary per user, emitted after each batch. */
case class PageOut(user_id: Long, n_events: Long, n_alarms: Long, final_s: Long)

/** Streaming twin of `Temporal.pageCusum` (Page's one-sided CUSUM,
  * T = 5000 cents / H = 60000, restart on alarm): three Longs of state
  * per user — the unbounded-series form of the batch per-key fold.
  * Rows are processed in (ts, event_id) order within each batch, and
  * cents use BigDecimal HALF_UP to match the batch `round(value*100)`
  * exactly (math.round would differ for negative values), so under
  * in-order delivery the final emission per user is BIT-EQUAL to the
  * batch summary row (asserted in StreamingOpsSpec across a
  * micro-batch boundary).
  */
class PageCusumProcessor extends org.apache.spark.sql.streaming.StatefulProcessor[Long, TypedEvent, PageOut] {
  import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}

  @transient private var st: ValueState[PageSt] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    st = getHandle.getValueState[PageSt]("page",
      org.apache.spark.sql.Encoders.product[PageSt], TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[TypedEvent],
      timers: TimerValues): Iterator[PageOut] = {
    var s = if (st.exists()) st.get() else PageSt(0L, 0L, 0L)
    def micros(e: TypedEvent): Long = e.ts.getTime / 1000 * 1000000L + e.ts.getNanos / 1000
    rows.toSeq.sortBy(e => (micros(e), e.event_id)).foreach { e =>
      val cents = java.math.BigDecimal.valueOf(e.value * 100)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
      val base = math.max(0L, s.sacc + cents - 5000L)
      s = if (base > 60000L) PageSt(0L, s.alarms + 1, s.n + 1)
          else PageSt(base, s.alarms, s.n + 1)
    }
    st.update(s)
    Iterator.single(PageOut(key, s.n, s.alarms, s.sacc))
  }
}

/** Per-user sessionization state: last event micros, current session
  * ordinal, its start micros, event count and cents total.
  */
case class SessSt(lastUs: Long, sessionN: Long, startUs: Long,
    nEvents: Long, cents: Long)

/** One session row — the final form for closed sessions, the
  * latest-so-far form for the user's open session.
  */
case class SessOut(user_id: Long, session_n: Long, n_events: Long,
    duration_sec: Long, value_cents: Long)

/** Streaming sessionization (twin of the batch `ts_sessionize`
  * gaps-and-islands): one fixed-size [[SessSt]] record per user — a new
  * session starts after a > 30-minute silence, exactly the batch `lag`
  * break rule. Each batch folds the user's rows in (ts, event_id)
  * order; a session CLOSED by an in-batch gap emits its final row once,
  * and the still-open session re-emits its latest aggregate whenever it
  * absorbs events — so the last emission per (user, session_n) (the one
  * with maximal n_events; a session only re-emits when it grows) equals
  * the batch row BIT-FOR-BIT under in-order delivery (asserted in
  * StreamingOpsSpec across micro-batch boundaries, including a split
  * that lands mid-session). Cents use BigDecimal HALF_UP to match the
  * batch `round(value*100)` on negative values. This is the
  * `transformWithState` gap-close form an online feature pipeline
  * serves session features from; the windowed-aggregate form
  * ([[StreamingOps.sessionPerUser]] via `session_window`) answers the
  * same question when only per-window aggregates are needed.
  */
class SessionizeProcessor extends org.apache.spark.sql.streaming.StatefulProcessor[Long, TypedEvent, SessOut] {
  import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}

  @transient private var st: ValueState[SessSt] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    st = getHandle.getValueState[SessSt]("sess",
      org.apache.spark.sql.Encoders.product[SessSt], TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[TypedEvent],
      timers: TimerValues): Iterator[SessOut] = {
    def micros(e: TypedEvent): Long = e.ts.getTime / 1000 * 1000000L + e.ts.getNanos / 1000
    def row(s: SessSt): SessOut = SessOut(key, s.sessionN, s.nEvents,
      (s.lastUs - s.startUs) / 1000000L, s.cents)
    var s = if (st.exists()) st.get() else null
    // LinkedHashMap: one (latest) emission per session touched this batch
    val touched = scala.collection.mutable.LinkedHashMap[Long, SessOut]()
    rows.toSeq.sortBy(e => (micros(e), e.event_id)).foreach { e =>
      val us = micros(e)
      val cents = java.math.BigDecimal.valueOf(e.value * 100)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
      s = if (s == null) SessSt(us, 1L, us, 1L, cents)
      else if (us - s.lastUs > 1800000000L) {
        touched(s.sessionN) = row(s) // closed in-batch: final form
        SessSt(us, s.sessionN + 1, us, 1L, cents)
      } else SessSt(us, s.sessionN, s.startUs, s.nEvents + 1, s.cents + cents)
    }
    if (s != null) {
      touched(s.sessionN) = row(s)
      st.update(s)
    }
    touched.valuesIterator
  }
}

/** CDC current-state record per key: micros + event id of the latest
  * change (the CDC ordering key), its payload, and whether that latest
  * change was a tombstone.
  */
case class CdcSt(us: Long, eventId: Long, eventType: String, value: Double)

/** One CDC state emission: the key's CURRENT row after the batch —
  * `deleted = true` means the latest change is a tombstone and the key
  * is absent from the served table.
  */
case class CdcOut(user_id: Long, us: Long, event_id: Long, ts: String,
    last_type: String, value: Double, deleted: Boolean)

/** Streaming CDC apply (twin of the batch `etl_cdc_apply` /
  * `Dedup.cdcApply`): one fixed-size [[CdcSt]] record per key holding
  * the LATEST change by the (ts, event_id) CDC order — exactly the
  * binlog-consumer state a live replica keeps. Each batch folds the
  * key's rows through a max on (us, event_id) — commutative and
  * associative, so delivery order across batches cannot change the
  * outcome (unlike the sessionize twin, this one is order-insensitive
  * by construction) — and emits the key's current row, tombstones
  * flagged rather than dropped (a downstream materializer needs the
  * delete to propagate). The last emission per key, minus tombstones,
  * equals the batch keep-latest table bit-for-bit: timestamps format in
  * UTC exactly as the batch `date_format`, and values round HALF_UP at
  * 2 decimals like the batch `round(value, 2)` (asserted in
  * StreamingOpsSpec across micro-batch boundaries).
  */
class CdcApplyProcessor extends org.apache.spark.sql.streaming.StatefulProcessor[Long, TypedEvent, CdcOut] {
  import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}

  @transient private var st: ValueState[CdcSt] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    st = getHandle.getValueState[CdcSt]("cdc",
      org.apache.spark.sql.Encoders.product[CdcSt], TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[TypedEvent],
      timers: TimerValues): Iterator[CdcOut] = {
    def micros(e: TypedEvent): Long = e.ts.getTime / 1000 * 1000000L + e.ts.getNanos / 1000
    var s = if (st.exists()) st.get() else null
    rows.foreach { e =>
      val us = micros(e)
      if (s == null || us > s.us || (us == s.us && e.event_id > s.eventId))
        s = CdcSt(us, e.event_id, e.event_type, e.value)
    }
    if (s == null) Iterator.empty
    else {
      st.update(s)
      val tsStr = java.time.Instant.ofEpochSecond(s.us / 1000000L, (s.us % 1000000L) * 1000L)
        .atZone(java.time.ZoneOffset.UTC)
        .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))
      val v2 = java.math.BigDecimal.valueOf(s.value)
        .setScale(2, java.math.RoundingMode.HALF_UP).doubleValue() + 0.0
      Iterator.single(
        CdcOut(key, s.us, s.eventId, tsStr, s.eventType, v2, s.eventType == "error"))
    }
  }
}

/** One labeled fact for the feature-store twin: key, its categorical
  * group, and the integer-cents label.
  */
case class EncIn(order_id: Long, seg: String, cents: Long)

/** Per-group sufficient statistics for target encoding: row count and
  * exact integer label sum.
  */
case class SegSt(n_g: Long, s_g: Long)

/** A statistics update emitted per appended fact — the group's (n, Σ)
  * AFTER the append; the last update per group carries the serving
  * state.
  */
case class SegStatOut(seg: String, n_g: Long, s_g: Long)

/** Streaming feature-store maintenance (twin of the batch
  * `ml_target_encoding`): keyed by the categorical group, the state is
  * the group's target-encoding SUFFICIENT STATISTICS (n_g, Σcents) —
  * the fixed-size record an online feature store keeps per key so new
  * facts update features without a batch recompute. Appends fold in
  * input order within a key (sorted by order id for replayability);
  * the final state per group equals the batch aggregate exactly
  * (integer addition is associative), so serving LOO encodings from the
  * maintained state reproduces the batch transform bit-for-bit —
  * asserted in StreamingOpsSpec across a micro-batch boundary. Long
  * sums bound the corpus at ~2e11 orders of $500k; a larger deployment
  * shards the key-space into (group, salt) sub-sums and merges at
  * serve time.
  */
class TargetEncProcessor extends org.apache.spark.sql.streaming.StatefulProcessor[String, EncIn, SegStatOut] {
  import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TTLConfig, ValueState}

  @transient private var st: ValueState[SegSt] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    st = getHandle.getValueState[SegSt]("seg",
      org.apache.spark.sql.Encoders.product[SegSt], TTLConfig.NONE)

  override def handleInputRows(key: String, rows: Iterator[EncIn],
      timers: org.apache.spark.sql.streaming.TimerValues): Iterator[SegStatOut] = {
    var s = if (st.exists()) st.get() else SegSt(0L, 0L)
    val out = Seq.newBuilder[SegStatOut]
    rows.toSeq.sortBy(_.order_id).foreach { r =>
      s = SegSt(s.n_g + 1, s.s_g + r.cents)
      out += SegStatOut(key, s.n_g, s.s_g)
    }
    st.update(s)
    out.result().iterator
  }
}

object StreamingOps {

  /** Streaming target-encoding statistics maintenance over labeled
    * facts; the serving snapshot per group is the row with maximal
    * `n_g`.
    */
  def targetEncStats(facts: org.apache.spark.sql.Dataset[EncIn]):
      org.apache.spark.sql.Dataset[SegStatOut] = {
    import facts.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    facts.groupByKey(_.seg)
      .transformWithState(new TargetEncProcessor, TimeMode.None(), OutputMode.Update())
  }

  /** Streaming heavy-hitters maintenance over grouped tokens; the
    * latest snapshot per group is the row set with maximal `n_seen`.
    */
  def heavyHittersSketch(toks: org.apache.spark.sql.Dataset[MGIn], k: Int):
      org.apache.spark.sql.Dataset[MGOut] = {
    import toks.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    toks.groupByKey(_.grp)
      .transformWithState(new MisraGriesProcessor(k), TimeMode.None(), OutputMode.Update())
  }

  /** Tumbling hourly counts with a 10-minute watermark. */
  def tumblingHourly(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum("value").as("sum_value"))

  /** Session windows (30-minute gap) per user with watermark-bounded state. */
  def sessionPerUser(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum("value").as("sum_value"))

  /** Late-duplicate removal inside the watermark horizon — the streaming
    * idempotency analog of the reference's delete-range+append.
    */
  def dedupWithinWatermark(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark(Seq("event_id"))

  /** Stream-stream interval join: each purchase joined to clicks of the
    * same user within the preceding hour. Both sides carry watermarks so
    * Spark can bound the join state (clicks older than purchase-watermark
    * − 1 h are evicted) — the state-safety requirement that makes
    * stream-stream joins run indefinitely.
    */
  def purchasesWithRecentClicks(purchases: DataFrame, clicks: DataFrame): DataFrame = {
    val p = purchases.withWatermark("ts", "10 minutes")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"), col("value").as("p_value"))
    val c = clicks.withWatermark("ts", "1 hour")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
    p.join(c,
      col("p_user") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
        col("c_ts") <= col("p_ts"))
  }

  /** Stream-static enrichment: the event stream joined to a STATIC
    * dimension frame. The static side's JOIN executes per micro-batch
    * (with `broadcast()` it re-broadcasts each batch), but a plain
    * parquet-backed frame pins its file listing at plan time — swapping
    * the dimension files under a running query throws FILE_NOT_EXIST
    * (verified in StreamingOpsSpec' s sibling test during development);
    * live dimension refresh needs a table format with snapshot isolation
    * or a query restart. The stream side never shuffles on the join key;
    * only the windowed aggregate exchanges. Batch twin:
    * `StreamingAnalogs.staticEnrich`, which runs this transform (oracle-checked).
    */
  def enrichWithDim(events: DataFrame, dim: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .join(broadcast(dim), col("user_id") === col("c_custkey"))
      .groupBy(window(col("ts"), "1 hour"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n_events"), sum("value").as("sum_value"))

  /** Arbitrary state v2: see [[HighWaterProcessor]]. Update-mode emission,
    * processing-time semantics (no timers needed for a high-water mark).
    */
  def highWaterPerUser(events: org.apache.spark.sql.Dataset[UserEvent]):
      org.apache.spark.sql.Dataset[UserHighWater] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    events.groupByKey(_.user_id)
      .transformWithState(new HighWaterProcessor, TimeMode.None(), OutputMode.Update())
  }

  /** Streaming funnel: see [[FunnelProcessor]]. Update-mode emission; a
    * downstream count of rows per stage equals the batch
    * `Analytics.funnel` stage counts under in-order delivery.
    */
  def funnelStages(events: org.apache.spark.sql.Dataset[TypedEvent]):
      org.apache.spark.sql.Dataset[FunnelStage] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    events.groupByKey(_.user_id)
      .transformWithState(new FunnelProcessor, TimeMode.None(), OutputMode.Update())
  }

  /** Streaming per-user inter-arrival gaps: see [[InterArrivalProcessor]]. */
  def interArrivalPerUser(events: org.apache.spark.sql.Dataset[TypedEvent]):
      org.apache.spark.sql.Dataset[GapOut] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    events.groupByKey(_.user_id)
      .transformWithState(new InterArrivalProcessor, TimeMode.None(), OutputMode.Update())
  }

  /** Streaming CDC apply: see [[CdcApplyProcessor]]. */
  def cdcApplyPerUser(events: org.apache.spark.sql.Dataset[TypedEvent]):
      org.apache.spark.sql.Dataset[CdcOut] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    events.groupByKey(_.user_id)
      .transformWithState(new CdcApplyProcessor, TimeMode.None(), OutputMode.Update())
  }

  /** Streaming per-user sessionization: see [[SessionizeProcessor]]. */
  def sessionizePerUser(events: org.apache.spark.sql.Dataset[TypedEvent]):
      org.apache.spark.sql.Dataset[SessOut] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    events.groupByKey(_.user_id)
      .transformWithState(new SessionizeProcessor, TimeMode.None(), OutputMode.Update())
  }

  /** Streaming per-user Page CUSUM: see [[PageCusumProcessor]]. */
  def pageCusumPerUser(events: org.apache.spark.sql.Dataset[TypedEvent]):
      org.apache.spark.sql.Dataset[PageOut] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    events.groupByKey(_.user_id)
      .transformWithState(new PageCusumProcessor, TimeMode.None(), OutputMode.Update())
  }

  /** Streaming per-user EWMA: see [[EwmaProcessor]]. One double of state
    * per user — the unbounded-series form of `Temporal.ewma`.
    */
  def ewmaPerUser(events: org.apache.spark.sql.Dataset[TypedEvent]):
      org.apache.spark.sql.Dataset[EwmaOut] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    events.groupByKey(_.user_id)
      .transformWithState(new EwmaProcessor, TimeMode.None(), OutputMode.Update())
  }

  /** Streaming linear attribution: see [[AttributionProcessor]].
    * State per user = the 7-day touch window only.
    */
  def attributionPerPurchase(events: org.apache.spark.sql.Dataset[TypedEvent]):
      org.apache.spark.sql.Dataset[AttrOut] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    events.groupByKey(_.user_id)
      .transformWithState(new AttributionProcessor, TimeMode.None(), OutputMode.Update())
  }

  /** Streaming ingestion-time near-dup detection: see
    * [[NearDupProcessor]]. The signature/band projection is the SAME
    * `Dedup.minHashBands` expression tree the batch pipeline plans
    * (per-row, stream-safe); the shingle set rides along via `carry` so
    * routing and verification payload travel in one row.
    */
  def nearDupHits(docs: DataFrame, tau: Double = 0.6,
      bucketCap: Int = 4096): org.apache.spark.sql.Dataset[NearDupHit] = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val bands = graft.ops.Dedup.minHashBands(docs, "doc_id", "text",
      carry = Seq("sset" ->
        array_distinct(graft.ops.Dedup.wordShingles(split(col("text"), " ")))))
    bands
      .select(col("doc_id"), col("sset"),
        posexplode(array(bands.columns.filter(_.startsWith("band_")).map(col): _*))
          .as(Seq("band_idx", "band_hash")))
      .as[DocBandRow]
      .groupByKey(r => (r.band_idx, r.band_hash))
      .transformWithState(new NearDupProcessor(tau, bucketCap), TimeMode.None(), OutputMode.Update())
  }

  /** Streaming incremental dedup-group maintenance: see
    * [[IncGroupsProcessor]]. `deltaPairs` is the STREAM of near-dup
    * pairs touching newly-ingested docs (from any candidate generator —
    * the spec feeds the batch pair table in splits); `baseGroups` is
    * yesterday's STATIC groups table. The stream-static left joins
    * perform the same endpoint contraction as
    * `Dedup.incrementalMerge` (pair endpoint → its base root, or
    * itself if unseen), so only contracted — delta-sized — edges ever
    * reach the stateful operator.
    */
  def incGroupAssignments(deltaPairs: DataFrame, baseGroups: DataFrame):
      org.apache.spark.sql.Dataset[GroupAssign] = {
    import deltaPairs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val ga = baseGroups.select(col("id").as("id_a"), col("group_id").as("ga"))
    val gb = baseGroups.select(col("id").as("id_b"), col("group_id").as("gb"))
    deltaPairs.select("id_a", "id_b")
      .join(ga, Seq("id_a"), "left")
      .join(gb, Seq("id_b"), "left")
      .select(coalesce(col("ga"), col("id_a")).as("a"),
        coalesce(col("gb"), col("id_b")).as("b"))
      .filter(col("a") =!= col("b"))
      .as[ContractedPair]
      .groupByKey(_ => 0)
      .transformWithState(new IncGroupsProcessor, TimeMode.None(), OutputMode.Update())
  }

  /** Streaming Count-Min sketch maintenance (twin of
    * `Sketches.cmsTable`): a mergeable sketch IS a streaming aggregate —
    * explode each arriving key into its d (row, bucket) cells and keep a
    * running count per cell in the streaming state store (update mode).
    * The state is the sketch: d·w = 2 048 counters total regardless of
    * stream length or key cardinality, and after any prefix of the
    * stream the latest emitted counts equal the batch sketch of the
    * events seen so far (exact integer hashing, no order sensitivity —
    * asserted in StreamingOpsSpec). No custom processor is needed; the
    * sketch's mergeability is exactly what makes the built-in
    * partial-agg streaming machinery correct for it.
    */
  def cmsCellCounts(events: DataFrame): DataFrame =
    events
      .select(explode(graft.ops.Sketches.cellArray(col("user_id"))).as("cell"))
      .groupBy(col("cell.j").as("j"), col("cell.bucket").as("bucket"))
      .agg(count(lit(1)).as("cnt"))

  /** Streaming quantile-grid maintenance (twin of
    * `Sketches.quantileGridDaily`): like the CMS, the grid is a plain
    * streaming aggregate — bucket each arriving value and keep a running
    * count per bucket (update mode, ≤64 counters of state). The grid
    * BOUNDS are a fixed model artifact (chosen at sketch creation from a
    * training pass or config, exactly as the batch sketch derives them
    * from its corpus pass) — a stream cannot re-derive global min/max
    * without re-bucketing history, which is the known trade of every
    * fixed-grid streaming sketch. Quantile READS interpolate from the
    * counters exactly as the batch merge does.
    */
  def qgridCells(events: DataFrame, lo: Double, hi: Double, buckets: Int = 64): DataFrame =
    events
      .select(least(floor((col("value") - lit(lo)) / lit((hi - lo) / buckets)),
        lit(buckets - 1L)).cast("long").as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("cnt"))

  /** Streaming PSI bucket maintenance (twin of `Audit.psiDrift`'s
    * current-window side): the baseline decile EDGES are a frozen model
    * artifact (exactly as the batch op freezes them from the baseline
    * period), and the current window's bucket populations are a plain
    * streaming aggregate — ≤10 counters of state, updated map-side
    * against the broadcast edge array. PSI contributions are a 10-row
    * read over these counters with the batch op's smoothed formula; the
    * frozen-edge trade is the same one the quantile-grid twin documents.
    */
  def psiBuckets(events: DataFrame, edges: Seq[Double]): DataFrame = {
    val arr = array(edges.map(lit): _*)
    events
      .select(size(filter(arr, e => col("value") > e)).cast("long").as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("cnt"))
  }

  /** Streaming sequence-pattern mining: see [[PatternProcessor]]. One
    * boolean + two counters of state per user — the unbounded-series
    * form of `StreamingAnalogs.patternConversions`.
    */
  def patternCounts(events: org.apache.spark.sql.Dataset[TypedEvent]):
      org.apache.spark.sql.Dataset[PatternOut] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    events.groupByKey(_.user_id)
      .transformWithState(new PatternProcessor, TimeMode.None(), OutputMode.Update())
  }

  /** Streaming consecutive-pair extraction: see [[TransitionProcessor]]. */
  def transitionPairs(events: org.apache.spark.sql.Dataset[TypedEvent]):
      org.apache.spark.sql.Dataset[Transition] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    events.groupByKey(_.user_id)
      .transformWithState(new TransitionProcessor, TimeMode.None(), OutputMode.Update())
  }

  /** Watermarked tumbling DAILY counts — the stage that finalizes
    * (event_type, day, n) rows for the drift monitor. In append mode a
    * day's row emits exactly once, when the watermark passes the window
    * end: the finalized-day stream [[DriftProcessor]] consumes.
    */
  def dailyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("event_type"),
        date_format(col("window.start"), "yyyy-MM-dd").as("day"), col("n"))

  /** Streaming drift scoring over finalized daily counts: see
    * [[DriftProcessor]]. Production chains `dailyCounts` (append mode)
    * into this; the test harness runs the two stages as connected
    * queries and asserts bit-equality with the batch monitor.
    */
  def driftOverDaily(daily: org.apache.spark.sql.Dataset[DailyCount]):
      org.apache.spark.sql.Dataset[DriftRow] = {
    import daily.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    daily.groupByKey(_.event_type)
      .transformWithState(new DriftProcessor, TimeMode.None(), OutputMode.Update())
  }

  /** Streaming posting-list maintenance: see [[PostingIndexProcessor]].
    * Tokenization is per-row (`split(" ", -1)` — the Java twin of the
    * batch `split(text, " ")`, which keeps trailing empties) and the
    * per-document (term, tf, positions) rollup happens INSIDE the row's
    * flatMap, so the only stateful stage is the keyed index append — no
    * streaming pre-aggregate, one shuffle on term.
    */
  def postingIndex(docs: DataFrame): org.apache.spark.sql.Dataset[PostingUpd] = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        text.split(" ", -1).zipWithIndex.groupBy(_._1).toSeq.sortBy(_._1)
          .map { case (w, occ) =>
            PostingIn(w, id, occ.length.toLong, occ.map(_._2.toLong).sorted.toSeq)
          }
      }
      .groupByKey(_.term)
      .transformWithState(new PostingIndexProcessor, TimeMode.None(), OutputMode.Update())
  }

  /** Custom arbitrary state (SURVEY §2.10: `mapGroupsWithState`): running
    * per-user totals — event count and value sum accumulated across
    * micro-batches in a typed state store. The state is one fixed-size
    * record per user; at scale that is exactly the keyed-state layout
    * RocksDB-backed stores shard across executors.
    */
  def runningUserTotals(events: org.apache.spark.sql.Dataset[UserEvent]):
      org.apache.spark.sql.Dataset[UserTotal] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[UserTotal, UserTotal](GroupStateTimeout.NoTimeout) {
        (user: Long, batch: Iterator[UserEvent], state: GroupState[UserTotal]) =>
          val prev = state.getOption.getOrElse(UserTotal(user, 0L, 0.0))
          val (n, sum) = batch.foldLeft((prev.n_events, prev.sum_value)) {
            case ((c, s), e) => (c + 1, s + e.value)
          }
          val next = UserTotal(user, n, sum)
          state.update(next)
          next
      }
  }
}
