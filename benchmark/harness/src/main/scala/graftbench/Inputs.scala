package graftbench

import java.time.LocalDate

import scala.util.Random

import graft.model.ServiceSpec.DateRange

/** A selective read run after a workload: a date range on the table's
  * partition column plus an equality on one of its cluster keys.
  */
final case class Read(table: String, dateCol: String, range: DateRange, keyCol: String, key: Long)

/** Everything the seed decides. The program under test receives only these
  * values; the source data itself is the fixed fixture in `data/`.
  *
  * @param backfill   per date domain ("tpch": orders + lineitem, "events"),
  *                   the contiguous historical window one backfill loads
  * @param warmup     per domain, the short window the set-up load uses
  * @param base       per domain, the window the refresh set-up backfills
  * @param anchors    refresh "today" per step and domain; every refresh
  *                   window [anchor - 7, anchor] lies inside `base`
  * @param sample     [[sampleQueries]] in a seeded run order
  * @param backfillReads reads of the gold tables after a backfill
  * @param refreshReads  reads of the gold tables after a refresh step
  * @param sourceReads   reads of the same shape against the source tables
  */
final case class Inputs(
    seed: Long,
    backfill: Map[String, DateRange],
    warmup: Map[String, DateRange],
    base: Map[String, DateRange],
    anchors: Seq[Map[String, LocalDate]],
    sample: Seq[String],
    backfillReads: Seq[Read],
    refreshReads: Seq[Read],
    sourceReads: Seq[Read],
)

object Inputs {

  /** Date domains of the fixture's fact tables. orders and lineitem load
    * together (one `runAll` carries one historical window), so their
    * domain is the intersection of theirs.
    */
  val domains: Map[String, DateRange] = Map(
    "tpch" -> DateRange(LocalDate.parse("1995-01-02"), LocalDate.parse("2001-08-01")),
    "events" -> DateRange(LocalDate.parse("2024-01-01"), LocalDate.parse("2024-01-30")),
  )

  /** Window lengths in days, per domain. */
  val backfillDays = Map("tpch" -> 20, "events" -> 14)
  val warmupDays = Map("tpch" -> 3, "events" -> 2)
  val baseDays = Map("tpch" -> 20, "events" -> 14)
  val refreshDaysBack = 7
  val refreshSteps = 64
  val familiesPerRun = 6
  val readsPerTable = 2

  /** Queries left out of the sample, with the reason. */
  val excluded: Map[String, String] = Map(
    "etl_pipeline_e2e" -> "writes its scratch warehouse to a fixed path outside the run directory",
  )

  def family(query: String): String = query.takeWhile(_ != '_')

  /** The queries `query_mix` times: `familiesPerRun` name-prefix families,
    * one query from each, drawn once from a fixed stream. A seed-drawn
    * composition made a pass's wall time swing by nearly half between
    * seeds (one heavy query more or less), so every seed times the same
    * queries and the seed decides their order.
    */
  def sampleQueries(queryNames: Iterable[String]): Seq[String] = {
    val pick = new Random(sampleStream)
    val byFamily = queryNames.filterNot(excluded.contains).toSeq.sorted.groupBy(family)
    pick.shuffle(byFamily.keys.toSeq.sorted).take(familiesPerRun).sorted
      .map(f => pick.shuffle(byFamily(f)).head)
  }
  private val sampleStream = 20261017L

  /** (table, partition column, cluster key, key upper bound exclusive, domain) */
  private val goldKeys = Seq(
    ("gold_orders_daily", "o_orderdate_date", "o_custkey", 1500L, "tpch"),
    ("gold_lineitem_daily", "l_shipdate_date", "l_suppkey", 100L, "tpch"),
    ("gold_events_hourly", "ts_date", "user_id", 150L, "events"),
  )
  private val sourceOf = Map(
    "gold_orders_daily" -> ("orders", "o_orderdate"),
    "gold_lineitem_daily" -> ("lineitem", "l_shipdate"),
    "gold_events_hourly" -> ("events", "ts"),
  )

  /** Each kind of input draws from its own stream of the seed, so a
    * workload that needs only some of them gets the same values as one
    * that needs all. `queryNames` is evaluated only for the sample.
    */
  def generate(seed: Long, queryNames: => Iterable[String], withSample: Boolean): Inputs = {
    def stream(kind: Int) = new Random(seed * 1000003L + kind)
    val windows = stream(1)
    def window(dom: DateRange, days: Int): DateRange = {
      val span = dom.end.toEpochDay - dom.start.toEpochDay + 1
      val len = math.min(days.toLong, span)
      val start = dom.start.plusDays((windows.nextDouble() * (span - len + 1)).toLong)
      DateRange(start, start.plusDays(len - 1))
    }
    val backfill = domains.map { case (d, dom) => d -> window(dom, backfillDays(d)) }
    val warmup = domains.map { case (d, dom) => d -> window(dom, warmupDays(d)) }
    val base = domains.map { case (d, dom) => d -> window(dom, baseDays(d)) }

    val days = stream(2)
    val anchors = Seq.fill(refreshSteps) {
      base.map { case (d, b) =>
        val lo = b.start.plusDays(refreshDaysBack.toLong)
        d -> lo.plusDays((days.nextDouble() * (b.end.toEpochDay - lo.toEpochDay + 1)).toLong)
      }
    }

    val sample = if (!withSample) Seq.empty[String] else stream(3).shuffle(sampleQueries(queryNames))

    val preds = stream(4)
    def reads(loaded: Map[String, DateRange], onSource: Boolean): Seq[Read] =
      goldKeys.flatMap { case (gold, dateCol, keyCol, keys, dom) =>
        Seq.fill(readsPerTable) {
          val w = loaded(dom)
          val len = 1 + preds.nextInt(7)
          val s = w.start.plusDays((preds.nextDouble() *
            math.max(1L, w.end.toEpochDay - w.start.toEpochDay - len + 2)).toLong)
          val e = if (s.plusDays(len - 1L).isAfter(w.end)) w.end else s.plusDays(len - 1L)
          val key = (preds.nextDouble() * keys).toLong
          if (onSource) {
            val (src, field) = sourceOf(gold)
            Read(src, field, DateRange(s, e), keyCol, key)
          } else Read(gold, dateCol, DateRange(s, e), keyCol, key)
        }
      }
    Inputs(seed, backfill, warmup, base, anchors, sample,
      reads(backfill, onSource = false), reads(base, onSource = false),
      reads(backfill, onSource = true))
  }
}
