package graft

import org.apache.spark.sql.DataFrame

/** Pure contention-flag logic, factored out of the bench main so a spec can
  * drive it with synthetic telemetry (r12 verdict task 1: four consecutive
  * rounds shipped contention-skewed records that each cost the judge a
  * same-tree adjudication replay — r9 351 s, r10 651 s, r11 warm 110 s,
  * r12 487 s — because the CPU canary ran once BEFORE the query loop and
  * the warm flag guarded only materialization, so mid-query-phase steal
  * was invisible to every flag).
  *
  * The steal signature (per-query, from the SAME iteration as the reported
  * min): wall > 3x process-cpu-seconds (less than 1/3 of ONE core busy
  * while 32 are available) with gc below 100 ms — heap pressure shows up
  * as gc time, plan problems show up as cpu time, hypervisor steal shows
  * up as neither. A 1-second wall floor keeps trivially-short queries
  * (where scheduler jitter dominates) out of the suspect set; they cannot
  * meaningfully skew a multi-minute total anyway.
  */
object BenchFlags {
  val StealWallFactor = 3.0
  val StealGcCeilingMs = 100L
  val StealWallFloorSec = 1.0
  val ContendedShare = 0.20

  /** Query names whose telemetry matches the steal signature. */
  def stealSuspects(
      wall: Seq[(String, Double)],
      cpu: Map[String, Double],
      gcMs: Map[String, Long]): Seq[String] =
    wall.collect {
      case (name, w)
          if w >= StealWallFloorSec &&
            w > StealWallFactor * cpu.getOrElse(name, 0.0) &&
            gcMs.getOrElse(name, 0L) < StealGcCeilingMs =>
        name
    }.map(_.toString)

  /** True when the suspects' wall share of the query-phase total crosses
    * the threshold — one I/O-bound outlier stays a footnote; a contended
    * WINDOW (queries run in sorted order, so steal maps to a name range)
    * taints the headline and must self-declare.
    */
  def queriesContended(
      wall: Seq[(String, Double)],
      suspects: Seq[String]): Boolean = {
    val total = wall.collect { case (_, w) if w >= 0 => w }.sum
    val sus = suspects.toSet
    val susWall = wall.collect { case (n, w) if w >= 0 && sus(n) => w }.sum
    total > 0 && susWall / total > ContendedShare
  }
}

object Bench {
  /** JSON string literal: escapes quote, backslash and ALL control chars
    * (< 0x20) — a tab or CR in an oracle SQL string would otherwise make
    * a strict JSON parser reject the whole file. Shared by this record
    * and `Verify`'s oracle_sql.json.
    */
  private[graft] def jstr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** The action every timer runs on a declared query's frame: this
    * bench's per-query loop and `Probe`'s `stages`, `spill` and `scale`.
    * Returns the output rows.
    */
  private[graft] def action(df: DataFrame): Long = df.count()

  def main(args: Array[String]): Unit = {
    val sfDir = Probe.sfDir
    val spark = Session()
    Probe.warmUp(spark, sfDir)
    // host-speed canary: a FIXED data-independent CPU-bound aggregate
    // (codegen'd range sum, all cores). Its time calibrates the run —
    // measured spreads up to ~2.4x on identical code from hypervisor
    // contention make raw totals incomparable across runs; readers
    // should compare total/canary ratios, not totals.
    val canary = {
      val t0 = System.nanoTime()
      spark.range(200000000L).selectExpr("sum(id * 3 + 1)").collect()
      (System.nanoTime() - t0) / 1e9
    }
    // I/O-bound canary (r11 verdict task 2): the CPU canary certified a
    // record whose warm phase ran 2.7x its clean-host cost, because
    // CPU-bound codegen can't see I/O/GC/page-cache contention — the
    // exact pressure the materialization phase (parquet scans + pinned
    // blocks) is most exposed to. This one re-reads a FIXED parquet
    // (every lineitem column decoded, hashed, reduced — decode- and
    // scan-bound, data-independent across rounds at the same SF) three
    // times and reports the MEDIAN, so one page-cache miss doesn't
    // spike it and sustained contention can't hide in a lucky min.
    val ioCanary = {
      val times = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        // modulo before the sum: raw xxhash64 sums overflow ANSI addExact
        spark.read.parquet(s"$sfDir/lineitem.parquet")
          .selectExpr("sum(xxhash64(*) % 1000000007)").collect()
        (System.nanoTime() - t0) / 1e9
      }
      times.sorted.apply(1)
    }
    // two timed iterations per query, min reported: the second run reuses
    // warmed JIT/codegen caches, so min-of-2 approximates steady-state
    // latency without GC/compilation noise
    // a failed query reports -1.0 (loudly, on stderr) rather than its
    // time-to-throw — otherwise a planning error reads as a speedup
    // optional comma-separated name-prefix filter for iterating on one
    // query locally; the driver never sets it, so round benches run all
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSeq)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1).filter { case (n, _) =>
      only.forall(_.exists(n.startsWith))
    }
    // shared-materialization phase: pre-build every Materialized entry
    // (edge tables, dedup pair/group tables) and report the cost as its
    // own line — otherwise whichever query touches a shared table first
    // absorbs its build and per-query numbers depend on run order
    // (observed 6x on graph_pagerank_parts). Queries run in pinned
    // (sorted) order, so with the shared builds factored out the
    // per-query numbers are warm-path and run-to-run comparable.
    // Skipped for filtered local runs (which never ship bench.json).
    // canary-gated record hygiene (def used both here and for the
    // `contended` flag below): the committed BENCH_r*.json history IS
    // the calibration baseline — the driver wraps the bench line INSIDE
    // a JSON string field, so committed records carry \"canary_sec\":1.0
    // with ESCAPED quotes; the optional backslashes accept both forms
    // (the r9-r11 regex required bare quotes, matched nothing, and the
    // baseline was silently empty every round).
    def trailingMedian(field: String): Option[Double] = {
      val re = ("\\\\?\"" + field + "\\\\?\":([0-9.]+)").r
      val vals = Option(new java.io.File(".").listFiles()).getOrElse(Array.empty)
        .filter(_.getName.matches("BENCH_r\\d+\\.json"))
        .sortBy(f => f.getName.replaceAll("\\D", "").toInt)
        .flatMap { f =>
          val src = scala.io.Source.fromFile(f)
          try re.findFirstMatchIn(src.mkString).map(_.group(1).toDouble)
          finally src.close()
        }.toSeq.takeRight(5)
      if (vals.isEmpty) None else Some(vals.sorted.apply(vals.size / 2))
    }
    val canaryBase = trailingMedian("canary_sec")
    // r14 (verdict task 5): when the start canary already reads
    // contended, skip the 4-thread warm overlap — under host steal the
    // overlap AMPLIFIES contention (r13 driver records: 58.8 s
    // overlapped at c32 vs 34.8 s sequential at c8 for the same builds)
    val warmOverlap = !canaryBase.exists(m => canary > 1.5 * m)
    if (!warmOverlap) System.err.println(
      f"[bench] WARM-SEQUENTIAL: start canary ${canary}%.3f s exceeds 1.5x trailing " +
        f"median ${canaryBase.get}%.3f s - warm builds run sequentially to avoid " +
        "amplifying host contention")
    val warmT0 = System.nanoTime()
    val shared =
      if (only.isEmpty) SharedTables.warmAll(spark, sfDir, overlap = warmOverlap)
      else Seq.empty[(String, Double, Double)]
    // r13 measurement fix (documented in OPTIMIZATION_r13.md): warmAll
    // now overlaps independent builds inside dependency waves, so the
    // phase's true cost is its WALL CLOCK, not the sum of per-entry
    // walls (overlapped entries double-count shared time). The old sum
    // ships alongside as materialization_sum_sec so prior-round records
    // stay comparable.
    val sharedSec =
      if (only.isEmpty) (System.nanoTime() - warmT0) / 1e9 else 0.0
    val sharedSumSec = shared.map(_._2).sum
    // consumer counting starts AFTER the warm: nested warm builds (the
    // incremental-graph tables access graph-base-edges ~4x during
    // warmAll) inflated the pre-r11 counts so the WARM-COST flag could
    // essentially never fire for nested tables. Post-warm accesses /
    // 2 timed iterations = distinct querying consumers, matching the
    // metric's stated semantics. The warm-phase counts are snapshotted
    // FIRST: an entry consumed by OTHER warm builds (accesses beyond
    // its own build's) earns its keep through its derived tables even
    // if few queries touch it directly, so the flag must not fire on
    // it (first live instance: graph-base-edges, which exists to feed
    // the three incremental-graph tables during warm and then serves
    // one query chain).
    val warmAccessed = graft.io.Materialized.accessCounts
    graft.io.Materialized.resetAccessCounts()
    // model provenance: how many ModelStore artifacts the warm phase had
    // to TRAIN (0 = all served from disk; >0 = cold store or recompiled
    // trainer bytecode re-keyed the tables) plus the trainer code-id —
    // so a reader can tell a cold-trained record from a warm-served one
    val modelsTrained = graft.io.ModelStore.trainEvents.size
    val modelCodeId = graft.io.ModelStore.codeIdTag
    // a failure's exception text is RECORDED in the JSON (not only on
    // stderr, which the round harness discards) and the process exits
    // non-zero — a record containing a -1.0 must never ship as "final"
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    // per-query GC telemetry: driver-JVM collection-time delta (ms,
    // all collectors) alongside seconds, taken from the SAME iteration
    // as the reported min time. The CPU canary calibrates host speed but
    // cannot see memory pressure — an order-of-magnitude per-query
    // outlier with gc_ms ≈ 0 is hypervisor contention, one with large
    // gc_ms is heap pressure; recording both makes a contended run
    // self-diagnosing instead of a cross-host adjudication.
    import scala.jdk.CollectionConverters._
    def gcMillis(): Long = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum
    // per-query process-CPU-seconds next to wall seconds: the canary
    // calibrates host speed ONCE per run, but hypervisor CPU-steal is
    // time-windowed — r9's record had 2-14x wall outliers with gc_ms=0
    // in alphabetically adjacent clusters (queries run sorted, so a
    // contended window maps to a name range) that cost an adjudication
    // round-trip. wall >> cpu on a 32-thread-busy query = the host took
    // the cycles, not the plan; recording both makes it self-diagnosing.
    // Note cpu is summed over ALL threads, so cpu_sec > sec is normal
    // for parallel stages; the steal signature is specifically a wall
    // blow-up at FLAT cpu vs the query's other iteration / other runs.
    val cpuBean: Option[com.sun.management.OperatingSystemMXBean] =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
        case b: com.sun.management.OperatingSystemMXBean => Some(b)
        case _ => None
      }
    def cpuNanos(): Long = cpuBean.map(_.getProcessCpuTime).getOrElse(0L)
    val gcByQuery = scala.collection.mutable.LinkedHashMap[String, Long]()
    val cpuByQuery = scala.collection.mutable.LinkedHashMap[String, Double]()
    val results = selected.map { case (name, fn) =>
      val times = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        val g0 = gcMillis()
        val c0 = cpuNanos()
        try {
          action(fn(spark, sfDir))
          ((System.nanoTime() - t0) / 1e9, gcMillis() - g0, (cpuNanos() - c0) / 1e9)
        }
        catch { case e: Throwable =>
          val msg = (Option(e.getMessage).getOrElse("") match {
            case "" => e.getClass.getName
            case m  => e.getClass.getSimpleName + ": " + m
          }).replaceAll("\\s+", " ").take(300)
          errors(name) = msg
          System.err.println(s"[bench] $name FAILED: $msg"); (-1.0, 0L, 0.0)
        }
      }
      val best = times.minBy(_._1)
      gcByQuery(name) = best._2
      cpuByQuery(name) = best._3
      name -> (if (times.exists(_._1 == -1.0)) -1.0 else best._1)
    }
    // post-loop canary (r12 verdict task 1): the pre-loop canary certifies
    // only the moment BEFORE the query phase — r12's contention arrived
    // mid-phase and shipped a 2.3x-skewed headline under contended:false.
    // The identical fixed workload re-run after the loop brackets the
    // phase; `contended` below gates on the max of the two.
    val canaryEnd = {
      val t0 = System.nanoTime()
      spark.range(200000000L).selectExpr("sum(id * 3 + 1)").collect()
      (System.nanoTime() - t0) / 1e9
    }
    // per-query steal telemetry → self-flagging record (BenchFlags doc)
    val stealSuspects = BenchFlags.stealSuspects(
      results, cpuByQuery.toMap, gcByQuery.toMap)
    val queriesContended = BenchFlags.queriesContended(results, stealSuspects)
    if (queriesContended) System.err.println(
      s"[bench] QUERIES-CONTENDED: ${stealSuspects.size} steal-suspect queries " +
        s"(wall>3x cpu, gc~0) hold >20% of query-phase wall - totals reflect " +
        s"host contention, not code: ${stealSuspects.mkString(",")}")
    // The harness keeps only the last ~2000 chars of stdout, and 78 query
    // names cannot fit in that window. So: the FULL per-query JSON goes to
    // bench.json (committed in-repo) and stdout first; the LAST line
    // printed is a compact JSON — total + the 30 slowest queries + the
    // aggregated rest — sized well inside the tail window so the driver's
    // parse always succeeds.
    // Locale.ROOT: the f-interpolator uses the default locale, which on
    // comma-decimal locales would emit invalid JSON ("value":37,850)
    def fmt(v: Double): String =
      if (v < 0) "-1.0"
      else String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val gcJson = gcByQuery.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val errJson =
      if (errors.isEmpty) ""
      else ",\"errors\":" + errors.map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }
        .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum + sharedSec
    val sharedJson = shared.map { case (k, v, _) => s"\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val sharedCpuJson = shared.map { case (k, _, c) => s"\"" + k + "\":" + fmt(c) }
      .mkString("{", ",", "}")
    // warm-phase cost governance: per shared table, build seconds next
    // to how many distinct query constructions consumed it (post-warm
    // Materialized accesses / 2 timed iterations — counts were reset
    // right after warmAll). A build that costs more than its consumers
    // save is a net-negative materialization (r9 shipped one: 125 s
    // build serving ~6 s of query time) — the record must make that
    // trade visible the day it lands, so any entry with build > 5 s
    // and ≤ 1 querying consumer is FLAGGED.
    val accessed = graft.io.Materialized.accessCounts
    val consumers = shared.collect { case (label, _, _) if !label.startsWith("model-") =>
      label -> accessed.getOrElse(label, 0L) / 2
    }
    val consumersJson = consumers.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // warm consumers = accesses by OTHER builds during warmAll (each
    // entry's own build accesses itself exactly once)
    val warmConsumers = shared.collect { case (label, _, _) if !label.startsWith("model-") =>
      label -> math.max(0L, warmAccessed.getOrElse(label, 0L) - 1)
    }.toMap
    val flagged = consumers.collect {
      case (label, n) if n <= 1 && warmConsumers.getOrElse(label, 0L) == 0 &&
        shared.find(_._1 == label).exists(_._2 > 5.0) => label
    }
    // canary-gated record hygiene: two consecutive rounds shipped
    // contention-skewed headline numbers (r9 351 s, r10 651 s vs 174 s
    // on a quiet host) that each cost a judge adjudication round-trip.
    // When this run's canary exceeds 1.5x the trailing median, the
    // record self-declares `contended` so no reader treats its totals
    // as a regression (or an improvement) without checking the ratio
    // (trailingMedian/canaryBase defined above the warm phase, which
    // also gates its overlap on them).
    // gate on the WORSE of the bracketing canaries: a clean start plus a
    // contended end means the phase in between cannot be trusted either
    val canaryMax = math.max(canary, canaryEnd)
    val contended = canaryBase.exists(m => canaryMax > 1.5 * m)
    if (contended) System.err.println(
      f"[bench] CONTENDED: canary max(start=${canary}%.3f, end=${canaryEnd}%.3f) s is >1.5x " +
        f"the trailing-round median ${canaryBase.get}%.3f s - totals in this record " +
        f"reflect host contention, not code")
    // warm-phase contention flag (r11 verdict task 2): the r11 driver
    // record shipped contended:false at CPU-canary 1.02 while its warm
    // phase ran 110 s vs 38-40 s on three same-tree solo runs — the
    // committed BENCH history is the calibration baseline for the WARM
    // PHASE too, so a record whose materialization total exceeds 1.5x
    // the trailing median self-declares instead of costing the judge an
    // adjudication replay. (Query timings already get min-of-2; the
    // warm builds run once by design — each build IS its cache fill —
    // so cross-round comparison, not repetition, is their steadiness
    // check.) Skipped like the canary when no history exists.
    val warmBase = trailingMedian("materialization_sec")
    val warmContended = warmBase.exists(m => sharedSec > 1.5 * m && sharedSec > m + 10.0)
    if (warmContended) System.err.println(
      f"[bench] WARM-CONTENDED: materialization ${sharedSec}%.1f s is >1.5x the trailing-round " +
        f"median ${warmBase.get}%.1f s - warm-phase totals reflect host contention, not code")
    val canaryJson = canaryBase
      .map(m => s""","canary_median_prior":${fmt(m)},"contended":$contended""")
      .getOrElse(""","contended":false""") +
      s""","canary_end_sec":${fmt(canaryEnd)}""" +
      s""","io_canary_sec":${fmt(ioCanary)}""" +
      warmBase.map(m => s""","warm_median_prior":${fmt(m)},"warm_contended":$warmContended""")
        .getOrElse(""","warm_contended":false""") +
      s""","steal_suspects":${stealSuspects.map(jstr).mkString("[", ",", "]")}""" +
      s""","queries_contended":$queriesContended"""
    flagged.foreach(l => System.err.println(
      s"[bench] WARM-COST FLAG: shared table '$l' cost >5s to build but served <=1 query"))
    val flaggedJson = flagged.map(jstr).mkString("[", ",", "]")
    // model provenance is re-read AFTER the query loop: in a filtered
    // run warmAll is skipped, so a model trained lazily inside a timed
    // query would otherwise be invisible while iteration 1 silently
    // absorbed its training cost — exactly the attribution this field
    // exists to expose. trained = warm-phase trains; trained_late =
    // trains that happened inside the timed loop (want: 0).
    val modelsTrainedLate = graft.io.ModelStore.trainEvents.size - modelsTrained
    val cpuJson = cpuByQuery.map { case (k, v) => s"\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val line = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","canary_sec":${fmt(canary)}$canaryJson,""" +
      s""""materialization_sec":${fmt(sharedSec)},"materialization_sum_sec":${fmt(sharedSumSec)},"materialization":$sharedJson,""" +
      s""""materialization_cpu":$sharedCpuJson,""" +
      s""""materialization_consumers":$consumersJson,""" +
      s""""materialization_warm_consumers":${warmConsumers.toSeq.sortBy(_._1)
        .map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")},""" +
      s""""materialization_flags":$flaggedJson,""" +
      s""""models":{"trained":$modelsTrained,"trained_late":$modelsTrainedLate,"code_id":"$modelCodeId"},""" +
      s""""queries":$qs,"gc_ms":$gcJson,"cpu_sec":$cpuJson$errJson,"sf":"$sfDir"}"""
    // filtered local runs must not clobber the round record, and neither
    // must a partially-failed run: a caller ignoring the non-zero exit (or
    // a later blanket commit) would ship the broken record over the last
    // clean one — failures land in bench-failed.json instead
    if (only.isEmpty) {
      val out = new java.io.PrintWriter(
        if (errors.isEmpty) "bench.json" else "bench-failed.json")
      try out.println(line) finally out.close()
    }
    println(line)
    val top = results.sortBy { case (_, v) => -v }.take(30)
    val topQs = top.map { case (k, v) => s"\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val rest = results.map(_._2).filter(_ >= 0).sum - top.map(_._2).filter(_ >= 0).sum
    // r14 (verdict task 1): the compact line is the record the DRIVER
    // parses, and five consecutive rounds shipped contention-skewed
    // headlines because the self-flagging telemetry lived only in the
    // full detail line. Additions-only: the contention verdicts, both
    // bracketing canaries, and the steal-suspect count ride along so a
    // contended run self-identifies in the parsed record itself.
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","canary_sec":${fmt(canary)},""" +
      s""""canary_end_sec":${fmt(canaryEnd)},"contended":$contended,""" +
      s""""queries_contended":$queriesContended,"n_steal_suspects":${stealSuspects.size},""" +
      s""""warm_contended":$warmContended,""" +
      s""""materialization_sec":${fmt(sharedSec)},"queries":$topQs,""" +
      s""""other_sec":${fmt(rest)},"n_queries":${results.size},"detail":"bench.json","sf":"$sfDir"}""")
    spark.stop()
    // any -1.0 in the record ⇒ non-zero exit: a caller (or a builder about
    // to commit bench.json) cannot mistake a partially-failed run for clean
    if (errors.nonEmpty) sys.exit(1)
  }
}
