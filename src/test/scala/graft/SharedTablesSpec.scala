package graft

import graft.io.Materialized

/** The [[SharedTables]] registry must stay COMPLETE: if an operator
  * adds a new `Materialized.of` site without a registry row, the bench's
  * materialization phase misses it and its build cost lands on whichever
  * query runs first — the exact order-dependence the phase exists to
  * remove. Constructing every `SparkEntry` query (query construction is
  * what populates the session cache; no action needed) after a full warm
  * must therefore add zero new cache entries.
  */
class SharedTablesSpec extends SparkSpec {

  "SharedTables.warmAll" should "cover every Materialized entry any query creates" in {
    Materialized.clear()
    SharedTables.warmAll(spark, sfDir)
    val warmed = Materialized.cacheSize
    warmed shouldBe SharedTables.entries.size
    SparkEntry.queries.foreach { case (_, fn) => fn(spark, sfDir) }
    Materialized.cacheSize shouldBe warmed
  }

  /** Structural guard for the single-partition-build bug class: a
    * corpus-derived shared table that inherits single-FILE scan
    * parallelism runs its whole (expensive) build on one core and is
    * maximally fragile to host contention — two independent sites
    * regressed exactly this way in one round (shingleSets at 124.9 s
    * for a 0.5 s computation; ngramJaccardPairs at 20.3 s), despite a
    * doc-comment rule prohibiting the shape. Prose rules don't hold;
    * this sweep does: every materialized entry must either carry more
    * than one partition or be genuinely tiny. The graph tables are
    * SANCTIONED at 1 partition — their partition count is size-derived
    * by construction (~100k rows/partition via Graph.sized, so small
    * fixtures legitimately collapse to one) — and any new exemption
    * must be argued here.
    */
  it should "never materialize a corpus-derived table at single-partition parallelism" in {
    Materialized.clear()
    SharedTables.warmAll(spark, sfDir)
    val sizeDerived =
      Set("graph-edges", "graph-nodes", "graph-und", "graph-wedges", "graph-strong",
        "graph-base-edges", "graph-base-nodes", "graph-inc-edges", "graph-inc-nodes",
        // delta-sized by construction (new-edge anti-join output): its
        // partition count is AQE's shuffle coalescing sized to the DELTA,
        // not inherited file-scan layout — the opposite of the bug class
        "graph-inc-delta")
    Materialized.entriesFor(spark).foreach { case (label, df) =>
      val base = label.takeWhile(_ != '|')
      if (!sizeDerived.contains(base)) {
        val parts = df.rdd.getNumPartitions
        lazy val rows = df.count()
        withClue(s"shared table '$base' materialized as $parts partition(s): ") {
          assert(parts > 1 || rows <= 100)
        }
      }
    }
  }

  it should "be idempotent per (session, fixture)" in {
    val n = Materialized.cacheSize
    SharedTables.warmAll(spark, sfDir)
    Materialized.cacheSize shouldBe n
  }

  /** The warm order is the only list of build dependencies: each row
    * comes after every row its build reads. Built one row at a time from
    * an empty cache, a table row that adds more than its own entry has
    * built a dependency listed after it, which an overlapped warm would
    * then wait on or build twice.
    */
  it should "list every row after the rows its build reads" in {
    Materialized.clear()
    def added(build: (org.apache.spark.sql.SparkSession, String) => Unit): Int = {
      val before = Materialized.cacheSize
      build(spark, sfDir)
      Materialized.cacheSize - before
    }
    SharedTables.entries.foreach { case (label, build) =>
      withClue(s"table row '$label': ") { added(build) shouldBe 1 }
    }
    SharedTables.models.foreach { case (label, build) =>
      withClue(s"model row '$label': ") { added(build) shouldBe 0 }
    }
  }

  /** r14 (verdict task 5): a hung build must FAIL the bench loudly, not
    * hang it forever — warmAll awaited each future with `Duration.Inf`.
    * Drive the fan-out warmAll runs on with a synthetic hung task and a
    * tiny timeout; completed pool-mates must still have run.
    */
  it should "fail loudly when a warm build exceeds its timeout" in {
    import scala.concurrent.duration._
    val ran = new java.util.concurrent.atomic.AtomicBoolean(false)
    val hung: () => Unit = () =>
      try Thread.sleep(60000) catch { case _: InterruptedException => () }
    val quick: () => Unit = () => ran.set(true)
    a[java.util.concurrent.TimeoutException] should be thrownBy {
      FanOut(Seq(quick, hung), poolSize = 2, timeout = 2.seconds)
    }
    ran.get() shouldBe true
  }

  /** overlap = false must force a sequential warm (pool of one): the
    * bench passes it when the start canary already reads contended,
    * because the 4-thread overlap amplifies host steal.
    */
  it should "run strictly sequentially when overlap is disabled" in {
    import scala.concurrent.duration._
    val concurrent = new java.util.concurrent.atomic.AtomicInteger(0)
    val peak = new java.util.concurrent.atomic.AtomicInteger(0)
    val task: () => Unit = () => {
      val c = concurrent.incrementAndGet()
      peak.getAndUpdate(p => math.max(p, c))
      Thread.sleep(50)
      concurrent.decrementAndGet()
      ()
    }
    FanOut(Seq.fill(4)(task), poolSize = 1, timeout = 30.seconds)
    peak.get() shouldBe 1
  }

  /** The model registry must stay COMPLETE too: against a COLD store
    * (fresh root — the on-disk home store would otherwise serve
    * everything and the assertion would be vacuous), a full warm
    * followed by constructing every query must record zero new
    * ModelStore train events. A new `ensure*` site without a
    * `SharedTables.models` row fails here — its training cost would
    * otherwise land on the first query that serves it.
    */
  it should "pre-train every ModelStore artifact any query serves" in {
    val io = graft.io.ModelStore
    val prevRoot = io.rootOverride
    io.rootOverride = Some(tmpDir("graft-models-cold"))
    try {
      Materialized.clear()
      SharedTables.warmAll(spark, sfDir)
      val trainedAfterWarm = io.trainEvents.size
      trainedAfterWarm should be > 0 // cold store: the warm really trained
      SparkEntry.queries.foreach { case (_, fn) => fn(spark, sfDir) }
      io.trainEvents.size shouldBe trainedAfterWarm
    } finally {
      io.rootOverride = prevRoot
      // drop Materialized frames built against the throwaway store so
      // later suites rebuild against the real root
      Materialized.clear()
    }
  }
}
