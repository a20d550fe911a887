package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.{Checkpoints, Materialized, Sources}

/** Iterative graph analytics over the order-basket co-purchase graph
  * (SURVEY §2 extension — the link-analysis ops a training-data pipeline
  * uses to rank crawl seeds / score document inter-linking).
  *
  * The graph is derived deterministically from `lineitem`: within an
  * order, the part on line *i* points at the part on line *i+1* (the
  * "bought-after" chain — an equi-join on `(l_orderkey, l_linenumber+1)`,
  * bounded fan-out per order, never an all-pairs stage). At 100 TB the
  * edge build is one shuffle on `l_orderkey` and every iteration below is
  * an equi-join + aggregate on the part key — the standard
  * PageRank-on-DataFrames shape where AQE handles hub-part skew.
  *
  * All rank arithmetic is FIXED-POINT (longs, 1e-12 units) with integer
  * division only, so the iteration is bit-reproducible in any engine and
  * the DuckDB oracle replays it exactly — the same trick as the
  * integer-hash Count-Min (`Sketches.scala`) and the cent-exact EWMA.
  */
object Graph {

  /** Rank unit: 1.0 of PageRank mass = 1e12 units. Total in-flight mass
    * is ≤ 1e12 and every per-iteration product is ≤ 85e12, far under
    * Long.MaxValue (~9.2e18).
    */
  private val Scale = 1000000000000L

  // (r14) the raw bought-after self-join for the FULL corpus lives only
  // in the graph-wedges build now: graph-edges and graph-strong are both
  // projections of its (src, dst, w) aggregate — see edgesWithDeg /
  // strongEdges. edgesFrom stays for the filtered base/delta tables and
  // the probes.

  /** `(src, dst, outd)` — the edge list with the source's out-degree,
    * built ONCE per (session, fixture) via [[Materialized]]: both
    * PageRank variants and the reachability query consume the identical
    * edge table, and each PageRank iteration references it again — the
    * in-session stand-in for the edge table a production graph pipeline
    * materializes before any traversal.
    */
  /** Hash-repartition onto a SIZE-DERIVED partition count (~100k rows
    * per partition, capped at the session's shuffle parallelism) for
    * the layout-pinned tables: pinLayout preserves exactly this layout,
    * so iterative joins co-locate on it — but without AQE the session
    * default (32 here, thousands on a cluster) would leave near-empty
    * partitions whose per-task scheduling dominates every iteration at
    * small data. Partition count should track the DATA, not the
    * session default; the one extra count() runs once per session in
    * the warm phase.
    */
  private def sized(df: DataFrame, key: String, countOf: DataFrame = null): DataFrame = {
    // `countOf`: a cheaper frame with the SAME row count, when one
    // exists — e.g. the pre-join edge table for edges ⋈ (per-src degree
    // aggregate), whose inner join on src's own aggregate preserves
    // cardinality. Counting the joined frame would execute the
    // expensive join twice during warm (once for the count, once for
    // the eager layout pin).
    //
    // countOf == null: lazy-pin df before counting it, so the count()
    // materializes the lineage ONCE and the layout repartition re-reads
    // the blocks instead of re-executing the (distinct/join) subtree a
    // second time (r13 warm-phase optimization — the drawdown
    // multi-consumer pin discipline applied to the warm builds).
    val pinned = if (countOf == null) Checkpoints.pin(df, eager = false) else df
    val basis = if (countOf == null) pinned else countOf
    val parts = math.max(1L, math.min(
      df.sparkSession.sessionState.conf.numShufflePartitions.toLong,
      basis.count() / 100000L + 1L)).toInt
    pinned.repartition(parts, col(key))
  }

  private[graft] def edgesWithDeg(s: SparkSession, d: String): DataFrame =
    Materialized.of(s, s"graph-edges|$d", layout = true) {
      // r14 (§2.4 compute once): the distinct bought-after pairs ARE the
      // (src, dst) keys of the graph-wedges aggregate — same self-join,
      // same src≠dst filter, same order-chain adjacency, just grouped
      // with a count — so this build projects the already-materialized
      // wedges table instead of re-running the lineitem self-join +
      // distinct (the warm phase paid that corpus join twice; at 100 TB
      // it is the most expensive subplan the graph family has). The
      // lazy pin still feeds the count, BOTH sides of the degree join,
      // and the final layout pin exactly as before.
      val e = Checkpoints.pin(
        weightedEdges(s, d).select("src", "dst"), eager = false)
      // pin the edge table ALREADY hash-partitioned on src: the pinned
      // LogicalRDD keeps that output partitioning, so every PageRank /
      // PPR iteration's join on src shuffles ONLY the node-sized rank
      // table — without this the full edge table re-exchanges every
      // iteration (the corpus-sized side, ×iterations, at 100 TB)
      sized(e.join(e.groupBy("src").agg(count(lit(1)).as("outd")), "src"), "src",
        countOf = e)
    }

  /** All nodes (src ∪ dst), materialized once per (session, fixture). */
  private[graft] def nodeTable(s: SparkSession, d: String): DataFrame =
    // layout: distinct leaves the table hash-partitioned on part — the
    // per-iteration left join then only shuffles the aggregated sums
    Materialized.of(s, s"graph-nodes|$d", layout = true) {
      val eo = edgesWithDeg(s, d)
      sized(eo.select(col("src").as("part"))
        .union(eo.select(col("dst").as("part"))).distinct(), "part")
    }

  // ——— Incremental graph maintenance (graph_pagerank_incremental) ———
  //
  // A 100 TB pipeline does not re-derive its edge table from the fact
  // scan on every ingest — it maintains the edge/degree/node tables
  // under the appended batch and re-runs the (deterministic) rank loop
  // on the merged tables. Every tenth ORDER plays the newly-arrived
  // batch (the dedup-incremental split, one domain over); "yesterday's"
  // tables are base-order-only materializations. The merge never
  // re-shuffles or re-derives the corpus: genuinely-new delta edges
  // come from one anti-join that probes the layout-pinned base (only
  // the delta side exchanges), the degree patch rides a BROADCAST of
  // the batch-bounded touched-src table over the pinned base (pure
  // map-side; were a deployment's delta to outgrow broadcast, dropping
  // the hint degrades to a delta-sized shuffle that still co-locates
  // on the base layout), and the node union appends only unseen ids.
  // Because the rank loop is a pure function of the edge/degree/node
  // SETS, the incremental result is BIT-EQUAL to the full recompute —
  // the oracle for `graph_pagerank_incremental` is the full-recompute
  // SQL, so the equality is hash-checked. PLANS.md "Round-10:
  // incremental PageRank maintenance probe" measures the maintenance
  // cost against the full re-derivation.

  private def isDeltaOrder(ok: Column): Column = pmod(ok, lit(10L)) === 0

  /** "Yesterday's" edge+outdegree table: bought-after edges over BASE
    * orders only, size-partitioned and layout-pinned like
    * [[edgesWithDeg]].
    */
  private[graft] def baseEdges(s: SparkSession, d: String): DataFrame =
    Materialized.of(s, s"graph-base-edges|$d", layout = true) {
      // lazy pin: same 3x-lineage argument as the graph-edges build
      val e = Checkpoints.pin(edgesFrom(Sources.lineitem(s, d)
        .filter(!isDeltaOrder(col("l_orderkey")))), eager = false)
      sized(e.join(e.groupBy("src").agg(count(lit(1)).as("outd")), "src"), "src",
        countOf = e)
    }

  /** "Yesterday's" node table over the base edge set. */
  private[graft] def baseNodes(s: SparkSession, d: String): DataFrame =
    Materialized.of(s, s"graph-base-nodes|$d", layout = true) {
      val eo = baseEdges(s, d)
      sized(eo.select(col("src").as("part"))
        .union(eo.select(col("dst").as("part"))).distinct(), "part")
    }

  /** Genuinely-NEW edges from the delta batch: bought-after pairs of
    * delta orders minus pairs the base table already holds. Delta-sized
    * output; the anti-join probes the pinned base without re-exchanging
    * it (base is hash-partitioned on src from [[baseEdges]]).
    */
  private[graft] def deltaNewEdges(s: SparkSession, d: String): DataFrame =
    Materialized.of(s, s"graph-inc-delta|$d") {
      edgesFrom(Sources.lineitem(s, d).filter(isDeltaOrder(col("l_orderkey"))))
        .join(baseEdges(s, d).select("src", "dst"), Seq("src", "dst"), "left_anti")
    }

  /** The MERGED edge+outdegree table — base patched with the delta
    * batch, shared by [[mergeEdges]] with the probe. `outd` is exact:
    * new edges are disjoint from base by construction, so
    * outd_full(src) = outd_base(src) + |new edges from src|.
    */
  private[graft] def mergeEdges(baseEo: DataFrame, newE: DataFrame): DataFrame = {
    val dDeg = newE.groupBy("src").agg(count(lit(1)).as("d_outd"))
    // degree patch: broadcast the batch-bounded per-src delta counts
    // over the pinned base — map-side, the corpus never moves
    val patchedBase = baseEo.join(broadcast(dDeg), Seq("src"), "left")
      .select(col("src"), col("dst"),
        (col("outd") + coalesce(col("d_outd"), lit(0L))).as("outd"))
    // base degrees of TOUCHED srcs only: broadcast-semi filter over the
    // pinned base (map-side scan), then a delta-sized distinct
    val baseDegTouched = baseEo.join(broadcast(dDeg.select("src")), Seq("src"))
      .select(col("src"), col("outd")).distinct()
    val newEo = newE
      .join(broadcast(dDeg), Seq("src"))
      .join(broadcast(baseDegTouched), Seq("src"), "left")
      .select(col("src"), col("dst"),
        (coalesce(col("outd"), lit(0L)) + col("d_outd")).as("outd"))
    patchedBase.unionAll(newEo)
  }

  /** Merged edge table, re-pinned on src for the iteration joins — the
    * write-back that makes the merged table tomorrow's base. The one
    * repartition here is the maintenance cost ceiling: everything
    * upstream is map-side or delta-sized, and the full re-derivation's
    * fact self-join + corpus distinct never runs.
    */
  private[graft] def incEdges(s: SparkSession, d: String): DataFrame =
    Materialized.of(s, s"graph-inc-edges|$d", layout = true) {
      // partition count from the base table: the merge adds <~10% rows,
      // immaterial against the ~100k rows/partition sizing target
      sized(mergeEdges(baseEdges(s, d), deltaNewEdges(s, d)), "src",
        countOf = baseEdges(s, d))
    }

  /** Merged node table: base nodes plus previously-unseen delta ids —
    * append-only, no corpus-sized distinct (the anti-join probes the
    * pinned base node table; only the delta-sized side exchanges).
    */
  private[graft] def incNodes(s: SparkSession, d: String): DataFrame =
    Materialized.of(s, s"graph-inc-nodes|$d", layout = true) {
      val bn = baseNodes(s, d)
      val newE = deltaNewEdges(s, d)
      val dn = newE.select(col("src").as("part"))
        .union(newE.select(col("dst").as("part"))).distinct()
        .join(bn, Seq("part"), "left_anti")
      sized(bn.unionAll(dn), "part", countOf = bn)
    }

  /** Incremental PageRank (`graph_pagerank_incremental`): the fixed-5
    * rank loop over the incrementally-MAINTAINED tables. Must equal
    * [[pageRankParts]] bit-for-bit — the oracle is the full-recompute
    * SQL.
    */
  def pageRankIncremental(s: SparkSession, d: String): DataFrame =
    pageRankLoop(incEdges(s, d), incNodes(s, d))
      .orderBy(col("r").desc, col("part"))
      .limit(20)
      .select(col("part"), col("r").as("rank_e12"))

  /** PageRank, 5 fixed iterations, damping 0.85, teleport uniform.
    *
    * Per iteration: each node divides its rank evenly over its out-edges
    * (`r div outd` — integer floor division), incoming contributions are
    * summed per destination, and the new rank is
    * `teleport + (85 * inSum) div 100`. Nodes without out-edges leak
    * their damped mass (the classic "dangling mass dropped" variant) and
    * floor division sheds < 1 unit per edge — both deterministic, both
    * mirrored in the oracle, so the gate is an EXACT integer compare.
    *
    * Edges-with-out-degree and the node list come from [[Materialized]]
    * (once per session × fixture): the loop body references them five
    * times, the PPR variant reuses the identical tables, and an
    * unmaterialized plan would re-scan parquet per iteration.
    */
  /** The uniform-teleport fixed-point loop over prepared `(src, dst,
    * outd)` edges and a `part` node table. Returns the full rank table;
    * its scaling is in PLANS.md "PageRank scaling measurement".
    */
  private[graft] def pageRankLoop(eo: DataFrame, nodes: DataFrame): DataFrame = {
    val nCnt = nodes.agg(count(lit(1)).as("n"))
    // same per-round lazy-pin discipline as [[pageRankLoopAdaptive]]:
    // every iteration's rank table truncates lineage, so the final plan
    // is constant-depth (orderBy over one RDD scan) at ANY iteration
    // count — the fixed count exists only because the oracle replays it
    var r = Checkpoints.pin(
      nodes.crossJoin(broadcast(nCnt))
        .select(col("part"), expr(s"$Scale div n").as("r")),
      eager = false)
    for (_ <- 1 to 5) {
      val sums = eo
        .join(r.withColumnRenamed("part", "src"), "src")
        .select(col("dst").as("part"), expr("r div outd").as("c"))
        .groupBy("part").agg(sum("c").as("m"))
      r = Checkpoints.pin(
        nodes.crossJoin(broadcast(nCnt)).join(sums, Seq("part"), "left")
          .select(
            col("part"),
            (expr(s"${15 * Scale} div (100 * n)") +
              expr("(85 * coalesce(m, 0)) div 100")).as("r")),
        eager = false)
    }
    r
  }

  /** The bought-after edge derivation over an arbitrary lineitem frame —
    * the base and delta order splits of the incremental maintenance.
    */
  private[graft] def edgesFrom(li: DataFrame): DataFrame = {
    val t = li.select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"))
    t.as("a")
      .join(
        t.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_linenumber") + 1 === col("b.l_linenumber"))
      .select(col("a.l_partkey").as("src"), col("b.l_partkey").as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
  }

  def pageRankParts(s: SparkSession, d: String): DataFrame =
    pageRankLoop(edgesWithDeg(s, d), nodeTable(s, d))
      .orderBy(col("r").desc, col("part"))
      .limit(20)
      .select(col("part"), col("r").as("rank_e12"))

  /** Convergence tolerance for the adaptive loop: total L1 rank
    * movement ≤ 1e6 units = 1e-6 of the total mass. Integer, so the
    * stopping rule is bit-deterministic in any engine.
    */
  private[graft] val AdaptiveThreshold = 1000000L

  /** ADAPTIVE PageRank (`graph_pagerank_adaptive`): the fixed-5 loop
    * above answers "a few refinement passes"; this one iterates TO
    * CONVERGENCE — while the global L1 delta `Σ|r_k − r_{k-1}|` (an
    * exact integer, like everything else in the loop) stays above
    * [[AdaptiveThreshold]], capped at `maxIter`. Scale discipline per
    * iteration: the new rank table is LAZY-pinned (Checkpoints.pin) and
    * the single delta aggregate both materializes it and decides
    * convergence — one job per iteration, lineage truncated at every
    * step so the plan stays constant-depth at ANY iteration count
    * (unbounded-lineage iteration is the classic driver-OOM at scale;
    * superseded checkpoint blocks are freed by the ContextCleaner a
    * round later, the same lifecycle as connected components). The
    * DuckDB oracle replays the identical adaptive rule with a recursive
    * CTE whose step is guarded by the previous iteration's delta, so
    * the iteration COUNT — not just the per-step arithmetic — is
    * replayed exactly (observed: 10 iterations, delta ÷≈4.3 per step on
    * this shallow co-purchase graph).
    */
  private[graft] def pageRankLoopAdaptive(
      eo: DataFrame, nodes: DataFrame,
      threshold: Long = AdaptiveThreshold,
      maxIter: Int = 100): (DataFrame, Int, Long) = {
    val nCnt = nodes.agg(count(lit(1)).as("n"))
    var r = Checkpoints.pin(
      nodes.crossJoin(broadcast(nCnt))
        .select(col("part"), expr(s"$Scale div n").as("r")),
      eager = false)
    var delta = Long.MaxValue
    var i = 0
    while (delta > threshold && i < maxIter) {
      val sums = eo
        .join(r.withColumnRenamed("part", "src"), "src")
        .select(col("dst").as("part"), expr("r div outd").as("c"))
        .groupBy("part").agg(sum("c").as("m"))
      // r14 (§2.4 remove joins outright): the old rank rides through the
      // update join as `rp` instead of a SEPARATE rNew ⋈ r delta join per
      // iteration — r carries exactly the node set every round (it is
      // built from `nodes` at init and keeps its key set thereafter), so
      // joining sums onto r ≡ joining onto nodes, and the delta aggregate
      // runs over the same pinned frame that seeds the next round. Values
      // and iteration count are bit-identical; one join per round, not
      // two. (The oracle replays the identical adaptive rule.)
      val stepped = Checkpoints.pin(
        r.select(col("part"), col("r").as("rp")).crossJoin(broadcast(nCnt))
          .join(sums, Seq("part"), "left")
          .select(
            col("part"),
            (expr(s"${15 * Scale} div (100 * n)") +
              expr("(85 * coalesce(m, 0)) div 100")).as("r"),
            col("rp")),
        eager = false)
      val row = stepped.agg(sum(abs(col("r") - col("rp"))).as("d")).head()
      delta = if (row.isNullAt(0)) 0L else row.getLong(0)
      r = stepped.select("part", "r")
      i += 1
    }
    (r, i, delta)
  }

  def pageRankAdaptive(s: SparkSession, d: String): DataFrame =
    pageRankLoopAdaptive(edgesWithDeg(s, d), nodeTable(s, d))._1
      .orderBy(col("r").desc, col("part"))
      .limit(20)
      .select(col("part"), col("r").as("rank_e12"))

  /** K-hop reachability from seed parts (`part % 200 = 0`) over the
    * UNDIRECTED co-purchase graph: distinct non-seed nodes within 1 and
    * within 2 hops. Frontier expansion is distinct equi-joins on the
    * node key — per-seed closure size bounds the intermediate, and the
    * distinct collapses multi-path fan-in at each hop (the same
    * large/small-star discipline as the connected-components op).
    */
  /** Undirected edge table `(u, v)` — materialized once per (session,
    * fixture); shared by reachability and any future undirected op.
    */
  private[graft] def undirectedEdges(s: SparkSession, d: String): DataFrame =
    // layout: repartitioned on the traversal key u, so frontier
    // expansions join co-located (the frontier side shuffles, the
    // corpus-sized edge table never does)
    Materialized.of(s, s"graph-und|$d", layout = true) {
      val e = edgesWithDeg(s, d)
      sized(e.select(col("src").as("u"), col("dst").as("v"))
        .union(e.select(col("dst").as("u"), col("src").as("v")))
        .distinct(), "u")
    }

  def khopReach(s: SparkSession, d: String): DataFrame = {
    val und = undirectedEdges(s, d)
    val seeds = und.select(col("u").as("seed")).distinct()
      .filter(pmod(col("seed"), lit(200L)) === 0)
    // lazy pin (not cache): the first action materializes hop1 once for
    // both consumers, and the ContextCleaner reclaims the blocks when
    // the frame is released — a cache() entry would sit in the
    // block-manager for session lifetime
    val hop1 = Checkpoints.pin(
      seeds.join(und, col("seed") === col("u"))
        .select(col("seed"), col("v")).distinct(), eager = false)
    val hop2 = hop1.join(und.select(col("u").as("v"), col("v").as("w")), "v")
      .select(col("seed"), col("w").as("v"))
      .union(hop1.select(col("seed"), col("v")))
      .distinct()
      .filter(col("v") =!= col("seed"))
    hop1.filter(col("v") =!= col("seed"))
      .groupBy("seed").agg(count(lit(1)).as("n_1hop"))
      .join(hop2.groupBy("seed").agg(count(lit(1)).as("n_2hop")), Seq("seed"), "left")
      .select(col("seed"), col("n_1hop"),
        coalesce(col("n_2hop"), lit(0L)).as("n_2hop"))
      .orderBy("seed")
  }

  /** Personalized PageRank from the `part % 200 = 0` seed set (the same
    * seeds as [[khopReach]]) — the crawl-prioritization form: teleport
    * mass returns ONLY to seeds, so rank measures proximity to the seed
    * set rather than global centrality. Identical fixed-point loop and
    * plan shape as [[pageRankParts]]; only the teleport vector differs
    * (seed-indicator instead of uniform). Nodes unreachable from the
    * seeds hold exactly 0 and are filtered before the top-20.
    */
  def pprCrawlSeeds(s: SparkSession, d: String): DataFrame = {
    val eo = edgesWithDeg(s, d)
    val nodes = nodeTable(s, d)
      .withColumn("is_seed", pmod(col("part"), lit(200L)) === 0)
    val sCnt = nodes.agg(sum(when(col("is_seed"), 1L).otherwise(0L)).as("ns"))

    // ns = 0 guard: an empty seed set means no teleport mass anywhere —
    // every rank is 0 and the r > 0 filter yields the empty result,
    // instead of an ANSI division-by-zero (same CASE in the oracle)
    // per-round lazy pin: same lineage discipline as the adaptive loop
    var r = Checkpoints.pin(
      nodes.crossJoin(broadcast(sCnt))
        .select(col("part"),
          when(col("is_seed") && col("ns") > 0, expr(s"$Scale div ns"))
            .otherwise(0L).as("r")),
      eager = false)
    for (_ <- 1 to 5) {
      val sums = eo
        .join(r.withColumnRenamed("part", "src"), "src")
        .select(col("dst").as("part"), expr("r div outd").as("c"))
        .groupBy("part").agg(sum("c").as("m"))
      r = Checkpoints.pin(
        nodes.crossJoin(broadcast(sCnt)).join(sums, Seq("part"), "left")
          .select(
            col("part"),
            (when(col("is_seed") && col("ns") > 0,
              expr(s"${15 * Scale} div (100 * ns)")).otherwise(0L) +
              expr("(85 * coalesce(m, 0)) div 100")).as("r")),
        eager = false)
    }
    r.filter(col("r") > 0)
      .orderBy(col("r").desc, col("part"))
      .limit(20)
      .select(col("part"), col("r").as("rank_e12"))
  }

  /** Edge-weighted PageRank (`graph_pagerank_weighted`): edges carry
    * their co-occurrence MULTIPLICITY (how many order chains produced
    * the pair — kept by aggregating instead of `distinct`), and each
    * node divides rank over outgoing WEIGHT: contribution =
    * `(r · w_e) div Σw_out`. Still pure integer arithmetic — the
    * weighted generalization costs nothing in determinism, and strong
    * repeat-co-purchase links now attract proportionally more rank
    * than one-off pairings. Same join-aggregate iteration shape.
    */
  /** Weighted edge table `(src, dst, w, wout)` — co-occurrence
    * multiplicity plus the source's outgoing weight total; materialized
    * once per (session, fixture).
    */
  private[graft] def weightedEdges(s: SparkSession, d: String): DataFrame =
    // layout: pinned hash-partitioned on src (same rationale as
    // edgesWithDeg — the weighted loop joins it every iteration)
    Materialized.of(s, s"graph-wedges|$d", layout = true) {
      val li = Sources.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"))
      // lazy pin: same 3x-lineage argument as the graph-edges build
      val pairs = Checkpoints.pin(li.as("a")
        .join(
          li.as("b"),
          col("a.l_orderkey") === col("b.l_orderkey") &&
            col("a.l_linenumber") + 1 === col("b.l_linenumber"))
        .select(col("a.l_partkey").as("src"), col("b.l_partkey").as("dst"))
        .filter(col("src") =!= col("dst"))
        .groupBy("src", "dst").agg(count(lit(1)).as("w")),
        eager = false)
      sized(pairs.join(
        pairs.groupBy("src").agg(sum("w").as("wout")), "src"), "src",
        countOf = pairs)
    }

  def pageRankWeighted(s: SparkSession, d: String): DataFrame = {
    val ew = weightedEdges(s, d)
    val nodes = ew.select(col("src").as("part"))
      .union(ew.select(col("dst").as("part"))).distinct()
    val nCnt = nodes.agg(count(lit(1)).as("n"))
    // per-round lazy pin: same lineage discipline as the adaptive loop
    var r = Checkpoints.pin(
      nodes.crossJoin(broadcast(nCnt))
        .select(col("part"), expr(s"$Scale div n").as("r")),
      eager = false)
    for (_ <- 1 to 5) {
      val sums = ew
        .join(r.withColumnRenamed("part", "src"), "src")
        .select(col("dst").as("part"), expr("(r * w) div wout").as("c"))
        .groupBy("part").agg(sum("c").as("m"))
      r = Checkpoints.pin(
        nodes.crossJoin(broadcast(nCnt)).join(sums, Seq("part"), "left")
          .select(
            col("part"),
            (expr(s"${15 * Scale} div (100 * n)") +
              expr("(85 * coalesce(m, 0)) div 100")).as("r")),
        eager = false)
    }
    r.orderBy(col("r").desc, col("part"))
      .limit(20)
      .select(col("part"), col("r").as("rank_e12"))
  }

  /** Connected components over the STRONG co-purchase graph
    * (`graph_components`): only edges seen in ≥2 distinct order chains
    * qualify — repeat co-purchase is signal, one-off adjacency is noise
    * — and the resulting sparse graph's components are the product
    * communities. Reuses the dedup pipeline's alternating large-/
    * small-star contraction ([[Dedup.connectedGroups]] — O(log²)
    * rounds, every round a keyed shuffle), proving the CC operator is
    * generic over any edge relation, not a dedup special case. Output
    * is the full membership table (part → min-id component).
    */
  /** Strong (multiplicity ≥ 2) edge table — materialized once per
    * (session, fixture); feeds components and the SSSP closure bound.
    */
  private[graft] def strongEdges(s: SparkSession, d: String): DataFrame =
    Materialized.of(s, s"graph-strong|$d") {
      // r14 (§2.4): the pre-filter aggregate here was ROW-IDENTICAL to
      // the graph-wedges pair table (same self-join, same src≠dst
      // filter, same (src, dst) count) — so filter the materialized
      // wedges instead of paying the corpus self-join a third time in
      // the warm phase.
      weightedEdges(s, d).select("src", "dst", "w").filter(col("w") >= 2)
    }

  def components(s: SparkSession, d: String): DataFrame = {
    val strong = strongEdges(s, d)
    val nodes = strong.select(col("src").as("part"))
      .union(strong.select(col("dst").as("part"))).distinct()
    Dedup.connectedGroups(
      strong.select(col("src").as("id_a"), col("dst").as("id_b")),
      nodes, "part")
      .select(col("id").as("part"), col("group_id").as("component_id"))
      .orderBy("part")
  }

  /** Synchronous label propagation, 3 published rounds
    * (`graph_lpa_rounds`, r13): the community detector that needs no
    * modularity objective — every node adopts the most frequent label
    * among its neighbors (ties → smallest label), all nodes update
    * simultaneously, labels start as node ids. The round count is
    * FROZEN at 3 (the frozen-twin discipline: synchronous LPA has no
    * order-dependence, so a fixed round count makes the whole
    * trajectory — not just a fixpoint — replayable by the unrolled
    * oracle CTEs; asynchronous LPA's update order is engine-dependent
    * and can never sit under a hash gate). Runs on the strong
    * (weight ≥ 2) co-purchase graph, symmetrized, so every node has a
    * neighbor and the argmax is total. Per round: one edge-sized
    * shuffle (neighbor-label count) + a per-node WindowGroupLimit
    * argmax — label tables are lazily PINNED each round so the plan
    * stays constant-depth (the adaptive-PageRank lineage rule); at a
    * 10¹² -edge corpus each round is exactly one keyed agg over edges,
    * the canonical distributed-LPA cost.
    */
  def lpaRounds(s: SparkSession, d: String): DataFrame = {
    val strong = strongEdges(s, d)
    val e = strong.select(col("src"), col("dst"))
      .union(strong.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
    lpaLoop(e).select(col("part"), col("lbl").as("label3")).orderBy("part")
  }

  /** The 3-round synchronous core over any symmetrized edge table; its
    * scaling is in PLANS.md "Round-13: bounded-round iterative-ops probe".
    */
  private[graft] def lpaLoop(e: DataFrame): DataFrame = {
    val nodes = e.select(col("src").as("part")).distinct()
    var lab = nodes.select(col("part"), col("part").as("lbl"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("part").orderBy(col("c").desc, col("lbl").asc)
    for (_ <- 1 to 3) {
      val cnt = e.join(lab.withColumnRenamed("part", "src"), "src")
        .groupBy(col("dst").as("part"), col("lbl"))
        .agg(count(lit(1)).as("c"))
      lab = Checkpoints.pin(
        cnt.withColumn("rk", row_number().over(w))
          .filter(col("rk") === 1)
          .select(col("part"), col("lbl")),
        eager = false)
    }
    lab
  }

  /** Frozen pseudo-random walks (`graph_frozen_walks`, r13): one
    * 4-step walk from EVERY node of the strong co-purchase graph, with
    * the "random" neighbor choice replaced by a published hash argmin —
    * next(u) = argmin over neighbors v of ((start·31 + v·17 + step·7)
    * mod 1009, v) — the derandomized sampling infrastructure under
    * node2vec/DeepWalk-style pipelines: walk UNION shapes, per-step
    * cost and state size are identical to true uniform sampling, but
    * the full trajectory sits under the hash gate (the frozen-twin
    * discipline; a PRNG walk could only ever be rows-only). The
    * step-dependent hash makes walks non-repeating in expectation;
    * ties break on the smaller neighbor, a total order. Per step: one
    * edge-sized equi-join + a per-walker WindowGroupLimit argmin,
    * position tables lazily pinned ([[pageRankLoopAdaptive]]'s
    * constant-depth lineage rule) — at 10¹² edges each step is one
    * shuffle, the canonical distributed-walk cost. Output: the visit
    * census of walk endpoints (the stationary-ish sample a downstream
    * embedding trainer consumes).
    */
  def frozenWalks(s: SparkSession, d: String): DataFrame = {
    val strong = strongEdges(s, d)
    val e = strong.select(col("src"), col("dst"))
      .union(strong.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
    walkLoop(e).groupBy(col("pos").as("part"))
      .agg(count(lit(1)).as("n_ends"))
      .orderBy("part")
  }

  /** The 4-step hash-argmin walk core over any symmetrized edge table;
    * its scaling is in PLANS.md "Round-13: bounded-round iterative-ops
    * probe".
    */
  private[graft] def walkLoop(e: DataFrame): DataFrame = {
    val nodes = e.select(col("src").as("part")).distinct()
    var pos = nodes.select(col("part").as("start"), col("part").as("pos"))
    for (k <- 1 to 4) {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("start").orderBy(col("h").asc, col("dst").asc)
      pos = Checkpoints.pin(
        pos.join(e.withColumnRenamed("src", "pos"), "pos")
          .withColumn("h",
            (col("start") * 31L + col("dst") * 17L + lit(k * 7L)) % 1009L)
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") === 1)
          .select(col("start"), col("dst").as("pos")),
        eager = false)
    }
    pos
  }

  /** Partition modularity (`graph_modularity`) — Newman's Q for the
    * strong-component partition evaluated over the FULL undirected
    * co-purchase graph (nodes outside any strong component count as
    * singletons, the standard completion). Ships PER-COMMUNITY cells:
    * internal edges `e_c`, degree mass `d_c`, and the integer numerator
    * `4·m·e_c − d_c²` of the Q-term `e_c/m − (d_c/2m)²` over the common
    * denominator 4m² — the consumer sums `q_num/(4m²)`; Q itself is also
    * shipped per cell as a double derived from exact integers (both
    * engines cast the same Longs, so the bits agree). All BIGINT: exact
    * while `4·m·e_c < 2^63`, i.e. to ~10⁹ edges — past that the cell
    * numerator needs decimal(38,0) (same documented bound discipline as
    * the PSI counts). Three keyed joins against the label table + two
    * aggregates; labels pin once (lazy) because three consumers read
    * them — nothing quadratic, nothing driver-side.
    */
  def modularity(s: SparkSession, d: String): DataFrame = {
    val und = undirectedEdges(s, d)
    val canon = und.filter(col("u") < col("v"))
    val mRow = canon.agg(count(lit(1)).as("m"))
    val deg = und.groupBy("u").agg(count(lit(1)).as("k"))
    val comp = components(s, d).select("part", "component_id")
    val lab = Checkpoints.pin(
      und.select(col("u").as("part")).distinct()
        .join(comp, Seq("part"), "left")
        .select(col("part"),
          coalesce(col("component_id"), col("part")).as("community_id")),
      eager = false)
    val ec = canon
      .join(lab.select(col("part").as("u"), col("community_id").as("ca")), "u")
      .join(lab.select(col("part").as("v"), col("community_id").as("cb")), "v")
      .filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("community_id")).agg(count(lit(1)).as("e_in"))
    val dc = deg.join(lab, col("u") === col("part"))
      .groupBy("community_id")
      .agg(sum("k").as("d_c"), count(lit(1)).as("n_nodes"))
    dc.join(ec, Seq("community_id"), "left").crossJoin(broadcast(mRow))
      .select(col("community_id"), col("n_nodes"), col("d_c"),
        coalesce(col("e_in"), lit(0L)).as("e_in"), col("m"))
      .withColumn("q_num", lit(4L) * col("m") * col("e_in") - col("d_c") * col("d_c"))
      .withColumn("q_cell", graft.functions.Num.roundNorm(
        expr("cast(q_num as double) / (4.0 * m * m)"), 8))
      .orderBy("community_id")
  }

  /** Single-source shortest paths (`graph_sssp`) over the UNDIRECTED
    * weighted co-purchase graph: edge cost = `1000000 div w` (integer —
    * heavier repeat-co-purchase links are cheaper to traverse; both
    * directions of a mutual pair collapse to `max(w)` first so the cost
    * is direction-free), source = the highest-degree hub (ties to the
    * smallest part key — the min-key source landed in a 2-node
    * component on the sparse fixtures; the hub reaches the giant
    * component), distances by level-synchronous Bellman-Ford relaxation —
    * `dist_{k+1}(v) = min(dist_k(v), min_{u→v}(dist_k(u) + cost))` over
    * the REACHED set only (the frontier representation: one equi-join +
    * keyed min per round, the same shape as a PageRank iteration, never
    * a |V|-sized table before reachability warrants it). Integer costs
    * make the fixed point EXACT, so the stopping rule is "nothing
    * changed" — checked like connected components with a (count, sum)
    * stats action that doubles as the round's materialization job; each
    * round is lazy-pinned so lineage stays constant-depth. The oracle
    * replays the identical relaxation in a recursive CTE; it runs a
    * fixed 60 rounds — past the exact fixed point extra rounds are
    * no-ops (min is idempotent), so Spark's early-stop and the oracle's
    * over-iteration provably agree, the same over-iteration trick as
    * the components closure. 60 bounds the hub's eccentricity in HOPS
    * — measured 5 on these small-world fixtures, 12× margin; a cluster
    * deployment sizes it to the known diameter or adds the change-guard
    * the Spark side uses.
    */
  private[graft] def ssspLoop(
      ce: DataFrame, source: Long, maxIter: Int = 150): (DataFrame, Int) = {
    val s = ce.sparkSession
    import s.implicits._
    var dist = Checkpoints.pin(
      Seq((source, 0L)).toDF("part", "dist"), eager = false)
    var (prevN, prevSum) = (1L, 0L)
    var stable = false
    var i = 0
    while (!stable && i < maxIter) {
      val relax = dist.join(ce, dist("part") === ce("src"))
        .select(col("dst").as("part"), (col("dist") + col("cost")).as("dist"))
      val nxt = Checkpoints.pin(
        dist.union(relax).groupBy("part").agg(min("dist").as("dist")),
        eager = false)
      val row = nxt.agg(count(lit(1)).as("n"), sum("dist").as("s")).head()
      val (n, sm) = (row.getLong(0), if (row.isNullAt(1)) 0L else row.getLong(1))
      // distances only decrease and the reached set only grows, so
      // (count, sum) stable ⟺ exact fixed point
      stable = n == prevN && sm == prevSum
      prevN = n; prevSum = sm
      dist = nxt
      i += 1
    }
    (dist, i)
  }

  def sssp(s: SparkSession, d: String): DataFrame = {
    val es = weightedEdges(s, d).select(col("src"), col("dst"), col("w"))
    // The symmetrized cost table is PINNED with its src layout: every
    // relaxation round is a separate action, so without the pin the
    // union+groupBy derivation re-executed on EVERY round (~15 rounds
    // of a corpus-sized shuffle measured as 2x the query's CPU), and
    // without the LAYOUT the per-round join would re-exchange it.
    // Partition sizing via the already-materialized directed table —
    // a <=2x underestimate of the symmetrized count, fine for sizing.
    val ce = Checkpoints.pinLayout(sized(
      es.union(es.select(col("dst").as("src"), col("src").as("dst"), col("w")))
        .groupBy("src", "dst").agg(max("w").as("w"))
        .select(col("src"), col("dst"), expr("1000000 div w").as("cost")),
      "src", countOf = es))
    // hub source: 1-row bounded collect (argmax degree, min-key ties)
    val srcRows = ce.groupBy("src").agg(count(lit(1)).as("dg"))
      .orderBy(col("dg").desc, col("src")).limit(1).collect()
    if (srcRows.isEmpty) {
      // empty graph (degenerate fixture): empty result, same as oracle
      import s.implicits._
      Seq.empty[(Long, Long)].toDF("part", "dist")
    } else {
      ssspLoop(ce, srcRows(0).getLong(0))._1
        .orderBy("dist", "part").limit(100)
    }
  }

  /** Local clustering coefficient (`graph_clustering_coeff`) over the
    * UNDIRECTED strong co-purchase graph: per node, the fraction of
    * neighbor pairs that are themselves connected —
    * `2·t(v) / (deg(v)·(deg(v)−1))`, the standard transitivity measure
    * separating hub-and-spoke parts from clique-y product families.
    * Triangle counting is the wedge equi-join: neighbor pairs `(a, b),
    * a < b` from a per-node self-join (fan-out bounded by deg², and the
    * strong filter bounds deg), closed against the edge set by one more
    * equi-join — never an all-pairs stage. Nodes with deg < 2 report 0
    * by convention (mirrored CASE in the oracle).
    */
  def clusteringCoeff(s: SparkSession, d: String): DataFrame = {
    val es = strongEdges(s, d)
    val und = es.select(col("src").as("u"), col("dst").as("v"))
      .union(es.select(col("dst").as("u"), col("src").as("v")))
      .distinct()
    val deg = und.groupBy("u").agg(count(lit(1)).as("deg"))
    val wedges = und.select(col("u"), col("v").as("a"))
      .join(und.select(col("u"), col("v").as("b")), Seq("u"))
      .filter(col("a") < col("b"))
    val tri = wedges
      .join(und.select(col("u").as("a"), col("v").as("b")), Seq("a", "b"))
      .groupBy("u").agg(count(lit(1)).as("n_tri"))
    deg.join(tri, Seq("u"), "left")
      .select(col("u").as("part"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        graft.functions.Num.roundNorm(expr(
          "CASE WHEN deg < 2 THEN 0.0 ELSE " +
            "2.0 * coalesce(n_tri, 0) / (deg * (deg - 1)) END"), 6).as("coeff"))
      .orderBy("part")
  }

  /** Degree assortativity (`graph_assortativity`) of the strong
    * co-purchase graph: Pearson correlation of (deg_u, deg_v) over all
    * directed orientations of the undirected strong edges — positive
    * means hub parts co-purchase with other hubs, negative means
    * hub-to-leaf (the mixing pattern that decides whether hub removal
    * fragments the catalog graph). Built as two keyed aggregates (degree
    * table, then the six power sums) and two equi-joins of the edge list
    * against the degree table — never an adjacency matrix. Degrees are
    * exact Longs and the correlation is assembled from the integer power
    * sums with one closed-form float finish, identical in both engines
    * (Long is exact in double to 2^53; deg ≤ 1e6 at n·sxx ≈ 1e18 still
    * holds — beyond that, DECIMAL).
    */
  def assortativity(s: SparkSession, d: String): DataFrame = {
    val es = strongEdges(s, d)
    val und = es.select(col("src").as("u"), col("dst").as("v"))
      .union(es.select(col("dst").as("u"), col("src").as("v")))
      .distinct()
    val deg = und.groupBy("u").agg(count(lit(1)).as("deg"))
    val j = und
      .join(deg, "u")
      .join(deg.select(col("u").as("v"), col("deg").as("degv")), "v")
    j.agg(
        count(lit(1)).as("n_dir_edges"),
        sum("deg").as("sx"), sum("degv").as("sy"),
        sum(col("deg") * col("deg")).as("sxx"),
        sum(col("degv") * col("degv")).as("syy"),
        sum(col("deg") * col("degv")).as("sxy"))
      .select(col("n_dir_edges"),
        graft.functions.Num.roundNorm(
          (col("n_dir_edges") * col("sxy") - col("sx") * col("sy")) /
            (sqrt((col("n_dir_edges") * col("sxx") - col("sx") * col("sx")).cast("double")) *
              sqrt((col("n_dir_edges") * col("syy") - col("sy") * col("sy")).cast("double"))), 6)
          .as("assortativity"))
  }

  /** HITS hubs/authorities (`graph_hits`) over the directed bought-after
    * graph, 3 fixed iterations: authority a_k(v) = Σ h_{k-1}(u) over
    * in-edges, hub h_k(u) = Σ a_k(v) over out-edges, h_0 ≡ 1 — the
    * UN-normalized integer recurrence. Normalization in HITS is a
    * positive per-iteration scalar, so it changes no ordering; dropping
    * it keeps every value an exact Long both engines replay bit-for-bit
    * (same trick as the fixed-point PageRank). Magnitudes grow as
    * deg_max^(2·iters): safe in Long to deg_max ≈ 1300 at 3 iterations;
    * a deeper or denser deployment switches to the scaled-integer
    * normalization used by the PageRank family. Per iteration: two
    * equi-join + keyed-aggregate shuffles against the once-materialized
    * edge table — no per-iteration scan, no concentrating stage; the
    * top-20 finish is TakeOrderedAndProject. Each iterate is PINNED
    * ([[Checkpoints]], the PageRank-loop discipline): the final a⋈h
    * references every iterate twice, and without the pin the dedup of
    * the re-expanded subplans rides on AQE exchange reuse — which is
    * timing-sensitive, so the same query measured 11 vs 46 cpu-sec on
    * identical code and data (r11 bench). Pinning makes the cost
    * deterministic: node-sized materializations, constant-depth plan.
    */
  def hits(s: SparkSession, d: String): DataFrame = {
    val e = edgesWithDeg(s, d).select("src", "dst")
    val nodes = nodeTable(s, d)
    var h = nodes.select(col("part"), lit(1L).as("h"))
    var a = nodes.select(col("part"), lit(0L).as("a"))
    for (_ <- 1 to 3) {
      val aNew = e.join(h.withColumnRenamed("part", "src"), "src")
        .groupBy(col("dst").as("part")).agg(sum("h").as("a"))
      a = Checkpoints.pin(
        nodes.join(aNew, Seq("part"), "left").na.fill(0L, Seq("a")),
        eager = false)
      val hNew = e.join(a.withColumnRenamed("part", "dst"), "dst")
        .groupBy(col("src").as("part")).agg(sum("a").as("h"))
      h = Checkpoints.pin(
        nodes.join(hNew, Seq("part"), "left").na.fill(0L, Seq("h")),
        eager = false)
    }
    a.join(h, "part")
      .orderBy(col("a").desc, col("part"))
      .limit(20)
      .select(col("part"), col("a").as("authority"), col("h").as("hub"))
  }

  /** Common-neighbor link prediction (`graph_link_prediction`) over the
    * UNDIRECTED strong co-purchase graph: every non-adjacent part pair
    * sharing ≥1 neighbor, scored by common-neighbor count and the
    * preferential-attachment product deg(a)·deg(b) — the two classic
    * exact link-prediction scores, i.e. the candidate edges a
    * recommender would re-rank. Same wedge equi-join as
    * [[clusteringCoeff]] (per-node fan-out deg², bounded by the strong
    * filter; a degree cap is the standard mitigation if a deployment's
    * strong graph grows hubs), closed with a left-ANTI join against the
    * edge set — candidates are exactly the wedges that are not
    * triangles. All scores exact Longs; the top-20 by (count, pair) is
    * a TakeOrderedAndProject over a total order, so the cut is
    * deterministic.
    */
  def linkPrediction(s: SparkSession, d: String): DataFrame = {
    val es = strongEdges(s, d)
    val und = es.select(col("src").as("u"), col("dst").as("v"))
      .union(es.select(col("dst").as("u"), col("src").as("v")))
      .distinct()
    val deg = und.groupBy("u").agg(count(lit(1)).as("deg"))
    val cand = und.select(col("u"), col("v").as("a"))
      .join(und.select(col("u"), col("v").as("b")), Seq("u"))
      .filter(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n_common"))
      .join(und.select(col("u").as("a"), col("v").as("b")), Seq("a", "b"), "left_anti")
    cand
      .join(deg.select(col("u").as("a"), col("deg").as("dega")), "a")
      .join(deg.select(col("u").as("b"), col("deg").as("degb")), "b")
      .select(col("a"), col("b"), col("n_common"),
        (col("dega") * col("degb")).as("pref_attach"))
      .orderBy(col("n_common").desc, col("a"), col("b"))
      .limit(20)
  }

  /** Adamic-Adar link prediction (`graph_adamic_adar`, r13): the
    * degree-discounted common-neighbor score AA(a,b) = Σ_{z∈Γa∩Γb}
    * 1/ln(deg z) — rare shared neighbors say more than hubs, the
    * refinement [[linkPrediction]]'s raw count misses. Lattice
    * discipline: each wedge center contributes a PER-NEIGHBOR term
    * round(10⁶/ln deg) — rounded BEFORE the cross-pair sum, so the only
    * float sums are over pre-rounded integers (the theil/ANOVA rule;
    * deg = 1 centers are excluded — ln 1 = 0 — matching the standard
    * definition where leaves predict nothing... they have no wedge
    * anyway). Plan: degree join onto the wedge self-join (the
    * [[linkPrediction]] shape), existing-edge anti-join, integer-keyed
    * top-20 via TakeOrderedAndProject.
    */
  def adamicAdar(s: SparkSession, d: String): DataFrame = {
    val es = strongEdges(s, d)
    val und = es.select(col("src").as("u"), col("dst").as("v"))
      .union(es.select(col("dst").as("u"), col("src").as("v")))
      .distinct()
    val deg = und.groupBy("u").agg(count(lit(1)).as("deg"))
    val wgt = deg.filter(col("deg") >= 2)
      .select(col("u"),
        round(lit(1000000.0) / log(col("deg").cast("double")), 0)
          .cast("long").as("aa_w"))
    val wedges = und.select(col("u"), col("v").as("a"))
      .join(und.select(col("u"), col("v").as("b")), Seq("u"))
      .filter(col("a") < col("b"))
      .join(wgt, Seq("u"))
    wedges
      .groupBy("a", "b")
      .agg(count(lit(1)).as("n_common"), sum("aa_w").as("aa_e6"))
      .join(und.select(col("u").as("a"), col("v").as("b")), Seq("a", "b"),
        "left_anti")
      .orderBy(col("aa_e6").desc, col("a"), col("b"))
      .limit(20)
  }

  /** 2-core peeling trajectory (`graph_kcore2`) of the UNDIRECTED
    * strong co-purchase graph: repeatedly drop every node of degree < 2
    * (and its edges) — the surviving subgraph after each round
    * converges to the 2-core, the cycle-bearing backbone separating
    * catalog "chains" from genuinely clustered product families (and
    * the standard pruning pass before expensive community detection).
    * The query reports the per-round census (nodes, undirected edges
    * remaining) over eight fixed rounds — the collapse speed and the
    * size of the surviving core are the diagnostic (the sf0.001 strong
    * graph keeps a 12-node 2-core). Peeling is monotone and idempotent
    * at the fixed point, so the same-unroll-count oracle provably
    * matches whether or not the fixture converges earlier — the
    * [[sssp]] over-iteration trick. Each round is one degree aggregate
    * + two semi joins on the node key; the per-round [[Checkpoints]]
    * pin keeps lineage constant-depth at any round count, and each
    * pinned round feeds both its census row and the next round without
    * recomputation.
    */
  def kcore2(s: SparkSession, d: String): DataFrame = {
    val es = strongEdges(s, d)
    var und = es.select(col("src").as("u"), col("dst").as("v"))
      .union(es.select(col("dst").as("u"), col("src").as("v")))
      .distinct()
    val rounds = scala.collection.mutable.ArrayBuffer[DataFrame]()
    for (t <- 1 to 8) {
      val keep = und.groupBy("u").agg(count(lit(1)).as("dg"))
        .filter(col("dg") >= 2).select("u")
      und = Checkpoints.pin(
        und.join(keep, Seq("u"), "left_semi")
          .join(keep.withColumnRenamed("u", "v"), Seq("v"), "left_semi")
          .select("u", "v"),
        eager = false)
      rounds += und.agg(
        countDistinct(col("u")).as("n_nodes"),
        (count(lit(1)) / 2).cast("long").as("n_edges"))
        .select(lit(t.toLong).as("round"), col("n_nodes"), col("n_edges"))
    }
    rounds.reduce(_ unionAll _).orderBy("round")
  }

  /** Bipartite co-purchase projection (`graph_copurchase_customers`):
    * project the customer×part purchase graph onto customers — pairs of
    * customers sharing the most distinct parts, the collaborative-
    * filtering neighbor list. One distinct aggregate builds the
    * (part, customer) incidence; a df-cap drops parts bought by > 64
    * customers BEFORE the self-join (the PPJoin discipline: hub
    * products pair half the customer base and say nothing — at the
    * fixture scales no part exceeds the cap, at 100 TB it bounds the
    * per-part fan-out at cap² hard); then one equi-join on the part key
    * and a pair-keyed count. Top-20 by (shared, pair) is a total order
    * — deterministic cut. The oracle applies the identical cap.
    *
    * Worst-case arithmetic for the cap: a part with degree ≤ 64 emits
    * ≤ 64·63/2 = 2 016 ordered pairs, so the self-join's output is
    * ≤ 2 016 · |parts| rows — LINEAR in the part count no matter how
    * the per-part degree distribution shifts, where the uncapped join
    * is Σ deg²/2 and one 10⁶-degree hub alone would emit 5·10¹¹ pairs.
    * PLANS.md "Round-11: bipartite-projection probe" measures exactly
    * this (replicas grow parts ~k× at constant per-part degree: pairs
    * and seconds must track k, never k²).
    */
  def copurchaseCustomers(s: SparkSession, d: String): DataFrame = {
    val cp = Sources.lineitem(s, d).select("l_orderkey", "l_partkey")
      .join(Sources.orders(s, d)
        .select(col("o_orderkey").as("l_orderkey"), col("o_custkey")), "l_orderkey")
      .select(col("l_partkey").as("part"), col("o_custkey").as("cust"))
      .distinct()
    val keep = cp.groupBy("part").agg(count(lit(1)).as("pdeg"))
      .filter(col("pdeg") <= 64).select("part")
    val capped = cp.join(keep, "part")
    capped.select(col("part"), col("cust").as("cust_a"))
      .join(capped.select(col("part"), col("cust").as("cust_b")), Seq("part"))
      .filter(col("cust_a") < col("cust_b"))
      .groupBy("cust_a", "cust_b").agg(count(lit(1)).as("n_shared"))
      .orderBy(col("n_shared").desc, col("cust_a"), col("cust_b"))
      .limit(20)
  }

  /** Edge reciprocity (`graph_reciprocity`) of the directed bought-after
    * graph: the share of edges whose reverse edge also exists, in
    * integer basis points — high reciprocity means co-purchase order is
    * arbitrary (bundle-like), low means a genuine "A then B" direction
    * (accessory-like). One self-semi-join of the distinct edge list on
    * the swapped key pair plus two counts — two shuffles, exact Longs.
    */
  def reciprocity(s: SparkSession, d: String): DataFrame = {
    val e = edgesWithDeg(s, d).select("src", "dst")
    val recip = e.join(
      e.select(col("dst").as("src"), col("src").as("dst")), Seq("src", "dst"), "left_semi")
    e.agg(count(lit(1)).as("n_edges"))
      .crossJoin(broadcast(recip.agg(count(lit(1)).as("n_reciprocal"))))
      .select(col("n_edges"), col("n_reciprocal"),
        expr("(10000 * n_reciprocal) div n_edges").as("reciprocity_bp"))
  }

  /** Log₂-bucketed degree histogram (`graph_degree_hist`) of the
    * undirected co-purchase graph — the first plot of any graph audit
    * (a heavy power-law tail here predicts hub-skew in every downstream
    * per-node join). The bucket is the INTEGER log₂ via the binary
    * string length (`length(bin(deg)) − 1`) — exact in both engines,
    * avoiding float `log2` whose value at exact powers of two is
    * implementation-dependent (Math.log(x)/Math.log(2) lands below the
    * integer and floors wrong). Two keyed aggregates; output
    * bucket-count sized.
    */
  def degreeHist(s: SparkSession, d: String): DataFrame = {
    val e = edgesWithDeg(s, d).select("src", "dst")
    val und = e.select(col("src").as("u"), col("dst").as("v"))
      .union(e.select(col("dst").as("u"), col("src").as("v"))).distinct()
    und.groupBy("u").agg(count(lit(1)).as("deg"))
      .withColumn("bucket", (length(bin(col("deg"))) - 1).cast("long"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_nodes"),
        min("deg").as("min_deg"), max("deg").as("max_deg"))
      .orderBy("bucket")
  }

  /** BFS layer census (`graph_bfs_layers`): from the highest-degree hub
    * of the undirected co-purchase graph (the [[sssp]] source rule —
    * argmax degree, min-key ties), the count of nodes first reached at
    * each hop 0..6 — the unweighted ball-growth profile that tells a
    * crawler or recommender how fast the catalog neighborhood
    * saturates. Frontier-style loop: each round is one equi-join +
    * distinct + anti-join against the visited set, with per-round
    * [[Checkpoints]] pins keeping lineage constant-depth. A node's
    * layer is its true hop distance when ≤ 6, and nodes farther than 6
    * never appear — exactly what the depth-6 iteration-indexed
    * recursive oracle computes, so the census matches by construction.
    */
  def bfsLayers(s: SparkSession, d: String): DataFrame = {
    val und = undirectedEdges(s, d)
    val srcRows = und.groupBy("u").agg(count(lit(1)).as("dg"))
      .orderBy(col("dg").desc, col("u")).limit(1).collect()
    import s.implicits._
    if (srcRows.isEmpty) return Seq.empty[(Long, Long)].toDF("hop", "n_nodes")
    // r13: the top-degree hub is seed #1 of the shared fixpoint BFS
    // table (identical (deg desc, id) seed order), and the 6-round loop
    // equals the fixpoint visited filtered to hop <= 6 row-for-row (BFS
    // round h visits exactly the distance-h nodes — see
    // [[bfsSeedsVisited]]) — so read the shared traversal instead of
    // re-running it per query.
    bfsSeedsVisited(s, d)
      .filter(col("seed") === srcRows(0).getLong(0) && col("hop") <= 6)
      .groupBy("hop").agg(count(lit(1)).as("n_nodes")).orderBy("hop")
  }

  /** Sampled closeness centrality (`graph_closeness_seeds`, r13): the
    * classic closeness statistic from the FOUR highest-degree hubs
    * (ties to the smaller id — a deterministic seed set; exact all-
    * sources closeness is O(V·E) and the sampled form is what any
    * production graph stack computes), via ONE multi-source BFS — the
    * frontier carries (seed, node) pairs, so the 4 traversals share
    * every edge-join instead of running serially. Six rounds like
    * [[bfsLayers]] (the fixture graph's diameter bound, asserted by
    * the oracle replaying the same horizon); per-seed output: reached
    * count, exact hop sum, and closeness = (reached−1)/hop_sum rounded
    * (0 by convention for isolated seeds). Per-round state is pinned
    * (constant-depth lineage); the corpus-sized edge table never
    * re-shuffles — frontiers join into its pinned layout.
    */
  /** Multi-source fixpoint BFS visited table `(seed, node, hop, pc)`
    * from the 4 top-degree hubs of the undirected graph — materialized
    * once per (session, fixture). r13 optimization: eccentricity,
    * harmonic centrality, and closeness (its published 6-hop horizon is
    * exactly the fixpoint table filtered to `hop <= 6` — round h of BFS
    * visits precisely the nodes at distance h, so a 6-round loop and a
    * fixpoint-then-filter produce the SAME rows) each re-ran this
    * identical traversal per query; a production graph stack
    * materializes the reach table once and every centrality reads it.
    * Loop semantics unchanged from the per-query form: one edge-keyed
    * equi-join + anti-join per round, frontier/visited lazily pinned,
    * frontier-empty convergence, hop cap 20 (asserted unreached).
    *
    * r14: the traversal additionally carries `pc` = σ_s(v), the
    * shortest-path count [[pathCounts]] re-derived with its own
    * identical 4-round loop (same seeds, same joins — 1.3 s per bench
    * iteration). The per-round `distinct()` becomes the SUM aggregate
    * σ(v) = Σ σ(u) over frontier predecessors — same shuffle key, same
    * key set, so every (seed, node, hop) row is unchanged and the
    * census queries that ignore `pc` are row-identical. Beyond
    * pathCounts' frozen 4-hop horizon the carried value is ZEROED
    * (pathCounts never reads it there): σ grows like deg^h and a
    * fixpoint-depth product could overflow the Long lattice the 4-hop
    * trajectory is proven to fit (σ≤~1e5 at hop 4; the one summed-then-
    * zeroed round at hop 5 is ≤ |frontier|·1e5 ≪ 2⁶³).
    */
  private[graft] def bfsSeedsVisited(s: SparkSession, d: String): DataFrame =
    Materialized.of(s, s"graph-bfs-seeds|$d") {
      val und = undirectedEdges(s, d)
      val seeds = und.groupBy("u").agg(count(lit(1)).as("dg"))
        .orderBy(col("dg").desc, col("u")).limit(4)
        .select(col("u").as("seed"))
      var visited = Checkpoints.pin(
        seeds.select(col("seed"), col("seed").as("node"), lit(0L).as("hop"),
          lit(1L).as("pc")),
        eager = false)
      var frontier = visited
      var h = 1
      var frontierSize = 1L
      while (frontierSize > 0 && h <= 20) {
        frontier = Checkpoints.pin(
          frontier.join(und, col("node") === col("u"))
            .groupBy(col("seed"), col("v").as("node"))
            .agg(sum("pc").as("pc"))
            .join(visited.select("seed", "node"), Seq("seed", "node"),
              "left_anti")
            .withColumn("hop", lit(h.toLong))
            .withColumn("pc",
              if (h <= 4) col("pc") else lit(0L))
            .select("seed", "node", "hop", "pc"),
          eager = false)
        frontierSize = frontier.count()
        if (frontierSize > 0)
          visited = Checkpoints.pin(visited.unionAll(frontier), eager = false)
        h += 1
      }
      visited
    }

  def closenessSeeds(s: SparkSession, d: String): DataFrame = {
    // fixpoint visited filtered to the published 6-hop horizon — BFS
    // round h visits exactly the distance-h nodes, so this equals the
    // original 6-round loop row-for-row (see bfsSeedsVisited)
    val visited = bfsSeedsVisited(s, d).filter(col("hop") <= 6)
    visited.groupBy("seed")
      .agg(count(lit(1)).as("n_reached"), sum("hop").as("hop_sum"))
      .withColumn("closeness",
        when(col("hop_sum") === 0, lit(0.0))
          .otherwise(graft.functions.Num.roundNorm(
            (col("n_reached") - 1).cast("double") / col("hop_sum").cast("double"), 6)))
      .orderBy("seed")
  }

  /** Seed eccentricity + diameter lower bound
    * (`graph_eccentricity_seeds`, r13): BFS from the 4 top-degree hubs
    * TO FIXPOINT (unlike [[closenessSeeds]]' published 6-hop sampling
    * horizon — eccentricity is exactly the quantity a horizon would
    * corrupt), reporting per seed the reach census and ecc = max hop;
    * max(ecc) over seeds is the textbook diameter lower bound and
    * 2·max(ecc) an upper bound within each component. The loop runs
    * until the frontier EMPTIES — each round one edge-keyed equi-join +
    * anti-join against the visited set, frontier/visited lazily pinned
    * (constant-depth lineage), rounds bounded by the true eccentricity
    * (≤ 20 cap, asserted unreached in the spec) — the frontier-empty
    * check is one count on an already-pinned model-sized table, the
    * same convergence discipline as adaptive PageRank.
    */
  def eccentricitySeeds(s: SparkSession, d: String): DataFrame =
    // reads the shared fixpoint BFS table (r13 — see bfsSeedsVisited)
    bfsSeedsVisited(s, d).groupBy("seed")
      .agg(count(lit(1)).as("n_reached"), max("hop").as("ecc"))
      .orderBy("seed")

  /** Harmonic centrality from seed hubs
    * (`graph_harmonic_seeds`, r13): H(s) = Σ_{v≠s} 1/d(s,v) — the
    * centrality [[closenessSeeds]] approximates badly on disconnected
    * or far-flung graphs (closeness divides by the hop SUM, so one
    * distant island drags the score; harmonic's per-node reciprocal
    * gives unreachable nodes exactly 0 and is the form recommended by
    * Boldi & Vigna 2014). Same 4 top-degree seeds, same fixpoint BFS
    * as [[eccentricitySeeds]] (hop-capped 20, frontier-empty
    * convergence, lazily pinned rounds) — but the score accumulates on
    * the INTEGER lattice: each reached node contributes
    * 10⁶ div hop (per-node flooring, the adamic-adar pre-sum rounding
    * rule), so H_e6 is an exact BIGINT and the oracle's recursive CTE
    * replays it term-for-term. One BFS serves all seeds (frontier
    * carries (seed, node) pairs).
    */
  def harmonicSeeds(s: SparkSession, d: String): DataFrame =
    // reads the shared fixpoint BFS table (r13 — see bfsSeedsVisited)
    bfsSeedsVisited(s, d).filter(col("hop") > 0)
      .groupBy("seed")
      .agg(count(lit(1)).as("n_reached"),
        sum(expr("1000000L div hop")).as("harmonic_e6"),
        max("hop").as("max_hop"))
      .orderBy("seed")

  /** Hierarchy subtree rollup (`graph_subtree_rollup`): per ancestor,
    * the order-spend cents and node count of its ENTIRE subtree — the
    * org-chart / category-tree / BOM aggregation that recursive SQL
    * engines answer with a recursive CTE and sequential engines with a
    * per-chain walk. Here the node→ancestor closure is built by
    * POINTER DOUBLING: `jump_k(n)` = the 2^k-th ancestor, each round
    * squares the jump table (one self-equi-join) and extends every
    * node's known-ancestor set through it, so a depth-D hierarchy
    * closes in ⌈log₂ D⌉ rounds. After r rounds the closure holds
    * ancestor offsets ≤ 2^r, and a key with d digits needs offset
    * d + 1 to reach the root (10^16 needs 17 — the r12 review's
    * off-by-one catch), so the FIVE rounds shipped cover offsets ≤ 32
    * = keys beyond 10^30; a 100 TB corpus adds rows, not rounds.
    * Closure size is N·depth = N·log N pairs (exactly what the
    * oracle's recursive CTE materializes), the rollup is one keyed agg
    * over it. The tree is deterministic from the data: parent(c) =
    * c div 10 (customer 0 is the root), so the DuckDB recursive CTE
    * replays the identical structure with no published model.
    */
  def subtreeRollup(s: SparkSession, d: String): DataFrame = {
    val par = Sources.customer(s, d)
      .select(col("c_custkey").cast("long").as("id"))
      .withColumn("pid", expr("id div 10"))
    // anc = known (node, ancestor) pairs; jump = 2^k-step parent table
    var anc = Checkpoints.pin(
      par.select(col("id").as("n"), col("id").as("a"))
        .unionAll(par.filter(col("pid") =!= col("id"))
          .select(col("id").as("n"), col("pid").as("a"))), eager = false)
    var jump = Checkpoints.pin(par, eager = false)
    for (_ <- 1 to 5) { // offsets <= 2^5 = 32: root chains of 10^30+ keys
      anc = Checkpoints.pin(
        anc.unionAll(
          anc.join(jump, anc("a") === jump("id"))
            .select(anc("n"), jump("pid").as("a")))
          .distinct(), eager = false)
      val j2 = jump.select(col("id").as("jid"), col("pid").as("jpid"))
      jump = Checkpoints.pin(
        jump.join(j2, jump("pid") === j2("jid"))
          .select(jump("id"), col("jpid").as("pid")), eager = false)
    }
    val spend = Sources.customer(s, d)
      .select(col("c_custkey").cast("long").as("id"))
      .join(Sources.orders(s, d)
          .select(col("o_custkey").cast("long").as("id"),
            round(col("o_totalprice") * 100).cast("long").as("cents")),
        Seq("id"), "left")
      .groupBy("id")
      .agg(coalesce(sum("cents"), lit(0L)).as("cents"),
        count(col("cents")).as("n_orders"))
    anc.join(spend, anc("n") === spend("id"))
      .groupBy(col("a").as("anc_id"))
      .agg(count(lit(1)).as("n_desc"),
        sum("cents").as("sub_cents"),
        sum("n_orders").as("sub_orders"))
      .orderBy("anc_id")
  }

  /** Degree-correlation profile (`graph_knn_degree`, r13): the
    * k_nn(k) curve — average neighbor degree per degree class — the
    * function whose SLOPE [[assortativity]] compresses to one number:
    * rising k_nn(k) = assortative mixing (hubs wire to hubs), falling
    * = disassortative hub-and-spoke (the typical co-purchase shape:
    * staple products bridge many niche ones). Exact pipeline: one
    * node-sized degree table, one edge-sized equi-join attaching each
    * neighbor's degree, two keyed aggregates; the class average ships
    * as an exact e6 floor of Σ(neighbor degrees) over (k · n_k). No
    * caps needed — every intermediate is node- or edge-sized.
    */
  def knnDegree(s: SparkSession, d: String): DataFrame = {
    val es = strongEdges(s, d)
    val und = Checkpoints.pin(
      es.select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
        .filter(col("u") =!= col("v")).distinct(),
      eager = false)
    val adj = und.select(col("u").as("node"), col("v").as("nb"))
      .union(und.select(col("v").as("node"), col("u").as("nb")))
    val deg = adj.groupBy("node").agg(count(lit(1)).as("deg"))
    val withNbDeg = adj
      .join(deg.select(col("node").as("nb"), col("deg").as("nb_deg")),
        Seq("nb"))
      .groupBy("node").agg(sum("nb_deg").as("sum_nb_deg"))
    deg.join(withNbDeg, Seq("node"))
      .groupBy(col("deg").as("k"))
      .agg(count(lit(1)).as("n_nodes"), sum("sum_nb_deg").as("sum_nb"))
      .select(col("k"), col("n_nodes"), col("sum_nb"),
        expr("(1000000L * sum_nb) div (k * n_nodes)").as("knn_e6"))
      .orderBy("k")
  }

  /** Per-node local clustering, top-20 (`graph_local_cc_topk`, r13):
    * c(u) = 2·tri(u)/(deg(u)·(deg(u)−1)) — the NODE-level read the
    * global coefficient averages away: high-cc nodes sit inside
    * cliques (bundle products), low-cc high-degree nodes are brokers
    * between otherwise-disconnected baskets. Same capped wedge
    * machinery as [[squareCount]] (deg ≤ 64 per center node,
    * published — candidates stay linear in nodes; hubs past the cap
    * are excluded by convention and the oracle applies the identical
    * cap), triangles close by ONE equi-join of wedge endpoints
    * against the canonical edge table, cc ships as an exact e6 floor,
    * rank = (cc desc, node) — total order, TakeOrdered cut; deg ≥ 2
    * required (c undefined below).
    */
  def localCcTopk(s: SparkSession, d: String): DataFrame = {
    val es = strongEdges(s, d)
    val canon = Checkpoints.pin(
      es.select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
        .filter(col("u") =!= col("v")).distinct(),
      eager = false)
    val adj = canon.select(col("u").as("mid"), col("v").as("nb"))
      .union(canon.select(col("v").as("mid"), col("u").as("nb")))
    val deg = adj.groupBy("mid").agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= 2 && col("deg") <= 64)
    val capped = adj.join(deg.select("mid"), Seq("mid"), "left_semi")
    val wedges = capped.as("a").join(capped.as("b"),
      col("a.mid") === col("b.mid") && col("a.nb") < col("b.nb"))
      .select(col("a.mid").as("mid"), col("a.nb").as("u"),
        col("b.nb").as("v"))
    val tri = wedges.join(canon, Seq("u", "v"), "left_semi")
      .groupBy("mid").agg(count(lit(1)).as("n_tri"))
    deg.join(tri, Seq("mid"), "left")
      .withColumn("n_tri", coalesce(col("n_tri"), lit(0L)))
      .withColumn("cc_e6",
        expr("(2000000L * n_tri) div (deg * (deg - 1L))"))
      .orderBy(col("cc_e6").desc, col("mid")).limit(20)
      .select(col("mid").as("node"), col("deg"), col("n_tri"), col("cc_e6"))
      .orderBy(col("cc_e6").desc, col("node"))
  }

  /** Square (4-cycle) census (`graph_square_count`, r13): the motif
    * one step past [[triangle counting|graph_triangle_stats]] —
    * C₄-density separates locally-clustered graphs (triangles) from
    * bipartite-ish co-occurrence structure (squares without
    * triangles), the signature of complementary-product pairs in a
    * co-purchase graph. Exact identity: every 4-cycle is counted once
    * per diagonal, so squares = Σ_{x<y} C(common(x,y), 2) / 2 — the
    * common-neighbor table comes from ONE mid-keyed wedge self-join
    * with the [[copurchaseCustomers]] df-cap (deg ≤ 64 per mid node
    * BEFORE the join: wedge fan-out per node is then ≤ 64·63/2, so
    * the join output is LINEAR in nodes at any corpus size; the
    * oracle applies the identical cap so the census is well-defined).
    * The ÷2 is exact — the sum counts each square exactly twice.
    */
  def squareCount(s: SparkSession, d: String): DataFrame = {
    val es = strongEdges(s, d)
    val und = Checkpoints.pin(
      es.select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
        .filter(col("u") =!= col("v")).distinct(),
      eager = false)
    val adj = und.select(col("u").as("mid"), col("v").as("nb"))
      .union(und.select(col("v").as("mid"), col("u").as("nb")))
    val deg = adj.groupBy("mid").agg(count(lit(1)).as("dg"))
    val capped = adj.join(deg.filter(col("dg") <= 64).select("mid"),
      Seq("mid"), "left_semi")
    val wedges = capped.as("a").join(capped.as("b"),
      col("a.mid") === col("b.mid") && col("a.nb") < col("b.nb"))
      .select(col("a.nb").as("x"), col("b.nb").as("y"))
    val common = wedges.groupBy("x", "y").agg(count(lit(1)).as("k"))
      .filter(col("k") >= 2)
    common.agg(count(lit(1)).as("n_diag_pairs"),
        coalesce(sum(expr("k * (k - 1) div 2")), lit(0L)).as("sum_c2"))
      .select(col("n_diag_pairs"), col("sum_c2"),
        expr("sum_c2 div 2").as("n_squares"))
  }

  /** Shortest-path counting from hub seeds (`graph_path_counts`, r13):
    * σ_s(v) — the NUMBER of distinct shortest s→v paths — for the 4
    * top-degree hubs over a FROZEN 4-hop horizon (the published-
    * trajectory discipline). σ is the quantity BFS reach queries
    * ([[closenessSeeds]], [[eccentricitySeeds]]) cannot see and the
    * building block of Brandes betweenness/stress centrality: high
    * σ-mass nodes are redundancy-rich (many equal-cost routes), σ = 1
    * nodes are single-path bottlenecks. Propagation is the BFS loop
    * with one extra column: next σ(v) = Σ σ(u) over frontier
    * predecessors — the per-round distinct() becomes a SUM aggregate
    * (same shuffle key, same cost), path counts stay exact BIGINTs
    * (growth ≤ deg^h, ~1e5 at the fixture degrees; Long holds to
    * deg^h < 9e18). Frontiers/visited lazily pinned per round
    * (constant-depth lineage, the adaptive-PageRank discipline); the
    * oracle unrolls all four rounds with the identical anti-join and
    * sum, so every σ value sits under the hash gate.
    */
  def pathCounts(s: SparkSession, d: String): DataFrame =
    // r14 (§2.4 compute once, read N times): the 4-round σ propagation
    // is the SAME loop the shared fixpoint BFS runs — same (deg desc,
    // id) seeds, same per-round edge join + SUM + anti-join — and the
    // shared table now carries σ as `pc` through its first 4 rounds
    // (see [[bfsSeedsVisited]]; BFS round h visits exactly the
    // distance-h nodes, and the σ recurrence over them is identical).
    // The query reduces to the census over the shared traversal: the
    // 8-stage-per-round loop this query re-ran per bench iteration is
    // gone (1.29 s → census-only in the 32-cpu baseline).
    bfsSeedsVisited(s, d).filter(col("hop") <= 4)
      .groupBy("seed", "hop")
      .agg(count(lit(1)).as("n_nodes"), sum("pc").as("sigma_sum"),
        max("pc").as("sigma_max"))
      .orderBy("seed", "hop")

  /** Rich-club coefficients (`graph_rich_club`, r13): φ(k) =
    * 2·E_k/(N_k·(N_k−1)) over the hubs of degree > k for the published
    * thresholds k ∈ {2, 4, 8} — the network-science read of whether
    * high-degree parts preferentially co-purchase with EACH OTHER
    * (φ(k) rising with k = an elite densely-wired core; the metric
    * behind "rich-club ordering" in Colizza et al. 2006). Plan: one
    * distinct canonical-edge table off the session-materialized strong
    * graph, a node-sized degree aggregate, ×3 threshold fan-out of the
    * club membership, and two semi-join passes to count in-club edges
    * — every intermediate is node- or edge-sized, the thresholds are a
    * 3-row literal domain, φ ships as an exact e6 floor (N_k < 2 emits
    * the 0 sentinel by published convention).
    */
  /** Time-respecting reachability (`graph_temporal_reach`, r13):
    * earliest-arrival propagation on the TEMPORAL co-purchase graph —
    * an edge stamped with its order's date is traversable only at a
    * time ≥ the walker's arrival at its source, the foremost-path
    * semantics of temporal graph theory (Holme & Saramäki 2012). The
    * static reach queries ([[khopReach]], [[ssspSeeds]]) overstate
    * influence: a 1992 co-purchase cannot forward anything learned in
    * 1995. Edges are distinct (src, dst, day) triples (a pair
    * re-observed later is a genuinely different traversal
    * opportunity); seeds are the 4 top-out-degree hubs with arrival 0;
    * each of the FROZEN 4 rounds relaxes arr(v) = min(arr(v), min{t :
    * edge (u,v,t), t ≥ arr(u)}) — all integer epoch days, so the
    * whole trajectory is hash-gated with no lattice at all. Per-round
    * plan: one frontier-sized equi-join on src against the pinned
    * temporal edge table (the non-equi t ≥ arr rides the join as a
    * residual filter) and ONE merged (seed, node) MIN aggregate over
    * candidates ∪ previous arrivals (min is associative, so the
    * candidate pre-reduction folds into the merge — map-side partial
    * aggregation still bounds the shuffle); census per round = reach
    * count, Σ arrival, max arrival. The oracle unrolls all four
    * rounds MATERIALIZED.
    */
  def temporalReach(s: SparkSession, d: String): DataFrame = {
    val li = Sources.lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"))
    val ord = Sources.orders(s, d).select(col("o_orderkey"),
      datediff(to_date(col("o_orderdate")), lit("1970-01-01").cast("date"))
        .cast("long").as("t"))
    val edges = Checkpoints.pin(
      li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_linenumber") + 1 === col("b.l_linenumber"))
        .filter(col("a.l_partkey") =!= col("b.l_partkey"))
        .join(ord, col("a.l_orderkey") === col("o_orderkey"))
        .select(col("a.l_partkey").as("src"), col("b.l_partkey").as("dst"),
          col("t"))
        .distinct(),
      eager = false)
    val seeds = edges.groupBy("src").agg(count(lit(1)).as("dg"))
      .orderBy(col("dg").desc, col("src")).limit(4)
      .select(col("src").as("seed"))
    var arr = Checkpoints.pin(
      seeds.select(col("seed"), col("seed").as("node"), lit(0L).as("arr")),
      eager = false)
    def census(r: Int, a: DataFrame): DataFrame =
      a.agg(count(lit(1)).as("n_reached"), sum("arr").as("sum_arr"),
        max("arr").as("max_arr"))
        .select(lit(r.toLong).as("round"), col("n_reached"),
          col("sum_arr"), col("max_arr"))
    var out = census(0, arr)
    for (r <- 1 to 4) {
      // r14 (§2.4): the old per-round plan pre-reduced candidates with a
      // groupBy (seed, dst) MIN and then re-grouped the union by the
      // IDENTICAL key — two exchanges on the same key per round. MIN is
      // associative, so the inner aggregate folds into the outer one
      // (map-side partial aggregation still bounds the shuffle), and
      // each round pays ONE exchange.
      val cand = arr.join(edges, col("node") === col("src"))
        .filter(col("t") >= col("arr"))
        .select(col("seed"), col("dst").as("node"), col("t").as("arr"))
      arr = Checkpoints.pin(
        arr.unionAll(cand).groupBy("seed", "node")
          .agg(min("arr").as("arr")),
        eager = false)
      out = out.unionAll(census(r, arr))
    }
    out.orderBy("round")
  }

  /** Bow-tie decomposition (`graph_bowtie_structure`, r13): the Broder
    * et al. (2000) macroscopic map of a directed graph — relative to
    * the top-out-degree hub, every node is classified by whether it
    * can REACH the hub and whether the hub can reach IT: CORE (both —
    * the hub's strongly-connected neighbourhood), IN (reaches only),
    * OUT (reached only), OTHER (neither). The classic read of a link
    * graph's crawlability: seeds in IN feed the core, OUT is sink
    * mass, OTHER needs independent seeds. Reach is the FROZEN 4-hop
    * horizon of the other seeded traversals (pathCounts discipline:
    * hash-gate the trajectory, not a data-dependent fixpoint);
    * backward reach runs the SAME frontier loop on the transposed
    * edges — no new machinery. Census per class: node count + Σ node
    * (an exact signature one misclassified node breaks), driven from
    * the literal 4-class domain so empty classes publish zeros.
    * Per-round plan: frontier-sized equi-joins against the pinned
    * directed edge table, distinct-collapse per hop, two ≤N-row
    * reach sets, one full-outer classify + census.
    */
  def bowtieStructure(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = edgesWithDeg(s, d).select("src", "dst")
    val hub = e.groupBy("src").agg(count(lit(1)).as("dg"))
      .orderBy(col("dg").desc, col("src")).limit(1)
      .select(col("src").as("node"))
    def reach(edges: DataFrame): DataFrame = {
      var seen = Checkpoints.pin(hub, eager = false)
      var frontier = seen
      for (_ <- 1 to 4) {
        frontier = Checkpoints.pin(
          frontier.join(edges, col("node") === col("src"))
            .select(col("dst").as("node")).distinct()
            .join(seen, Seq("node"), "left_anti"),
          eager = false)
        seen = Checkpoints.pin(seen.unionAll(frontier), eager = false)
      }
      seen
    }
    val fwd = reach(e)
    val bwd = reach(e.select(col("dst").as("src"), col("src").as("dst")))
    val nodes = nodeTable(s, d).select(col("part").as("node"))
    val classed = nodes
      .join(fwd.withColumn("f", lit(1L)), Seq("node"), "left")
      .join(bwd.withColumn("b", lit(1L)), Seq("node"), "left")
      .select(col("node"),
        when(col("f").isNotNull && col("b").isNotNull, "core")
          .when(col("f").isNotNull, "out")
          .when(col("b").isNotNull, "in")
          .otherwise("other").as("cls"))
    val dom = Seq("core", "in", "other", "out").toDF("cls")
    dom.join(classed.groupBy("cls")
        .agg(count(lit(1)).as("nn"), sum("node").as("sn")),
        Seq("cls"), "left")
      .select(col("cls"), coalesce(col("nn"), lit(0L)).as("n_nodes"),
        coalesce(col("sn"), lit(0L)).as("sum_node"))
      .orderBy("cls")
  }

  /** Borůvka minimum-spanning-forest rounds (`graph_boruvka_msf`,
    * r13): the oldest MST algorithm (1926) and still the distributed
    * one — every component hooks its MINIMUM-weight incident edge,
    * selected edges join the forest, components contract; each round
    * at least halves the component count, so the frozen 2-round
    * horizon (the pathCounts discipline) does the heavy lifting and
    * its whole trajectory sits under the hash gate. Weights are exact
    * co-purchase counts; the edge order is the TOTAL order (w, u, v),
    * so the per-component minimum — and therefore the forest itself —
    * is deterministic (the cut property holds under any total order
    * extending the weights). Plan per round: the weighted canonical
    * edge table joins the node-sized label table twice (broadcast-able
    * at fixture scale, AQE-decided), the per-component argmin runs as
    * ONE map-side-combinable hash agg — `min(struct(w, u, v))`, whose
    * struct ordering IS the (w, u, v) total order (never a keyed
    * sort-agg or a component-keyed window over the corpus), and
    * contraction reuses
    * [[Dedup.connectedGroupsWithStats]] — the same large/small-star
    * machinery the dedup families run, labels = component min id.
    * Census per round: components, forest edges, forest weight,
    * largest component.
    */
  def boruvkaMsf(s: SparkSession, d: String): DataFrame = {
    // r13 optimization: the undirected weighted edge list is the shared
    // graph-wedges table folded over orientation — w(u,v) = Σ directed
    // counts for (u,v) and (v,u), identical to re-deriving the adjacent-
    // linenumber self-join from lineitem (same pairs, same filter, same
    // grouping — just pre-aggregated) — so read the materialized table
    // instead of paying the corpus self-join again inside the query
    // (measured 4.8 → ~2 s at sf0.1; at 100 TB the fact self-join is the
    // single most expensive subplan this query had).
    val wedges = Checkpoints.pin(
      weightedEdges(s, d)
        .select(least(col("src"), col("dst")).as("u"),
          greatest(col("src"), col("dst")).as("v"), col("w"))
        .groupBy("u", "v").agg(sum("w").as("w")),
      eager = false)
    val nodes = Checkpoints.pin(
      wedges.select(col("u").as("node"))
        .union(wedges.select(col("v").as("node"))).distinct(),
      eager = false)
    var labels = nodes.withColumn("lbl", col("node"))
    var forest: DataFrame = null
    var out: DataFrame = null
    for (r <- 1 to 2) {
      // r14 (§2.4): the two-orientation candidate list is ONE pass now —
      // explode(array(cu, cv)) duplicates each cross-component edge under
      // both endpoint labels, where the old self-UNION re-executed the
      // wedges ⋈ labels ⋈ labels subtree twice per round (it was pinned
      // to dodge a third execution; with one consumer the pin goes too).
      val cand = wedges
        .join(labels.select(col("node").as("u"), col("lbl").as("cu")), "u")
        .join(labels.select(col("node").as("v"), col("lbl").as("cv")), "v")
        .filter(col("cu") =!= col("cv"))
        .select(explode(array(col("cu"), col("cv"))).as("c"),
          col("w"), col("u"), col("v"))
      // deterministic per-component argmin on the (w, u, v) total order:
      // ONE map-side-combinable hash agg — min over struct(w, u, v) IS
      // the lexicographic minimum, row-identical to the old three chained
      // agg passes (min w, then min u at min w, then min v) without their
      // two extra shuffles and two broadcast joins per round.
      val sel = cand.groupBy("c")
        .agg(min(struct(col("w"), col("u"), col("v"))).as("m"))
        .select(col("m.u").as("u"), col("m.v").as("v"), col("m.w").as("w"))
        .distinct()
      forest = Checkpoints.pin(
        if (forest == null) sel else forest.unionAll(sel).distinct(),
        eager = false)
      // covers every node: CC members plus singletons, group = min id
      labels = Checkpoints.pin(
        Dedup.connectedGroupsWithStats(
          forest.select(col("u").as("id_a"), col("v").as("id_b")),
          nodes, "node")._1
          .select(col("id").as("node"), col("group_id").as("lbl")),
        eager = false)
      val census = labels.groupBy("lbl").agg(count(lit(1)).as("sz"))
        .agg(count(lit(1)).as("n_components"), max("sz").as("max_comp"))
        .crossJoin(broadcast(forest.agg(count(lit(1)).as("n_forest_edges"),
          sum("w").as("forest_weight"))))
        .select(lit(r.toLong).as("round"), col("n_components"),
          col("n_forest_edges"), col("forest_weight"), col("max_comp"))
      out = if (out == null) census else out.unionAll(census)
    }
    out.orderBy("round")
  }

  def richClub(s: SparkSession, d: String): DataFrame = {
    val es = strongEdges(s, d)
    val canon = Checkpoints.pin(
      es.select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
        .filter(col("u") =!= col("v")).distinct(),
      eager = false) // feeds the degree table AND the in-club edge count
    val deg = canon.select(col("u").as("node"), col("v").as("nb"))
      .union(canon.select(col("v").as("node"), col("u").as("nb")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val clubs = deg.withColumn("k", explode(array(lit(2L), lit(4L), lit(8L))))
      .filter(col("deg") > col("k"))
      .select("k", "node")
    val nk = clubs.groupBy("k").agg(count(lit(1)).as("n_nodes"))
    val ek = canon
      .join(clubs.withColumnRenamed("node", "u"), Seq("u"))
      .join(clubs.withColumnRenamed("node", "v"), Seq("k", "v"))
      .groupBy("k").agg(count(lit(1)).as("n_edges"))
    // drive from the literal k domain: an EMPTY club is a result
    // (n_nodes = 0, phi = 0 sentinel), not a dropped row
    val kDom = s.range(0, 3).select((pow(lit(2.0),
      col("id") + 1)).cast("long").as("k"))
    kDom.join(nk, Seq("k"), "left").join(ek, Seq("k"), "left")
      .select(col("k"), coalesce(col("n_nodes"), lit(0L)).as("n_nodes"),
        coalesce(col("n_edges"), lit(0L)).as("n_edges"),
        when(coalesce(col("n_nodes"), lit(0L)) >= 2,
          expr("(2000000L * coalesce(n_edges, 0L)) div (n_nodes * (n_nodes - 1L))"))
          .otherwise(lit(0L)).as("phi_e6"))
      .orderBy("k")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "graph_rich_club" -> (richClub _),
    "graph_temporal_reach" -> (temporalReach _),
    "graph_bowtie_structure" -> (bowtieStructure _),
    "graph_boruvka_msf" -> (boruvkaMsf _),
    "graph_path_counts" -> (pathCounts _),
    "graph_square_count" -> (squareCount _),
    "graph_local_cc_topk" -> (localCcTopk _),
    "graph_knn_degree" -> (knnDegree _),
    "graph_subtree_rollup" -> (subtreeRollup _),
    "graph_modularity" -> (modularity _),
    "graph_bfs_layers" -> (bfsLayers _),
    "graph_closeness_seeds" -> (closenessSeeds _),
    "graph_degree_hist" -> (degreeHist _),
    "graph_reciprocity" -> (reciprocity _),
    "graph_copurchase_customers" -> (copurchaseCustomers _),
    "graph_kcore2" -> (kcore2 _),
    "graph_link_prediction" -> (linkPrediction _),
    "graph_hits" -> (hits _),
    "graph_assortativity" -> (assortativity _),
    "graph_pagerank_parts" -> (pageRankParts _),
    "graph_pagerank_incremental" -> (pageRankIncremental _),
    "graph_sssp" -> (sssp _),
    "graph_clustering_coeff" -> (clusteringCoeff _),
    "graph_pagerank_adaptive" -> (pageRankAdaptive _),
    "graph_khop_reach" -> (khopReach _),
    "graph_ppr_seeds" -> (pprCrawlSeeds _),
    "graph_pagerank_weighted" -> (pageRankWeighted _),
    "graph_components" -> (components _),
    "graph_lpa_rounds" -> (lpaRounds _),
    "graph_frozen_walks" -> (frozenWalks _),
    "graph_eccentricity_seeds" -> (eccentricitySeeds _),
    "graph_harmonic_seeds" -> (harmonicSeeds _),
    "graph_adamic_adar" -> (adamicAdar _),
  )

  private val edgeCte: String =
    """li AS (SELECT l_orderkey, l_linenumber, l_partkey FROM lineitem),
      | e AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      |   FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
      |    AND a.l_linenumber + 1 = b.l_linenumber
      |   WHERE a.l_partkey <> b.l_partkey)""".stripMargin

  /** One unrolled PageRank iteration k-1 → k (DuckDB `//` floor division
    * matches Spark `div` on the all-positive fixed-point values).
    */
  /** One unrolled peeling round for the 2-core oracle. MATERIALIZED:
    * each round references the previous one three times, so inlined
    * CTEs re-evaluate the whole chain 3^8 times (observed as DuckDB
    * exhausting file handles re-opening the parquet).
    */
  private def kcoreStep(t: Int): String = {
    val p = t - 1
    s"""k$t AS MATERIALIZED (SELECT u FROM (SELECT u, count(*) AS c FROM und$p GROUP BY u) WHERE c >= 2),
       | und$t AS MATERIALIZED (SELECT a.u, a.v FROM und$p a
       |   JOIN k$t x ON a.u = x.u JOIN k$t y ON a.v = y.u)""".stripMargin
  }

  /** One unrolled synchronous LPA round k-1 → k: neighbor-label counts,
    * then the (count DESC, label ASC) argmax per node — the identical
    * total order the Spark window uses.
    */
  private def lpaStep(k: Int): String = {
    val prev = s"l${k - 1}"
    s"""c$k AS (SELECT e.dst AS part, $prev.lbl, count(*) AS c
       |   FROM e JOIN $prev ON e.src = $prev.part GROUP BY 1, 2),
       | l$k AS (SELECT part, lbl FROM (SELECT part, lbl,
       |    row_number() OVER (PARTITION BY part
       |      ORDER BY c DESC, lbl ASC) AS rk FROM c$k) WHERE rk = 1)""".stripMargin
  }

  /** One unrolled frozen-walk step k-1 → k: hash-argmin neighbor pick
    * per walker, identical total order to the Spark window.
    */
  private def walkStep(k: Int): String = {
    val prev = s"w${k - 1}"
    s"""w$k AS (SELECT start, pos FROM (
       |   SELECT $prev.start, e.dst AS pos, row_number() OVER (
       |     PARTITION BY $prev.start
       |     ORDER BY ($prev.start * 31 + e.dst * 17 + ${k * 7}) % 1009 ASC,
       |       e.dst ASC) AS rk
       |   FROM $prev JOIN e ON $prev.pos = e.src) WHERE rk = 1)""".stripMargin
  }

  private def prStep(k: Int): String = {
    val prev = s"r${k - 1}"
    s"""s$k AS (SELECT e.dst AS part, CAST(sum($prev.r // od.outd) AS BIGINT) AS m
       |   FROM e JOIN od ON e.src = od.src JOIN $prev ON $prev.part = e.src
       |   GROUP BY e.dst),
       | r$k AS (SELECT nodes.part,
       |   (15000000000000 // (100 * nn.n)) + (85 * coalesce(s$k.m, 0)) // 100 AS r
       |   FROM nodes CROSS JOIN nn LEFT JOIN s$k ON nodes.part = s$k.part)""".stripMargin
  }

  /** One unrolled PERSONALIZED iteration — teleport only to seeds. */
  private def prStepSeed(k: Int): String = {
    val prev = s"r${k - 1}"
    s"""s$k AS (SELECT e.dst AS part, CAST(sum($prev.r // od.outd) AS BIGINT) AS m
       |   FROM e JOIN od ON e.src = od.src JOIN $prev ON $prev.part = e.src
       |   GROUP BY e.dst),
       | r$k AS (SELECT nodes.part, nodes.is_seed,
       |   (CASE WHEN nodes.is_seed AND sn.ns > 0
       |     THEN 15000000000000 // (100 * sn.ns) ELSE 0 END)
       |     + (85 * coalesce(s$k.m, 0)) // 100 AS r
       |   FROM nodes CROSS JOIN sn LEFT JOIN s$k ON nodes.part = s$k.part)""".stripMargin
  }

  /** One unrolled WEIGHTED iteration. */
  private def prStepW(k: Int): String = {
    val prev = s"r${k - 1}"
    s"""s$k AS (SELECT p.dst AS part,
       |   CAST(sum(($prev.r * p.w) // p.wout) AS BIGINT) AS m
       |   FROM p JOIN $prev ON $prev.part = p.src
       |   GROUP BY p.dst),
       | r$k AS (SELECT nodes.part,
       |   (15000000000000 // (100 * nn.n)) + (85 * coalesce(s$k.m, 0)) // 100 AS r
       |   FROM nodes CROSS JOIN nn LEFT JOIN s$k ON nodes.part = s$k.part)""".stripMargin
  }

  /** One unrolled HITS iteration k-1 → k (exact integer sums). */
  private def hitsStep(k: Int): String =
    s"""a${k}r AS (SELECT e.dst AS part, sum(h${k - 1}.h) AS a
       |   FROM e JOIN h${k - 1} ON h${k - 1}.part = e.src GROUP BY e.dst),
       | a$k AS (SELECT nodes.part, coalesce(a${k}r.a, 0) AS a
       |   FROM nodes LEFT JOIN a${k}r ON nodes.part = a${k}r.part),
       | h${k}r AS (SELECT e.src AS part, sum(a$k.a) AS h
       |   FROM e JOIN a$k ON a$k.part = e.dst GROUP BY e.src),
       | h$k AS (SELECT nodes.part, coalesce(h${k}r.h, 0) AS h
       |   FROM nodes LEFT JOIN h${k}r ON nodes.part = h${k}r.part)""".stripMargin

  /** Full-recompute 5-iteration PageRank replay — the oracle for BOTH
    * `graph_pagerank_parts` and `graph_pagerank_incremental` (the
    * incremental maintenance result is defined as equal to this).
    */
  private lazy val prPartsOracle: String =
    s"""WITH $edgeCte,
       | nodes AS (SELECT src AS part FROM e UNION SELECT dst FROM e),
       | nn AS (SELECT count(*) AS n FROM nodes),
       | od AS (SELECT src, count(*) AS outd FROM e GROUP BY src),
       | r0 AS (SELECT part, 1000000000000 // nn.n AS r FROM nodes CROSS JOIN nn),
       | ${(1 to 5).map(prStep).mkString(",\n ")}
       |SELECT part, r AS rank_e12 FROM r5
       |ORDER BY r DESC, part LIMIT 20""".stripMargin

  val oracles: Map[String, String] = Map(
    // four unrolled rounds: identical predecessor-sum and anti-join
    // per hop — every sigma value replayed exactly
    // same (w, u, v) total-order argmin per component (row_number ≡ the
    // engine's three chained mins), same CC-to-min-label contraction
    // (reach closure ≡ large/small-star fixpoint), both rounds gated
    "graph_boruvka_msf" ->
      ("""WITH RECURSIVE li AS (SELECT l_orderkey, l_linenumber, l_partkey
        |   FROM lineitem),
        | pw AS (SELECT a.l_partkey AS s0, b.l_partkey AS d0
        |   FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |    AND a.l_linenumber + 1 = b.l_linenumber
        |   WHERE a.l_partkey <> b.l_partkey),
        | we AS MATERIALIZED (SELECT least(s0, d0) AS u,
        |    greatest(s0, d0) AS v, CAST(count(*) AS BIGINT) AS w
        |   FROM pw GROUP BY 1, 2),
        | nodes AS MATERIALIZED (SELECT DISTINCT node FROM
        |   (SELECT u AS node FROM we UNION ALL SELECT v FROM we)),
        | ce1 AS (SELECT u AS c, w, u, v FROM we
        |   UNION ALL SELECT v, w, u, v FROM we),
        | f1 AS MATERIALIZED (SELECT DISTINCT u, v, w FROM (
        |   SELECT c, w, u, v,
        |     row_number() OVER (PARTITION BY c ORDER BY w, u, v) AS rn
        |    FROM ce1) WHERE rn = 1),
        | e1 AS (SELECT u AS src, v AS dst FROM f1
        |   UNION ALL SELECT v, u FROM f1),
        | reach1(src, dst) AS (
        |  SELECT node, node FROM nodes
        |  UNION
        |  SELECT r.src, e1.dst FROM reach1 r JOIN e1 ON r.dst = e1.src),
        | lbl1 AS MATERIALIZED (SELECT src AS node, min(dst) AS lbl
        |   FROM reach1 GROUP BY 1),
        | ce2 AS (
        |  SELECT l1.lbl AS c, we.w, we.u, we.v
        |   FROM we JOIN lbl1 l1 ON we.u = l1.node
        |   JOIN lbl1 l2 ON we.v = l2.node WHERE l1.lbl <> l2.lbl
        |  UNION ALL
        |  SELECT l2.lbl, we.w, we.u, we.v
        |   FROM we JOIN lbl1 l1 ON we.u = l1.node
        |   JOIN lbl1 l2 ON we.v = l2.node WHERE l1.lbl <> l2.lbl),
        | sel2 AS (SELECT DISTINCT u, v, w FROM (
        |   SELECT c, w, u, v,
        |     row_number() OVER (PARTITION BY c ORDER BY w, u, v) AS rn
        |    FROM ce2) WHERE rn = 1),
        | f2 AS MATERIALIZED (SELECT DISTINCT u, v, w FROM
        |   (SELECT u, v, w FROM f1 UNION ALL SELECT u, v, w FROM sel2)),
        | e2 AS (SELECT u AS src, v AS dst FROM f2
        |   UNION ALL SELECT v, u FROM f2),
        | reach2(src, dst) AS (
        |  SELECT node, node FROM nodes
        |  UNION
        |  SELECT r.src, e2.dst FROM reach2 r JOIN e2 ON r.dst = e2.src),
        | lbl2 AS MATERIALIZED (SELECT src AS node, min(dst) AS lbl
        |   FROM reach2 GROUP BY 1),
        | sz1 AS (SELECT lbl, count(*) AS sz FROM lbl1 GROUP BY 1),
        | sz2 AS (SELECT lbl, count(*) AS sz FROM lbl2 GROUP BY 1)
        |SELECT * FROM (
        | SELECT CAST(1 AS BIGINT) AS round,
        |   (SELECT CAST(count(*) AS BIGINT) FROM sz1) AS n_components,
        |   (SELECT CAST(count(*) AS BIGINT) FROM f1) AS n_forest_edges,
        |   (SELECT CAST(sum(w) AS BIGINT) FROM f1) AS forest_weight,
        |   (SELECT CAST(max(sz) AS BIGINT) FROM sz1) AS max_comp
        | UNION ALL
        | SELECT 2, (SELECT CAST(count(*) AS BIGINT) FROM sz2),
        |   (SELECT CAST(count(*) AS BIGINT) FROM f2),
        |   (SELECT CAST(sum(w) AS BIGINT) FROM f2),
        |   (SELECT CAST(max(sz) AS BIGINT) FROM sz2))
        |ORDER BY round""".stripMargin),
    // same hub seed, same 4 unrolled closure rounds each direction
    // (UNION dedups ≡ the engine's frontier/anti-join form), same
    // literal class domain
    "graph_bowtie_structure" -> {
      def rounds(p: String, joinTpl: String): String = (1 to 4).map { i =>
        val j = joinTpl.replace("PREV", s"$p${i - 1}")
        s"""$p$i AS MATERIALIZED (SELECT node FROM $p${i - 1}
           | UNION SELECT $j)""".stripMargin
      }.mkString(",\n ")
      s"""WITH $edgeCte,
        | hub AS (SELECT src AS node FROM (SELECT src, count(*) AS dg
        |   FROM e GROUP BY 1 ORDER BY dg DESC, src LIMIT 1)),
        | f0 AS (SELECT node FROM hub),
        | b0 AS (SELECT node FROM hub),
        | ${rounds("f", "e.dst FROM PREV p JOIN e ON p.node = e.src")},
        | ${rounds("b", "e.src FROM PREV p JOIN e ON p.node = e.dst")},
        | nodes AS (SELECT DISTINCT node FROM
        |   (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
        | classed AS (SELECT n.node,
        |   CASE WHEN f.node IS NOT NULL AND b.node IS NOT NULL THEN 'core'
        |     WHEN f.node IS NOT NULL THEN 'out'
        |     WHEN b.node IS NOT NULL THEN 'in'
        |     ELSE 'other' END AS cls
        |  FROM nodes n LEFT JOIN f4 f ON n.node = f.node
        |  LEFT JOIN b4 b ON n.node = b.node),
        | dom AS (SELECT unnest(['core', 'in', 'other', 'out']) AS cls),
        | cen AS (SELECT cls, CAST(count(*) AS BIGINT) AS nn,
        |    CAST(sum(node) AS BIGINT) AS sn FROM classed GROUP BY 1)
        |SELECT dom.cls, coalesce(cen.nn, 0) AS n_nodes,
        | coalesce(cen.sn, 0) AS sum_node
        |FROM dom LEFT JOIN cen USING (cls) ORDER BY cls""".stripMargin
    },
    // same temporal edge triples, same 4 unrolled earliest-arrival
    // relaxations (t >= arr residual on the src equi-join), pure integers
    "graph_temporal_reach" ->
      ("""WITH li AS (SELECT l_orderkey, l_linenumber, l_partkey FROM lineitem),
        | te AS MATERIALIZED (SELECT DISTINCT a.l_partkey AS src,
        |    b.l_partkey AS dst,
        |    CAST(datediff('day', DATE '1970-01-01',
        |      CAST(o.o_orderdate AS DATE)) AS BIGINT) AS t
        |   FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |    AND a.l_linenumber + 1 = b.l_linenumber
        |   JOIN orders o ON a.l_orderkey = o.o_orderkey
        |   WHERE a.l_partkey <> b.l_partkey),
        | s0 AS (SELECT src AS seed FROM (SELECT src, count(*) AS dg
        |   FROM te GROUP BY src ORDER BY dg DESC, src LIMIT 4)),
        | a0 AS MATERIALIZED (SELECT seed, seed AS node,
        |    CAST(0 AS BIGINT) AS arr FROM s0),
        | a1 AS MATERIALIZED (SELECT seed, node, min(arr) AS arr FROM (
        |   SELECT seed, node, arr FROM a0
        |   UNION ALL
        |   SELECT p.seed, te.dst, min(te.t)
        |    FROM a0 p JOIN te ON p.node = te.src AND te.t >= p.arr
        |    GROUP BY p.seed, te.dst) GROUP BY seed, node),
        | a2 AS MATERIALIZED (SELECT seed, node, min(arr) AS arr FROM (
        |   SELECT seed, node, arr FROM a1
        |   UNION ALL
        |   SELECT p.seed, te.dst, min(te.t)
        |    FROM a1 p JOIN te ON p.node = te.src AND te.t >= p.arr
        |    GROUP BY p.seed, te.dst) GROUP BY seed, node),
        | a3 AS MATERIALIZED (SELECT seed, node, min(arr) AS arr FROM (
        |   SELECT seed, node, arr FROM a2
        |   UNION ALL
        |   SELECT p.seed, te.dst, min(te.t)
        |    FROM a2 p JOIN te ON p.node = te.src AND te.t >= p.arr
        |    GROUP BY p.seed, te.dst) GROUP BY seed, node),
        | a4 AS MATERIALIZED (SELECT seed, node, min(arr) AS arr FROM (
        |   SELECT seed, node, arr FROM a3
        |   UNION ALL
        |   SELECT p.seed, te.dst, min(te.t)
        |    FROM a3 p JOIN te ON p.node = te.src AND te.t >= p.arr
        |    GROUP BY p.seed, te.dst) GROUP BY seed, node)
        |SELECT * FROM (
        | SELECT CAST(0 AS BIGINT) AS round,
        |   CAST(count(*) AS BIGINT) AS n_reached,
        |   CAST(sum(arr) AS BIGINT) AS sum_arr,
        |   CAST(max(arr) AS BIGINT) AS max_arr FROM a0
        | UNION ALL SELECT 1, CAST(count(*) AS BIGINT),
        |   CAST(sum(arr) AS BIGINT), CAST(max(arr) AS BIGINT) FROM a1
        | UNION ALL SELECT 2, CAST(count(*) AS BIGINT),
        |   CAST(sum(arr) AS BIGINT), CAST(max(arr) AS BIGINT) FROM a2
        | UNION ALL SELECT 3, CAST(count(*) AS BIGINT),
        |   CAST(sum(arr) AS BIGINT), CAST(max(arr) AS BIGINT) FROM a3
        | UNION ALL SELECT 4, CAST(count(*) AS BIGINT),
        |   CAST(sum(arr) AS BIGINT), CAST(max(arr) AS BIGINT) FROM a4)
        |ORDER BY round""".stripMargin),
    "graph_path_counts" ->
      (s"""WITH $edgeCte,
        | und AS (SELECT DISTINCT u, v FROM
        |   (SELECT src AS u, dst AS v FROM e UNION ALL SELECT dst, src FROM e)),
        | deg AS (SELECT u, count(*) AS dg FROM und GROUP BY u),
        | s0 AS (SELECT u AS seed FROM deg ORDER BY dg DESC, u LIMIT 4),
        | f0 AS (SELECT seed, seed AS node, CAST(1 AS BIGINT) AS pc FROM s0),
        | v0 AS (SELECT seed, node FROM f0),
        | f1 AS (SELECT p.seed, und.v AS node, CAST(sum(p.pc) AS BIGINT) AS pc
        |   FROM f0 p JOIN und ON p.node = und.u
        |   LEFT JOIN v0 ON v0.seed = p.seed AND v0.node = und.v
        |   WHERE v0.node IS NULL GROUP BY 1, 2),
        | v1 AS (SELECT * FROM v0 UNION ALL SELECT seed, node FROM f1),
        | f2 AS (SELECT p.seed, und.v AS node, CAST(sum(p.pc) AS BIGINT) AS pc
        |   FROM f1 p JOIN und ON p.node = und.u
        |   LEFT JOIN v1 ON v1.seed = p.seed AND v1.node = und.v
        |   WHERE v1.node IS NULL GROUP BY 1, 2),
        | v2 AS (SELECT * FROM v1 UNION ALL SELECT seed, node FROM f2),
        | f3 AS (SELECT p.seed, und.v AS node, CAST(sum(p.pc) AS BIGINT) AS pc
        |   FROM f2 p JOIN und ON p.node = und.u
        |   LEFT JOIN v2 ON v2.seed = p.seed AND v2.node = und.v
        |   WHERE v2.node IS NULL GROUP BY 1, 2),
        | v3 AS (SELECT * FROM v2 UNION ALL SELECT seed, node FROM f3),
        | f4 AS (SELECT p.seed, und.v AS node, CAST(sum(p.pc) AS BIGINT) AS pc
        |   FROM f3 p JOIN und ON p.node = und.u
        |   LEFT JOIN v3 ON v3.seed = p.seed AND v3.node = und.v
        |   WHERE v3.node IS NULL GROUP BY 1, 2),
        | allv AS (
        |  SELECT seed, node, CAST(0 AS BIGINT) AS hop, pc FROM f0
        |  UNION ALL SELECT seed, node, 1, pc FROM f1
        |  UNION ALL SELECT seed, node, 2, pc FROM f2
        |  UNION ALL SELECT seed, node, 3, pc FROM f3
        |  UNION ALL SELECT seed, node, 4, pc FROM f4)
        |SELECT seed, hop, CAST(count(*) AS BIGINT) AS n_nodes,
        | CAST(sum(pc) AS BIGINT) AS sigma_sum,
        | CAST(max(pc) AS BIGINT) AS sigma_max
        |FROM allv GROUP BY 1, 2 ORDER BY seed, hop""".stripMargin),
    // same canonical graph, same two-aggregate k_nn pipeline
    "graph_knn_degree" ->
      """WITH li AS (SELECT l_orderkey, l_linenumber, l_partkey FROM lineitem),
        | pw AS (SELECT a.l_partkey AS src, b.l_partkey AS dst, count(*) AS w
        |   FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |    AND a.l_linenumber + 1 = b.l_linenumber
        |   WHERE a.l_partkey <> b.l_partkey GROUP BY 1, 2),
        | st AS (SELECT src, dst FROM pw WHERE w >= 2),
        | canon AS (SELECT DISTINCT least(src, dst) AS u,
        |    greatest(src, dst) AS v FROM st WHERE src <> dst),
        | adj AS (SELECT u AS node, v AS nb FROM canon
        |   UNION ALL SELECT v, u FROM canon),
        | deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM adj
        |   GROUP BY 1),
        | wn AS (SELECT adj.node, CAST(sum(d2.deg) AS BIGINT) AS sum_nb_deg
        |   FROM adj JOIN deg d2 ON adj.nb = d2.node GROUP BY 1)
        |SELECT deg.deg AS k, CAST(count(*) AS BIGINT) AS n_nodes,
        | CAST(sum(wn.sum_nb_deg) AS BIGINT) AS sum_nb,
        | (1000000 * CAST(sum(wn.sum_nb_deg) AS BIGINT))
        |   // (deg.deg * count(*)) AS knn_e6
        |FROM deg JOIN wn ON deg.node = wn.node
        |GROUP BY deg.deg ORDER BY k""".stripMargin,
    // same capped wedges, same triangle closure, exact e6 floors,
    // identical (cc desc, node) cut
    "graph_local_cc_topk" ->
      """WITH li AS (SELECT l_orderkey, l_linenumber, l_partkey FROM lineitem),
        | pw AS (SELECT a.l_partkey AS src, b.l_partkey AS dst, count(*) AS w
        |   FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |    AND a.l_linenumber + 1 = b.l_linenumber
        |   WHERE a.l_partkey <> b.l_partkey GROUP BY 1, 2),
        | st AS (SELECT src, dst FROM pw WHERE w >= 2),
        | canon AS (SELECT DISTINCT least(src, dst) AS u,
        |    greatest(src, dst) AS v FROM st WHERE src <> dst),
        | adj AS (SELECT u AS mid, v AS nb FROM canon
        |   UNION ALL SELECT v, u FROM canon),
        | deg AS (SELECT mid, CAST(count(*) AS BIGINT) AS deg FROM adj
        |   GROUP BY 1 HAVING count(*) >= 2 AND count(*) <= 64),
        | capped AS (SELECT adj.mid, adj.nb FROM adj
        |   JOIN deg ON adj.mid = deg.mid),
        | wedges AS (SELECT a.mid, a.nb AS u, b.nb AS v
        |   FROM capped a JOIN capped b ON a.mid = b.mid AND a.nb < b.nb),
        | tri AS (SELECT w.mid, CAST(count(*) AS BIGINT) AS n_tri
        |   FROM wedges w JOIN canon c ON w.u = c.u AND w.v = c.v
        |   GROUP BY 1)
        |SELECT deg.mid AS node, deg.deg,
        | CAST(coalesce(tri.n_tri, 0) AS BIGINT) AS n_tri,
        | (2000000 * coalesce(tri.n_tri, 0)) // (deg.deg * (deg.deg - 1))
        |   AS cc_e6
        |FROM deg LEFT JOIN tri ON deg.mid = tri.mid
        |ORDER BY cc_e6 DESC, node LIMIT 20""".stripMargin,
    // same capped wedge join, same diagonal identity, exact /2
    "graph_square_count" ->
      """WITH li AS (SELECT l_orderkey, l_linenumber, l_partkey FROM lineitem),
        | pw AS (SELECT a.l_partkey AS src, b.l_partkey AS dst, count(*) AS w
        |   FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |    AND a.l_linenumber + 1 = b.l_linenumber
        |   WHERE a.l_partkey <> b.l_partkey GROUP BY 1, 2),
        | st AS (SELECT src, dst FROM pw WHERE w >= 2),
        | canon AS (SELECT DISTINCT least(src, dst) AS u,
        |    greatest(src, dst) AS v FROM st WHERE src <> dst),
        | adj AS (SELECT u AS mid, v AS nb FROM canon
        |   UNION ALL SELECT v, u FROM canon),
        | deg AS (SELECT mid, count(*) AS dg FROM adj GROUP BY 1),
        | capped AS (SELECT adj.mid, adj.nb FROM adj
        |   JOIN deg ON adj.mid = deg.mid AND deg.dg <= 64),
        | wedges AS (SELECT a.nb AS x, b.nb AS y
        |   FROM capped a JOIN capped b ON a.mid = b.mid AND a.nb < b.nb),
        | com AS (SELECT x, y, CAST(count(*) AS BIGINT) AS k
        |   FROM wedges GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT CAST(count(*) AS BIGINT) AS n_diag_pairs,
        | CAST(coalesce(sum(k * (k - 1) // 2), 0) AS BIGINT) AS sum_c2,
        | CAST(coalesce(sum(k * (k - 1) // 2), 0) // 2 AS BIGINT)
        |   AS n_squares
        |FROM com""".stripMargin,
    // same strong graph, same canonical edges/degrees, exact e6 floors
    "graph_rich_club" ->
      """WITH li AS (SELECT l_orderkey, l_linenumber, l_partkey FROM lineitem),
        | pw AS (SELECT a.l_partkey AS src, b.l_partkey AS dst, count(*) AS w
        |   FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |    AND a.l_linenumber + 1 = b.l_linenumber
        |   WHERE a.l_partkey <> b.l_partkey GROUP BY 1, 2),
        | st AS (SELECT src, dst FROM pw WHERE w >= 2),
        | canon AS (SELECT DISTINCT least(src, dst) AS u,
        |    greatest(src, dst) AS v FROM st WHERE src <> dst),
        | deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
        |   SELECT u AS node, v AS nb FROM canon
        |   UNION ALL SELECT v, u FROM canon) GROUP BY 1),
        | clubs AS (SELECT k, node FROM deg, unnest([2, 4, 8]) t(k)
        |   WHERE deg > k),
        | nk AS (SELECT k, CAST(count(*) AS BIGINT) AS n_nodes
        |   FROM clubs GROUP BY 1),
        | ek AS (SELECT cu.k, CAST(count(*) AS BIGINT) AS n_edges
        |   FROM canon c JOIN clubs cu ON c.u = cu.node
        |    JOIN clubs cv ON c.v = cv.node AND cu.k = cv.k
        |   GROUP BY 1),
        | kd AS (SELECT CAST(k AS BIGINT) AS k FROM unnest([2, 4, 8]) t(k))
        |SELECT kd.k, CAST(coalesce(n_nodes, 0) AS BIGINT) AS n_nodes,
        | CAST(coalesce(n_edges, 0) AS BIGINT) AS n_edges,
        | CASE WHEN coalesce(n_nodes, 0) >= 2 THEN
        |   (2000000 * coalesce(n_edges, 0)) // (n_nodes * (n_nodes - 1))
        |  ELSE 0 END AS phi_e6
        |FROM kd LEFT JOIN nk ON kd.k = nk.k LEFT JOIN ek ON kd.k = ek.k
        |ORDER BY kd.k""".stripMargin,
    // recursive CTE over the same decimal-radix parent relation — the
    // pointer-doubling closure must reproduce it pair-for-pair
    "graph_subtree_rollup" ->
      """WITH RECURSIVE par AS (
        |   SELECT c_custkey AS id, c_custkey // 10 AS pid FROM customer),
        | anc AS (
        |   SELECT id AS n, id AS a FROM par
        |   UNION ALL
        |   SELECT anc.n, par.pid
        |   FROM anc JOIN par ON anc.a = par.id WHERE par.pid != anc.a),
        | spend AS (
        |   SELECT c.c_custkey AS id,
        |     CAST(coalesce(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)), 0)
        |       AS BIGINT) AS cents,
        |     CAST(count(o.o_orderkey) AS BIGINT) AS n_orders
        |   FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        |   GROUP BY 1)
        |SELECT anc.a AS anc_id,
        | CAST(count(*) AS BIGINT) AS n_desc,
        | CAST(sum(spend.cents) AS BIGINT) AS sub_cents,
        | CAST(sum(spend.n_orders) AS BIGINT) AS sub_orders
        |FROM anc JOIN spend ON anc.n = spend.id
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "graph_hits" ->
      s"""WITH li AS (SELECT l_orderkey, l_linenumber, l_partkey FROM lineitem),
         | e AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
         |   FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
         |    AND a.l_linenumber + 1 = b.l_linenumber
         |   WHERE a.l_partkey <> b.l_partkey),
         | nodes AS (SELECT DISTINCT part FROM
         |   (SELECT src AS part FROM e UNION ALL SELECT dst FROM e)),
         | h0 AS (SELECT part, CAST(1 AS BIGINT) AS h FROM nodes),
         | ${hitsStep(1)},
         | ${hitsStep(2)},
         | ${hitsStep(3)}
         |SELECT a3.part, CAST(a3.a AS BIGINT) AS authority,
         | CAST(h3.h AS BIGINT) AS hub
         |FROM a3 JOIN h3 ON a3.part = h3.part
         |ORDER BY authority DESC, a3.part LIMIT 20""".stripMargin,
    "graph_assortativity" ->
      """WITH li AS (SELECT l_orderkey, l_linenumber, l_partkey FROM lineitem),
        | pw AS (SELECT a.l_partkey AS src, b.l_partkey AS dst, count(*) AS w
        |   FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |    AND a.l_linenumber + 1 = b.l_linenumber
        |   WHERE a.l_partkey <> b.l_partkey GROUP BY 1, 2),
        | st AS (SELECT src, dst FROM pw WHERE w >= 2),
        | und AS (SELECT DISTINCT u, v FROM
        |   (SELECT src AS u, dst AS v FROM st UNION ALL SELECT dst, src FROM st)),
        | deg AS (SELECT u, CAST(count(*) AS BIGINT) AS deg FROM und GROUP BY u),
        | j AS (SELECT d1.deg AS dx, d2.deg AS dy
        |   FROM und JOIN deg d1 ON und.u = d1.u JOIN deg d2 ON und.v = d2.u),
        | p AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |   CAST(sum(dx) AS BIGINT) AS sx, CAST(sum(dy) AS BIGINT) AS sy,
        |   CAST(sum(dx * dx) AS BIGINT) AS sxx, CAST(sum(dy * dy) AS BIGINT) AS syy,
        |   CAST(sum(dx * dy) AS BIGINT) AS sxy FROM j)
        |SELECT n AS n_dir_edges,
        | round((n * sxy - sx * sy) / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
        |   * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6) + 0.0 AS assortativity
        |FROM p""".stripMargin,
    "graph_closeness_seeds" ->
      (s"""WITH RECURSIVE $edgeCte,
        | und AS (SELECT DISTINCT u, v FROM
        |   (SELECT src AS u, dst AS v FROM e UNION ALL SELECT dst, src FROM e)),
        | deg AS (SELECT u, count(*) AS dg FROM und GROUP BY u),
        | s0 AS (SELECT u AS seed FROM deg ORDER BY dg DESC, u LIMIT 4),
        | it(iter, seed, node, dist) AS (
        |   SELECT 0, seed, seed, CAST(0 AS BIGINT) FROM s0
        |   UNION ALL
        |   SELECT z.ni, z.seed, z.node, min(z.nd) FROM (
        |     SELECT p.iter + 1 AS ni, p.seed, p.node, p.dist AS nd
        |     FROM it p WHERE p.iter < 6
        |     UNION ALL
        |     SELECT p2.iter + 1, p2.seed, und.v, p2.dist + 1
        |     FROM it p2 JOIN und ON p2.node = und.u WHERE p2.iter < 6
        |   ) z GROUP BY z.ni, z.seed, z.node),
        | last AS (SELECT max(iter) AS mi FROM it),
        | agg AS (SELECT seed, CAST(count(*) AS BIGINT) AS n_reached,
        |    CAST(sum(dist) AS BIGINT) AS hop_sum
        |  FROM it, last WHERE iter = last.mi GROUP BY seed)
        |SELECT seed, n_reached, hop_sum,
        | CASE WHEN hop_sum = 0 THEN 0.0
        |      ELSE round((n_reached - 1)::DOUBLE / hop_sum::DOUBLE, 6) + 0.0 END
        |   AS closeness
        |FROM agg ORDER BY seed""".stripMargin),
    "graph_bfs_layers" ->
      (s"""WITH RECURSIVE $edgeCte,
        | und AS (SELECT DISTINCT u, v FROM
        |   (SELECT src AS u, dst AS v FROM e UNION ALL SELECT dst, src FROM e)),
        | deg AS (SELECT u, count(*) AS dg FROM und GROUP BY u),
        | s0 AS (SELECT u AS sp FROM deg ORDER BY dg DESC, u LIMIT 1),
        | it(iter, node, dist) AS (
        |   SELECT 0, sp, CAST(0 AS BIGINT) FROM s0
        |   UNION ALL
        |   SELECT z.ni, z.node, min(z.nd) FROM (
        |     SELECT p.iter + 1 AS ni, p.node, p.dist AS nd
        |     FROM it p WHERE p.iter < 6
        |     UNION ALL
        |     SELECT p2.iter + 1, und.v, p2.dist + 1
        |     FROM it p2 JOIN und ON p2.node = und.u WHERE p2.iter < 6
        |   ) z GROUP BY z.ni, z.node),
        | last AS (SELECT max(iter) AS mi FROM it)
        |SELECT CAST(dist AS BIGINT) AS hop, CAST(count(*) AS BIGINT) AS n_nodes
        |FROM it, last WHERE iter = last.mi GROUP BY dist ORDER BY hop""".stripMargin),
    "graph_degree_hist" ->
      (s"""WITH $edgeCte,
        | und AS (SELECT DISTINCT u, v FROM
        |   (SELECT src AS u, dst AS v FROM e UNION ALL SELECT dst, src FROM e)),
        | deg AS (SELECT u, CAST(count(*) AS BIGINT) AS deg FROM und GROUP BY u)
        |SELECT CAST(length(bin(deg)) - 1 AS BIGINT) AS bucket,
        | count(*) AS n_nodes,
        | CAST(min(deg) AS BIGINT) AS min_deg, CAST(max(deg) AS BIGINT) AS max_deg
        |FROM deg GROUP BY bucket ORDER BY bucket""".stripMargin),
    "graph_reciprocity" ->
      (s"""WITH $edgeCte,
        | r AS (SELECT a.src, a.dst FROM e a
        |   JOIN e b ON a.src = b.dst AND a.dst = b.src)
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
        | (SELECT CAST(count(*) AS BIGINT) FROM r) AS n_reciprocal,
        | CAST((10000 * (SELECT count(*) FROM r))
        |   // (SELECT count(*) FROM e) AS BIGINT) AS reciprocity_bp""".stripMargin),
    "graph_copurchase_customers" ->
      """WITH cp AS (SELECT DISTINCT l_partkey AS part, o_custkey AS cust
        |   FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        | keep AS (SELECT part FROM
        |   (SELECT part, count(*) AS n FROM cp GROUP BY part) WHERE n <= 64),
        | c2 AS (SELECT cp.part, cp.cust FROM cp JOIN keep USING (part)),
        | p AS (SELECT a.cust AS cust_a, b.cust AS cust_b,
        |   CAST(count(*) AS BIGINT) AS n_shared
        |  FROM c2 a JOIN c2 b ON a.part = b.part AND a.cust < b.cust
        |  GROUP BY 1, 2)
        |SELECT cust_a, cust_b, n_shared FROM p
        |ORDER BY n_shared DESC, cust_a, cust_b LIMIT 20""".stripMargin,
    "graph_kcore2" ->
      ("""WITH li AS (SELECT l_orderkey, l_linenumber, l_partkey FROM lineitem),
        | pw AS (SELECT a.l_partkey AS src, b.l_partkey AS dst, count(*) AS w
        |   FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |    AND a.l_linenumber + 1 = b.l_linenumber
        |   WHERE a.l_partkey <> b.l_partkey GROUP BY 1, 2),
        | st AS (SELECT src, dst FROM pw WHERE w >= 2),
        | und0 AS MATERIALIZED (SELECT DISTINCT u, v FROM
        |   (SELECT src AS u, dst AS v FROM st UNION ALL SELECT dst, src FROM st)),
        |""".stripMargin +
        (1 to 8).map(kcoreStep).mkString(" ", ",\n ", ",\n") +
        (1 to 8).map(t =>
          s""" s$t AS (SELECT CAST($t AS BIGINT) AS round,
             |   CAST(count(DISTINCT u) AS BIGINT) AS n_nodes,
             |   CAST(count(*) // 2 AS BIGINT) AS n_edges FROM und$t)""".stripMargin)
          .mkString("", ",\n", "\n") +
        "SELECT * FROM (" +
        (1 to 8).map(t => s"SELECT * FROM s$t").mkString(" UNION ALL ") +
        ") ORDER BY round"),
    "graph_link_prediction" ->
      """WITH li AS (SELECT l_orderkey, l_linenumber, l_partkey FROM lineitem),
        | pw AS (SELECT a.l_partkey AS src, b.l_partkey AS dst, count(*) AS w
        |   FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |    AND a.l_linenumber + 1 = b.l_linenumber
        |   WHERE a.l_partkey <> b.l_partkey GROUP BY 1, 2),
        | st AS (SELECT src, dst FROM pw WHERE w >= 2),
        | und AS (SELECT DISTINCT u, v FROM
        |   (SELECT src AS u, dst AS v FROM st UNION ALL SELECT dst, src FROM st)),
        | deg AS (SELECT u, CAST(count(*) AS BIGINT) AS deg FROM und GROUP BY u),
        | cn AS (SELECT w1.v AS a, w2.v AS b, CAST(count(*) AS BIGINT) AS n_common
        |   FROM und w1 JOIN und w2 ON w1.u = w2.u AND w1.v < w2.v
        |   GROUP BY 1, 2),
        | nc AS (SELECT cn.* FROM cn WHERE NOT EXISTS
        |   (SELECT 1 FROM und WHERE und.u = cn.a AND und.v = cn.b))
        |SELECT nc.a, nc.b, nc.n_common,
        | CAST(da.deg * db.deg AS BIGINT) AS pref_attach
        |FROM nc JOIN deg da ON da.u = nc.a JOIN deg db ON db.u = nc.b
        |ORDER BY n_common DESC, a, b LIMIT 20""".stripMargin,
    "graph_clustering_coeff" ->
      """WITH li AS (SELECT l_orderkey, l_linenumber, l_partkey FROM lineitem),
        | pw AS (SELECT a.l_partkey AS src, b.l_partkey AS dst, count(*) AS w
        |   FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |    AND a.l_linenumber + 1 = b.l_linenumber
        |   WHERE a.l_partkey <> b.l_partkey GROUP BY 1, 2),
        | st AS (SELECT src, dst FROM pw WHERE w >= 2),
        | und AS (SELECT DISTINCT u, v FROM
        |   (SELECT src AS u, dst AS v FROM st UNION ALL SELECT dst, src FROM st)),
        | deg AS (SELECT u, CAST(count(*) AS BIGINT) AS deg FROM und GROUP BY u),
        | tri AS (SELECT w1.u, CAST(count(*) AS BIGINT) AS n_tri
        |   FROM und w1 JOIN und w2 ON w1.u = w2.u AND w1.v < w2.v
        |   JOIN und e ON e.u = w1.v AND e.v = w2.v
        |   GROUP BY w1.u)
        |SELECT deg.u AS part, deg.deg, coalesce(tri.n_tri, 0) AS n_tri,
        | round(CASE WHEN deg.deg < 2 THEN 0.0 ELSE
        |   2.0 * coalesce(tri.n_tri, 0) / (deg.deg * (deg.deg - 1)) END, 6) + 0.0 AS coeff
        |FROM deg LEFT JOIN tri ON deg.u = tri.u
        |ORDER BY part""".stripMargin,
    // fixed 60 rounds: past the exact fixed point every extra round is
    // a no-op (min is idempotent), so Spark's change-guard early stop
    // and this over-iteration provably emit identical distances
    "graph_sssp" ->
      """WITH RECURSIVE li AS (SELECT l_orderkey, l_linenumber, l_partkey FROM lineitem),
        | pw AS (SELECT a.l_partkey AS src, b.l_partkey AS dst, count(*) AS w
        |   FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |    AND a.l_linenumber + 1 = b.l_linenumber
        |   WHERE a.l_partkey <> b.l_partkey GROUP BY 1, 2),
        | ce AS (SELECT src, dst, 1000000 // max(w) AS cost FROM
        |   (SELECT src, dst, w FROM pw UNION ALL SELECT dst, src, w FROM pw)
        |   GROUP BY src, dst),
        | deg AS (SELECT src, count(*) AS dg FROM ce GROUP BY src),
        | s0 AS (SELECT src AS sp FROM deg ORDER BY dg DESC, src LIMIT 1),
        | it(iter, part, dist) AS (
        |   SELECT 0, sp, CAST(0 AS BIGINT) FROM s0
        |   UNION ALL
        |   SELECT z.ni, z.part, min(z.nd) FROM (
        |     SELECT p.iter + 1 AS ni, p.part, p.dist AS nd
        |     FROM it p WHERE p.iter < 60
        |     UNION ALL
        |     SELECT p2.iter + 1, ce.dst, p2.dist + ce.cost
        |     FROM it p2 JOIN ce ON p2.part = ce.src WHERE p2.iter < 60
        |   ) z GROUP BY z.ni, z.part
        | ),
        | last AS (SELECT max(iter) AS mi FROM it)
        |SELECT part, dist FROM it, last WHERE iter = last.mi
        |ORDER BY dist, part LIMIT 100""".stripMargin,
    "graph_modularity" ->
      """WITH RECURSIVE li AS (SELECT l_orderkey, l_linenumber, l_partkey FROM lineitem),
        | e0 AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        |   FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |    AND a.l_linenumber + 1 = b.l_linenumber
        |   WHERE a.l_partkey <> b.l_partkey),
        | und AS (SELECT DISTINCT u, v FROM (
        |   SELECT src AS u, dst AS v FROM e0
        |   UNION ALL SELECT dst, src FROM e0)),
        | canon AS (SELECT u, v FROM und WHERE u < v),
        | mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM canon),
        | deg AS (SELECT u, CAST(count(*) AS BIGINT) AS k FROM und GROUP BY u),
        | pw AS (SELECT a.l_partkey AS src, b.l_partkey AS dst, count(*) AS w
        |   FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |    AND a.l_linenumber + 1 = b.l_linenumber
        |   WHERE a.l_partkey <> b.l_partkey GROUP BY 1, 2),
        | st AS (SELECT src, dst FROM pw WHERE w >= 2),
        | snodes AS (SELECT src AS part FROM st UNION SELECT dst FROM st),
        | se AS (SELECT src, dst FROM st UNION ALL SELECT dst, src FROM st),
        | reach(src, dst) AS (
        |   SELECT part, part FROM snodes
        |   UNION
        |   SELECT r.src, se.dst FROM reach r JOIN se ON r.dst = se.src),
        | comp AS (SELECT src AS part, min(dst) AS cid FROM reach GROUP BY src),
        | nodes AS (SELECT DISTINCT u AS part FROM und),
        | lab AS (SELECT nodes.part, coalesce(cid, nodes.part) AS community_id
        |   FROM nodes LEFT JOIN comp ON nodes.part = comp.part),
        | ec AS (SELECT la.community_id, CAST(count(*) AS BIGINT) AS e_in
        |   FROM canon JOIN lab la ON canon.u = la.part
        |   JOIN lab lb ON canon.v = lb.part
        |   WHERE la.community_id = lb.community_id GROUP BY la.community_id),
        | dc AS (SELECT community_id, CAST(sum(k) AS BIGINT) AS d_c,
        |     CAST(count(*) AS BIGINT) AS n_nodes
        |   FROM deg JOIN lab ON deg.u = lab.part GROUP BY community_id)
        |SELECT dc.community_id, n_nodes, d_c,
        |  CAST(coalesce(e_in, 0) AS BIGINT) AS e_in, m,
        |  CAST(4 * m * coalesce(e_in, 0) - d_c * d_c AS BIGINT) AS q_num,
        |  round(CAST(4 * m * coalesce(e_in, 0) - d_c * d_c AS DOUBLE)
        |    / (4.0 * m * m), 8) + 0.0 AS q_cell
        |FROM dc LEFT JOIN ec ON dc.community_id = ec.community_id, mm
        |ORDER BY dc.community_id""".stripMargin,
    // per-neighbor 1e6/ln(deg) rounded BEFORE the pair sum — the only
    // float sums are over pre-rounded integers in both engines
    "graph_adamic_adar" ->
      """WITH li AS (SELECT l_orderkey, l_linenumber, l_partkey FROM lineitem),
        | pw AS (SELECT a.l_partkey AS src, b.l_partkey AS dst, count(*) AS w
        |   FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |    AND a.l_linenumber + 1 = b.l_linenumber
        |   WHERE a.l_partkey <> b.l_partkey GROUP BY 1, 2),
        | st AS (SELECT src, dst FROM pw WHERE w >= 2),
        | und AS (SELECT DISTINCT u, v FROM
        |   (SELECT src AS u, dst AS v FROM st
        |    UNION ALL SELECT dst, src FROM st)),
        | deg AS (SELECT u, CAST(count(*) AS BIGINT) AS deg FROM und
        |  GROUP BY 1),
        | wgt AS (SELECT u, CAST(round(1000000.0 / ln(deg::DOUBLE))
        |    AS BIGINT) AS aa_w FROM deg WHERE deg >= 2),
        | wd AS (SELECT a.v AS a, b.v AS b, wgt.aa_w
        |  FROM und a JOIN und b ON a.u = b.u AND a.v < b.v
        |  JOIN wgt ON wgt.u = a.u),
        | sc AS (SELECT a, b, CAST(count(*) AS BIGINT) AS n_common,
        |    CAST(sum(aa_w) AS BIGINT) AS aa_e6
        |  FROM wd GROUP BY 1, 2),
        | pruned AS (SELECT sc.* FROM sc
        |  LEFT JOIN und ON und.u = sc.a AND und.v = sc.b
        |  WHERE und.u IS NULL)
        |SELECT a, b, n_common, aa_e6 FROM pruned
        |ORDER BY aa_e6 DESC, a, b LIMIT 20""".stripMargin,
    // bounded-walk recursion + min-dist fold: true BFS distances, ecc
    // as their max — the 20 cap is asserted unreached by the spec
    "graph_eccentricity_seeds" ->
      (s"""WITH RECURSIVE $edgeCte,
        | und AS (SELECT DISTINCT u, v FROM
        |   (SELECT src AS u, dst AS v FROM e UNION ALL SELECT dst, src FROM e)),
        | deg AS (SELECT u, count(*) AS dg FROM und GROUP BY u),
        | s0 AS (SELECT u AS seed FROM deg ORDER BY dg DESC, u LIMIT 4),
        | reach(seed, node, dist) AS (
        |   SELECT seed, seed, CAST(0 AS BIGINT) FROM s0
        |   UNION
        |   SELECT r.seed, und.v, r.dist + 1
        |   FROM reach r JOIN und ON r.node = und.u WHERE r.dist < 20),
        | sp AS (SELECT seed, node, min(dist) AS hop FROM reach
        |  GROUP BY 1, 2)
        |SELECT seed, CAST(count(*) AS BIGINT) AS n_reached,
        | CAST(max(hop) AS BIGINT) AS ecc
        |FROM sp GROUP BY seed ORDER BY seed""".stripMargin),
    // same recursive reach, per-node 10^6 div hop floored BEFORE the sum
    "graph_harmonic_seeds" ->
      (s"""WITH RECURSIVE $edgeCte,
        | und AS (SELECT DISTINCT u, v FROM
        |   (SELECT src AS u, dst AS v FROM e UNION ALL SELECT dst, src FROM e)),
        | deg AS (SELECT u, count(*) AS dg FROM und GROUP BY u),
        | s0 AS (SELECT u AS seed FROM deg ORDER BY dg DESC, u LIMIT 4),
        | reach(seed, node, dist) AS (
        |   SELECT seed, seed, CAST(0 AS BIGINT) FROM s0
        |   UNION
        |   SELECT r.seed, und.v, r.dist + 1
        |   FROM reach r JOIN und ON r.node = und.u WHERE r.dist < 20),
        | sp AS (SELECT seed, node, min(dist) AS hop FROM reach
        |  GROUP BY 1, 2)
        |SELECT seed, CAST(count(*) AS BIGINT) AS n_reached,
        | CAST(sum(1000000 // hop) AS BIGINT) AS harmonic_e6,
        | CAST(max(hop) AS BIGINT) AS max_hop
        |FROM sp WHERE hop > 0 GROUP BY seed ORDER BY seed""".stripMargin),
    // unrolled hash-argmin steps — the oracle replays the full 4-step
    // trajectory of every walker
    "graph_frozen_walks" ->
      s"""WITH li AS (SELECT l_orderkey, l_linenumber, l_partkey FROM lineitem),
         | pw AS (SELECT a.l_partkey AS src, b.l_partkey AS dst, count(*) AS w
         |   FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
         |    AND a.l_linenumber + 1 = b.l_linenumber
         |   WHERE a.l_partkey <> b.l_partkey GROUP BY 1, 2),
         | st AS (SELECT src, dst FROM pw WHERE w >= 2),
         | e AS (SELECT src, dst FROM st
         |   UNION SELECT dst AS src, src AS dst FROM st),
         | w0 AS (SELECT src AS start, src AS pos FROM e GROUP BY 1, 2),
         | ${(1 to 4).map(walkStep).mkString(",\n ")}
         |SELECT pos AS part, CAST(count(*) AS BIGINT) AS n_ends
         |FROM w4 GROUP BY 1 ORDER BY part""".stripMargin,
    // unrolled synchronous rounds — the oracle replays the full
    // 3-round trajectory, not just a fixpoint
    "graph_lpa_rounds" ->
      s"""WITH li AS (SELECT l_orderkey, l_linenumber, l_partkey FROM lineitem),
         | pw AS (SELECT a.l_partkey AS src, b.l_partkey AS dst, count(*) AS w
         |   FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
         |    AND a.l_linenumber + 1 = b.l_linenumber
         |   WHERE a.l_partkey <> b.l_partkey GROUP BY 1, 2),
         | st AS (SELECT src, dst FROM pw WHERE w >= 2),
         | e AS (SELECT src, dst FROM st
         |   UNION SELECT dst AS src, src AS dst FROM st),
         | nodes AS (SELECT src AS part FROM e GROUP BY 1),
         | l0 AS (SELECT part, part AS lbl FROM nodes),
         | ${(1 to 3).map(lpaStep).mkString(",\n ")}
         |SELECT part, lbl AS label3 FROM l3 ORDER BY part""".stripMargin,
    "graph_components" ->
      """WITH RECURSIVE li AS (SELECT l_orderkey, l_linenumber, l_partkey FROM lineitem),
        | pw AS (SELECT a.l_partkey AS src, b.l_partkey AS dst, count(*) AS w
        |   FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |    AND a.l_linenumber + 1 = b.l_linenumber
        |   WHERE a.l_partkey <> b.l_partkey GROUP BY 1, 2),
        | st AS (SELECT src, dst FROM pw WHERE w >= 2),
        | nodes AS (SELECT src AS part FROM st UNION SELECT dst FROM st),
        | e AS (SELECT src, dst FROM st UNION ALL SELECT dst, src FROM st),
        | reach(src, dst) AS (
        |   SELECT part, part FROM nodes
        |   UNION
        |   SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src)
        |SELECT src AS part, min(dst) AS component_id
        |FROM reach GROUP BY src ORDER BY part""".stripMargin,
    "graph_pagerank_weighted" ->
      s"""WITH li AS (SELECT l_orderkey, l_linenumber, l_partkey FROM lineitem),
         | pw AS (SELECT a.l_partkey AS src, b.l_partkey AS dst, count(*) AS w
         |   FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
         |    AND a.l_linenumber + 1 = b.l_linenumber
         |   WHERE a.l_partkey <> b.l_partkey GROUP BY 1, 2),
         | p AS (SELECT pw.src, pw.dst, pw.w, wo.wout FROM pw JOIN
         |   (SELECT src, CAST(sum(w) AS BIGINT) AS wout FROM pw GROUP BY src) wo
         |   ON pw.src = wo.src),
         | nodes AS (SELECT src AS part FROM p UNION SELECT dst FROM p),
         | nn AS (SELECT count(*) AS n FROM nodes),
         | r0 AS (SELECT part, 1000000000000 // nn.n AS r FROM nodes CROSS JOIN nn),
         | ${(1 to 5).map(prStepW).mkString(",\n ")}
         |SELECT part, r AS rank_e12 FROM r5
         |ORDER BY r DESC, part LIMIT 20""".stripMargin,
    "graph_ppr_seeds" ->
      s"""WITH $edgeCte,
         | nodes AS (SELECT part, part % 200 = 0 AS is_seed FROM
         |   (SELECT src AS part FROM e UNION SELECT dst FROM e)),
         | sn AS (SELECT CAST(sum(CASE WHEN is_seed THEN 1 ELSE 0 END) AS BIGINT) AS ns
         |   FROM nodes),
         | od AS (SELECT src, count(*) AS outd FROM e GROUP BY src),
         | r0 AS (SELECT part, is_seed,
         |   CASE WHEN is_seed AND sn.ns > 0 THEN 1000000000000 // sn.ns
         |        ELSE 0 END AS r
         |   FROM nodes CROSS JOIN sn),
         | ${(1 to 5).map(prStepSeed).mkString(",\n ")}
         |SELECT part, r AS rank_e12 FROM r5 WHERE r > 0
         |ORDER BY r DESC, part LIMIT 20""".stripMargin,
    "graph_pagerank_parts" -> prPartsOracle,
    // the incremental maintenance path must equal the FULL recompute
    // bit-for-bit, so its oracle IS the full-recompute replay
    "graph_pagerank_incremental" -> prPartsOracle,
    // Adaptive replay: the recursive step re-derives iteration k+1 from
    // the WORKING TABLE (iteration k only — both references see just
    // the last iteration in DuckDB) and is guarded by the previous
    // delta, so DuckDB stops at exactly the same iteration Spark does.
    // NOTE: inside WITH RECURSIVE, DuckDB splits a bare `a UNION b`
    // helper CTE into base/recursive halves and skips the dedup — the
    // node list must be DISTINCT-over-UNION-ALL.
    "graph_pagerank_adaptive" ->
      s"""WITH RECURSIVE $edgeCte,
         | nodes AS (SELECT DISTINCT part FROM
         |   (SELECT src AS part FROM e UNION ALL SELECT dst FROM e)),
         | nn AS (SELECT count(*) AS n FROM nodes),
         | od AS (SELECT src, count(*) AS outd FROM e GROUP BY src),
         | it(iter, part, r, delta) AS (
         |   SELECT 0, part, 1000000000000 // nn.n, 9000000000000000000
         |   FROM nodes CROSS JOIN nn
         |   UNION ALL
         |   SELECT z.iter + 1, z.part, z.rnew,
         |          CAST(sum(abs(z.rnew - z.r)) OVER () AS BIGINT)
         |   FROM (
         |     SELECT p.iter, p.part, p.r,
         |       (15000000000000 // (100 * nn.n))
         |         + (85 * coalesce(c.m, 0)) // 100 AS rnew
         |     FROM it p CROSS JOIN nn
         |     LEFT JOIN (SELECT e.dst AS part,
         |                  CAST(sum(p2.r // od.outd) AS BIGINT) AS m
         |                FROM it p2 JOIN e ON p2.part = e.src
         |                JOIN od ON od.src = e.src
         |                GROUP BY e.dst) c ON c.part = p.part
         |     WHERE p.delta > $AdaptiveThreshold AND p.iter < 100
         |   ) z
         | ),
         | last AS (SELECT max(iter) AS mi FROM it)
         |SELECT part, r AS rank_e12 FROM it, last WHERE iter = last.mi
         |ORDER BY r DESC, part LIMIT 20""".stripMargin,
    "graph_khop_reach" ->
      s"""WITH $edgeCte,
         | und AS (SELECT src AS u, dst AS v FROM e
         |   UNION SELECT dst, src FROM e),
         | seeds AS (SELECT DISTINCT u AS seed FROM und WHERE u % 200 = 0),
         | h1 AS (SELECT DISTINCT seed, v FROM seeds JOIN und ON seed = u),
         | h2 AS (SELECT DISTINCT seed, v FROM (
         |   SELECT h1.seed, und.v FROM h1 JOIN und ON h1.v = und.u
         |   UNION ALL SELECT seed, v FROM h1) WHERE v <> seed)
         |SELECT c1.seed, c1.n_1hop, coalesce(c2.n_2hop, 0) AS n_2hop
         |FROM (SELECT seed, count(*) AS n_1hop FROM h1 WHERE v <> seed GROUP BY seed) c1
         |LEFT JOIN (SELECT seed, count(*) AS n_2hop FROM h2 GROUP BY seed) c2
         | ON c1.seed = c2.seed
         |ORDER BY c1.seed""".stripMargin,
  )
}
