package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scaling probe: replicates the fixture fact tables 1×/4×/16× with
  * key-space offsets (so join cardinalities scale, not multiply), writes
  * them as multi-file parquet, and times four representative plan shapes
  * at each scale — scan+aggregate, fact-fact join, window top-k, and
  * LSH-dedup candidate generation over replicated embeddings (signature
  * width re-sized per scale, so candidate counts should grow ~linearly,
  * not quadratically). Near-linear growth is the evidence that the plans
  * (partial aggs, shuffle joins, WindowGroupLimit, banded LSH) hold as
  * data grows. At the largest scale the fact-fact join plan is dumped to
  * `join_plan_x<k>.txt` — the scale where AQE leaves broadcast for
  * sort-merge. Prints one JSON line per scale.
  * Usage: `runMain graft.Probe scale [k...]` (default 1 4 16).
  */
object ScaleProbe {

  /** Replicates the fact tables of `base` k× for each scale and times
    * the plan shapes on them; replicas are cached under
    * `/tmp/graft_scale/<base name>/x<k>`.
    */
  def run(spark: SparkSession, base: String, scales: Seq[Int]): Unit = {
    val out = s"/tmp/graft_scale/${new java.io.File(base).getName}"

    def replicate(table: String, k: Int, keyCols: Seq[String]): DataFrame = {
      val src = spark.read.parquet(s"$base/$table.parquet")
      val rep = src.crossJoin(spark.range(k).toDF("__rep"))
      keyCols.foldLeft(rep) { (df, c) =>
        df.withColumn(c, col(c) + col("__rep") * 100000000L)
      }.drop("__rep")
    }

    scales.foreach { k =>
      val dir = s"$out/x$k"
      if (!new java.io.File(s"$dir/lineitem.parquet").exists()) {
        replicate("lineitem", k, Seq("l_orderkey"))
          .repartition(32).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
        replicate("orders", k, Seq("o_orderkey", "o_custkey"))
          .repartition(32).write.mode("overwrite").parquet(s"$dir/orders.parquet")
      }
      if (!new java.io.File(s"$dir/embeddings.parquet").exists()) {
        replicate("embeddings", k, Seq("vec_id"))
          .repartition(32).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      }
      if (!new java.io.File(s"$dir/documents.parquet").exists()) {
        replicate("documents", k, Seq("doc_id"))
          .repartition(32).write.mode("overwrite").parquet(s"$dir/documents.parquet")
      }
      val li = spark.read.parquet(s"$dir/lineitem.parquet")
      val ord = spark.read.parquet(s"$dir/orders.parquet")
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")

      def time(thunk: => Long): Double = {
        thunk // warm (footer/codegen caches)
        val t0 = System.nanoTime(); thunk; (System.nanoTime() - t0) / 1e9
      }

      val tAgg = time {
        li.groupBy("l_returnflag", "l_linestatus")
          .agg(sum("l_quantity"), avg("l_extendedprice"), count(lit(1))).count()
      }
      val tJoin = time {
        li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .groupBy("o_orderpriority")
          .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))).count()
      }
      val tWin = time {
        val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey"))
        ord.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3).count()
      }
      // PageRank scaling: replicate lineitem with BOTH orderkey and
      // partkey offset, so the co-purchase graph's nodes AND edges grow
      // ~k× (offsetting only the orderkey would collapse every replica's
      // part pairs in the distinct). Edge/degree/node tables are
      // checkpointed first — the iteration references them five times —
      // and only the 5-iteration fixed-point loop is timed. Time must
      // track edges ~linearly: each iteration is one equi-join + one
      // keyed aggregate, and a shape that concentrated rank rows or
      // fanned out non-equi would grow super-linearly.
      if (!new java.io.File(s"$dir/lineitem_g.parquet").exists()) {
        replicate("lineitem", k, Seq("l_orderkey", "l_partkey"))
          .repartition(32).write.mode("overwrite").parquet(s"$dir/lineitem_g.parquet")
      }
      val eG = graft.ops.Graph.edgesFrom(
        spark.read.parquet(s"$dir/lineitem_g.parquet"))
      val eoG = eG.join(eG.groupBy("src").agg(count(lit(1)).as("outd")), "src")
        .localCheckpoint(true)
      val nodesG = eoG.select(col("src").as("part"))
        .union(eoG.select(col("dst").as("part"))).distinct()
        .localCheckpoint(true)
      val nEdges = eoG.count()
      val tPr = time {
        graft.ops.Graph.pageRankLoop(eoG, nodesG).count()
      }
      // Adaptive-loop probe: per-iteration seconds must stay FLAT across
      // iterations (per-step lineage truncation — a loop whose plan
      // deepened each round would show times growing with the iteration
      // index), and per-iteration cost must track edges ~linearly across
      // scales like the fixed loop.
      val iterTimes = scala.collection.mutable.ArrayBuffer[(Int, Long, Double)]()
      val (prA, aIters, _) = graft.ops.Graph.pageRankLoopAdaptive(
        eoG, nodesG, onIter = (it, dl, sec) => { iterTimes += ((it, dl, sec)); () })
      prA.count()
      val iterJson = iterTimes.map { case (it, dl, sec) =>
        f"""{"iter":$it,"delta":$dl,"sec":$sec%.3f}""" }.mkString("[", ",", "]")

      // Bounded-round iterative ops (r13): 3-round LPA and the 4-step
      // frozen walks over the strong (w>=2) graph of the SAME doubly-
      // offset lineitem replica. Round count is fixed by construction,
      // labels/walkers pin per round (constant-depth lineage) — wall
      // must track edges ~linearly, like the PageRank loops above.
      val liGS = spark.read.parquet(s"$dir/lineitem_g.parquet")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"))
      val stGS = liGS.as("a").join(liGS.as("b"),
          col("a.l_orderkey") === col("b.l_orderkey") &&
            col("a.l_linenumber") + 1 === col("b.l_linenumber"))
        .select(col("a.l_partkey").as("src"), col("b.l_partkey").as("dst"))
        .filter(col("src") =!= col("dst"))
        .groupBy("src", "dst").agg(count(lit(1)).as("w"))
        .filter(col("w") >= 2)
        .select("src", "dst")
      val symG = stGS
        .union(stGS.select(col("dst").as("src"), col("src").as("dst")))
        .distinct().localCheckpoint(true)
      val nStrongSym = symG.count()
      val tLpa = time { graft.ops.Graph.lpaLoop(symG).count() }
      val tWalk = time { graft.ops.Graph.walkLoop(symG).count() }

      // LSH dedup: replicated corpora are exactly the near-dup-heavy case;
      // bits re-sized per scale keeps expected bucket size constant, so the
      // candidate count (and the timing) should track n, not n²
      val nEmb = emb.count()
      val bits = math.max(4,
        math.ceil(math.log(nEmb.toDouble / 32) / math.log(2.0)).toInt)
      var cands = 0L
      val tLsh = time {
        cands = graft.ops.Similarity.annLshCandidates(emb, 4, bits, 256).count()
        cands
      }
      if (k == scales.max) {
        val plan = li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .groupBy("o_orderpriority")
          .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))))
          .queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$out/join_plan_x$k.txt"), plan)

        // Skew probe: remap 25% of lineitem onto one existing orderkey and
        // join — one shuffle partition carries ~k/4 of the fact table. AQE
        // skew-join must split it; measured off-vs-on plus the executed
        // plan's "skew=true" marker is the evidence. Thresholds are scaled
        // to the local data (the 256 MB default is cluster-sized).
        val hot = ord.select("o_orderkey").orderBy("o_orderkey").limit(1)
          .collect()(0).getLong(0)
        val skewed = li.withColumn("l_orderkey",
          when(pmod(col("l_orderkey"), lit(4)) === 0, lit(hot))
            .otherwise(col("l_orderkey")))
        def skewQuery() = skewed.join(ord, col("l_orderkey") === col("o_orderkey"))
          .groupBy("o_orderpriority")
          .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))))
        val saved = Seq(
          "spark.sql.adaptive.skewJoin.enabled",
          "spark.sql.adaptive.advisoryPartitionSizeInBytes",
          "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        ).map(c => c -> spark.conf.getOption(c))
        try {
          // shuffle bytes are lz4-compressed and the hot partition is
          // highly repetitive, so thresholds scale WAY below the 256 MB
          // cluster default for a local-mode probe
          spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m")
          spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8m")
          spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
          val tOff = time(skewQuery().count())
          spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
          val tOn = time(skewQuery().count())
          // drive THIS QueryExecution (df.count() builds a separate one
          // whose adaptive plan never finalizes -> marker always absent)
          val qe = skewQuery().queryExecution
          qe.toRdd.count()
          val skewMarked = qe.executedPlan.toString.contains("skew=true")
          println(s"""{"scale":$k,"skew_probe":{"hot_key_share":0.25,""" +
            s""""skewjoin_off_sec":$tOff,"skewjoin_on_sec":$tOn,"plan_skew_marker":$skewMarked}}""")
        } finally saved.foreach {
          case (c, Some(v)) => spark.conf.set(c, v)
          case (c, None)    => spark.conf.unset(c)
        }

        // Large-k IVF assignment probe: ANN's k ≈ √n rule puts k ≈ 512 at
        // this replicated corpus size — far past literalAssignMaxK, so
        // training and assignment dispatch to the broadcast-join +
        // bounded top-nprobe aggregate path whose plan is O(1) in k.
        // Single timed runs (training already warms scan/codegen caches);
        // the formatted plan is dumped for the codegen audit (scoring
        // must sit in a WholeStageCodegen span; the top-nprobe reduce is
        // ObjectHashAggregate by design — bounded buffer, partial aggs).
        val tTrain0 = System.nanoTime()
        val model512 = graft.ops.Similarity.trainQuantizer(emb, iters = 1, k = 512)
        val tTrain = (System.nanoTime() - tTrain0) / 1e9
        val assigned512 = graft.ops.Similarity.assignCellsJoined(emb, model512, 1)
        val qeA = assigned512.queryExecution
        val tAssign0 = System.nanoTime()
        qeA.toRdd.count()
        val tAssign = (System.nanoTime() - tAssign0) / 1e9
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$out/ivf_assign_k512_x$k.txt"),
          qeA.explainString(org.apache.spark.sql.execution.FormattedMode))
        println(s"""{"scale":$k,"ivf_assign_probe":{"k":512,""" +
          s""""model_cells":${model512.size},"train_sec":$tTrain,"assign_sec":$tAssign}}""")
      }
      // Incremental-dedup probe: a FIXED batch (the base sf0.1 20% slice)
      // probed against a corpus replicated k× — the nightly-ingestion
      // shape. The replica offset is a multiple of 10, so id%10 splits
      // consistently and every corpus replica keeps its near-dup text.
      // Time must track corpus size ~linearly (corpus band build is one
      // scan; the batch×corpus work is bucket-bounded) — a corpus×corpus
      // or all-pairs shape would grow ~k².
      val docsBase = spark.read.parquet(s"$base/documents.parquet")
      val batchDocs = docsBase.filter(pmod(col("doc_id"), lit(10L)) >= 8)
      val corpDocs = spark.read.parquet(s"$dir/documents.parquet")
        .filter(pmod(col("doc_id"), lit(10L)) < 8)
      val nCorp = corpDocs.count()
      var incMatches = 0L
      val tInc = time {
        val cand = graft.ops.Dedup.lshCandidatePairsAcross(
          graft.ops.Dedup.minHashBands(batchDocs, "doc_id", "text", 16, 2),
          graft.ops.Dedup.minHashBands(corpDocs, "doc_id", "text", 16, 2),
          "doc_id")
        val sets = docsBase.unionAll(spark.read.parquet(s"$dir/documents.parquet"))
          .dropDuplicates("doc_id")
          .select(col("doc_id"), array_distinct(
            graft.ops.Dedup.wordShingles(split(col("text"), " "))).as("sset"))
        incMatches = cand
          .join(sets.select(col("doc_id").as("id_a"), col("sset").as("set_a")), "id_a")
          .join(sets.select(col("doc_id").as("id_b"), col("sset").as("set_b")), "id_b")
          .filter(graft.ops.Dedup.jaccard(col("set_a"), col("set_b")) >= 0.6)
          .count()
        incMatches
      }
      // Global-rank probe (r7): the two-pass Prefix shape vs the
      // single-partition global window over the SAME customer aggregate
      // (rank + exact-cents running sum — the agg_pareto_customers
      // shape). The prefix path must track |customers| ~linearly with
      // bounded per-task state; the global window concentrates every
      // row in one task, and its widening gap with scale is the
      // measured justification for the r7 rewrite.
      val revP = ord.groupBy(col("o_custkey").as("custkey"))
        .agg(round(sum("o_totalprice"), 2).as("revenue"))
        .withColumn("cents", round(col("revenue") * 100).cast("long"))
      // reduce over the WINDOWED columns — a bare count() would let the
      // optimizer prune the unreferenced window/prefix work entirely
      val custRows = revP.count()
      val tPrefix = time {
        graft.ops.Prefix.running(revP,
            Seq(col("revenue").desc, col("custkey").asc),
            rankOut = Some("rk"), sums = Seq(col("cents") -> "cum"))
          .agg(sum(pmod(col("rk") + col("cum"), lit(1000000007L)))).head().getLong(0)
      }
      val tGlobalWin = time {
        val w = Window.orderBy(col("revenue").desc, col("custkey"))
        revP.withColumn("rk", row_number().over(w).cast("long"))
          .withColumn("cum",
            sum("cents").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .agg(sum(pmod(col("rk") + col("cum"), lit(1000000007L)))).head().getLong(0)
      }
      // PQ probe: codebook training + full-corpus encoding over the
      // replicated vectors. Per-iteration cost is one corpus pass against
      // an m·k-row broadcast, so both timings must track corpus size
      // ~linearly — superlinear growth would mean the encode stopped
      // being a broadcast-join + bounded argmin aggregate.
      val embP = spark.read.parquet(s"$dir/embeddings.parquet")
      val tPqT0 = System.nanoTime()
      val pqModel = graft.ops.Similarity.trainPq(spark, embP)
      val tPqTrain = (System.nanoTime() - tPqT0) / 1e9
      var pqRows = 0L
      val tPqEnc = time {
        pqRows = graft.ops.Similarity.pqEncode(spark, embP, pqModel).count()
        pqRows
      }
      // Bipartite-projection probe (r8): the graph-replicated lineitem
      // (orderkeys AND partkeys offset per replica) joined to the
      // replicated orders (custkeys offset) — parts and customers BOTH
      // grow ~k×, per-part customer degree stays constant, so the
      // df-capped self-join's pair count and time must track k
      // ~linearly. Uncapped hub growth (or replicas collapsing onto
      // shared parts) would show pairs ~k² — the failure mode the
      // ≤64-customer cap exists to prevent at corpus scale.
      val liG2 = spark.read.parquet(s"$dir/lineitem_g.parquet")
      var projPairs = 0L
      val tProj = time {
        val cp = liG2.select("l_orderkey", "l_partkey")
          .join(ord.select(col("o_orderkey").as("l_orderkey"), col("o_custkey")), "l_orderkey")
          .select(col("l_partkey").as("part"), col("o_custkey").as("cust")).distinct()
        val keep = cp.groupBy("part").agg(count(lit(1)).as("pdeg"))
          .filter(col("pdeg") <= 64).select("part")
        val capped = cp.join(keep, "part")
        projPairs = capped.select(col("part"), col("cust").as("a"))
          .join(capped.select(col("part"), col("cust").as("b")), Seq("part"))
          .filter(col("a") < col("b"))
          .groupBy("a", "b").agg(count(lit(1)).as("n")).count()
        projPairs
      }
      // Modularity probe (r8): the full label+cell pipeline over the
      // graph-replicated lineitem — replicas are key-disjoint, so edges,
      // communities and degree mass all grow ~k× while per-community
      // shapes stay constant; time must track the CC star-contraction
      // (the dominant stage), i.e. ~linearly in k, never k² (the
      // three label joins are all keyed equi-joins).
      var modCommunities = 0L
      val tMod = time {
        val e0 = graft.ops.Graph.edgesFrom(liG2)
        val und = e0.select(col("src").as("u"), col("dst").as("v"))
          .union(e0.select(col("dst").as("u"), col("src").as("v"))).distinct()
        val canon = und.filter(col("u") < col("v"))
        val strong = liG2.select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"))
          .as("a").join(
            liG2.select(col("l_orderkey"), col("l_linenumber"), col("l_partkey")).as("b"),
            col("a.l_orderkey") === col("b.l_orderkey") &&
              col("a.l_linenumber") + 1 === col("b.l_linenumber"))
          .select(col("a.l_partkey").as("src"), col("b.l_partkey").as("dst"))
          .filter(col("src") =!= col("dst"))
          .groupBy("src", "dst").agg(count(lit(1)).as("w"))
          .filter(col("w") >= 2)
        val snodes = strong.select(col("src").as("part"))
          .union(strong.select(col("dst").as("part"))).distinct()
        val comp = graft.ops.Dedup.connectedGroups(
          strong.select(col("src").as("id_a"), col("dst").as("id_b")), snodes, "part")
          .select(col("id").as("part"), col("group_id").as("community_id"))
        val lab = und.select(col("u").as("part")).distinct()
          .join(comp, Seq("part"), "left")
          .select(col("part"),
            coalesce(col("community_id"), col("part")).as("community_id"))
        val mRow = canon.agg(count(lit(1)).as("m"))
        val ec = canon
          .join(lab.select(col("part").as("u"), col("community_id").as("ca")), "u")
          .join(lab.select(col("part").as("v"), col("community_id").as("cb")), "v")
          .filter(col("ca") === col("cb"))
          .groupBy(col("ca").as("community_id")).agg(count(lit(1)).as("e_in"))
        val dc = und.groupBy("u").agg(count(lit(1)).as("k"))
          .join(lab, col("u") === col("part"))
          .groupBy("community_id").agg(sum("k").as("d_c"))
        modCommunities = dc.join(ec, Seq("community_id"), "left")
          .crossJoin(broadcast(mRow)).count()
        modCommunities
      }
      // Incremental-CC probe (r9): chain components of 100 docs over the
      // replicated id space, 1% of ids (i % 1000 < 10) as the delta
      // batch. "Yesterday's" base groups are prebuilt (checkpointed,
      // untimed — a production run READS them). The operational claim
      // is the CC INPUT ratio: the full rerun star-contracts every edge
      // (~1 per doc), while the merge's CC sees only the contracted
      // {delta ∪ touched-root} graph — delta-sized at every scale, so
      // the edge counts (exact, deterministic) are the evidence that
      // the touched subgraph, not the corpus, pays for the update. Both
      // are also timed, but at toy scale BOTH paths collapse into the
      // bounded local finish (edges << localFinishMaxEdges), so
      // wall-clock is fixed scheduling overhead, not data volume — the
      // edge ratio is what predicts the 100 TB behavior.
      val docsX = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id")).localCheckpoint(true)
      val chainE = docsX.select(col("doc_id").as("id_a"),
          (col("doc_id") + 1).as("id_b"))
        .filter(pmod(col("id_a"), lit(100L)) =!= 99)
        .join(docsX.select(col("doc_id").as("id_b")), Seq("id_b"))
        .localCheckpoint(true)
      def isDeltaId(c: org.apache.spark.sql.Column) = pmod(c, lit(1000L)) < 10
      val baseDocsX = docsX.filter(!isDeltaId(col("doc_id")))
      val deltaDocsX = docsX.filter(isDeltaId(col("doc_id")))
      val baseGroupsX = graft.ops.Dedup.connectedGroups(
        chainE.filter(!isDeltaId(col("id_a")) && !isDeltaId(col("id_b"))),
        baseDocsX, "doc_id").localCheckpoint(true)
      val deltaPairsX = chainE.filter(
        isDeltaId(col("id_a")) || isDeltaId(col("id_b")))
      val ga = baseGroupsX.select(col("id").as("id_a"), col("group_id").as("gca"))
      val gb = baseGroupsX.select(col("id").as("id_b"), col("group_id").as("gcb"))
      val inccFullEdges = chainE.count()
      val inccContractedEdges = deltaPairsX
        .join(ga, Seq("id_a"), "left").join(gb, Seq("id_b"), "left")
        .select(coalesce(col("gca"), col("id_a")).as("a"),
          coalesce(col("gcb"), col("id_b")).as("b"))
        .filter(col("a") =!= col("b")).count()
      var inccTouched = 0L
      val tInccFull = time {
        graft.ops.Dedup.connectedGroups(chainE, docsX, "doc_id").count()
      }
      val tInccMerge = time {
        val r = graft.ops.Dedup.incrementalMerge(
          baseGroupsX, deltaPairsX, deltaDocsX, "doc_id")
          .localCheckpoint(false)
        inccTouched = r.filter(col("is_delta") || col("relabeled")).count()
        r.count()
      }
      // Incremental-PageRank maintenance probe (r10): the graph-
      // replicated fact table splits by order (90% base / 10% delta
      // batch — the replication offset is ≡ 0 mod 10, so the split is
      // scale-stable). Yesterday's base edge/degree table is prebuilt
      // (checkpointed, untimed — a production run READS it). Timed
      // head-to-head: (a) the FULL re-derivation (fact self-join +
      // distinct + degree join + write-back) vs (b) the incremental
      // merge (delta-only self-join + anti-join against the pinned
      // base + broadcast degree patch + the same write-back). The
      // merge's only corpus-sized work is one map-side patch pass and
      // the write-back repartition — never the fact self-join — so its
      // time must stay well under (a) at every scale, and the
      // new-edge count is the delta-sized evidence. The rank loop
      // itself is identical on both paths (bit-equal by GraphSpec), so
      // maintenance is the entire difference.
      val liBase = spark.read.parquet(s"$dir/lineitem_g.parquet")
        .filter(pmod(col("l_orderkey"), lit(10L)) =!= 0)
      val liDelta = spark.read.parquet(s"$dir/lineitem_g.parquet")
        .filter(pmod(col("l_orderkey"), lit(10L)) === 0)
      val eBaseX = graft.ops.Graph.edgesFrom(liBase)
      // pinLayout, not a bare localCheckpoint: the merge's claim is
      // that its joins PROBE the base without re-exchanging it, which
      // requires the pinned table to actually carry its
      // hashpartitioning(src) — under AQE a plain checkpoint captures
      // Unknown partitioning and every merge join silently re-shuffles
      // the corpus-sized base (the same lesson the r9 pagerank fix
      // recorded; the real path's Materialized(layout=true) does this)
      val baseEoX = graft.io.Checkpoints.pinLayout(eBaseX
        .join(eBaseX.groupBy("src").agg(count(lit(1)).as("outd")), "src")
        .repartition(32, col("src")))
      var prmNewEdges = 0L
      val tPrmFullDerive = time {
        val e = graft.ops.Graph.edgesFrom(
          spark.read.parquet(s"$dir/lineitem_g.parquet"))
        e.join(e.groupBy("src").agg(count(lit(1)).as("outd")), "src")
          .repartition(32, col("src")).localCheckpoint(true).count()
      }
      val tPrmMerge = time {
        val newE = graft.ops.Graph.edgesFrom(liDelta)
          .join(baseEoX.select("src", "dst"), Seq("src", "dst"), "left_anti")
          .localCheckpoint(true)
        prmNewEdges = newE.count()
        graft.ops.Graph.mergeEdges(baseEoX, newE)
          .repartition(32, col("src")).localCheckpoint(true).count()
      }
      // Duplicate-span probe (r11): the replicated corpus is the
      // PATHOLOGICAL case for text_dup_spans — every document has k−1
      // bit-identical replicas, so at k ≥ 2 essentially EVERY 5-gram is
      // duplicated and every position is flagged (output ≈ corpus
      // size). Time must still track the gram count ~linearly: gram
      // generation, the gram-keyed aggregate, the join-back and the
      // per-doc island merge are each one pass — a shape that exploded
      // on the duplicated-gram fan-in (e.g. joining flagged grams back
      // as pairs) would go ~k² exactly here.
      var spanRows = 0L
      val tSpan = time {
        spanRows = graft.ops.TextOps.dupSpans(spark, dir).count()
        spanRows
      }
      // Gram-table shuffle-width receipt (r12): the dup-span gram table
      // shuffles xxhash64 keys, not strings — record rows and the
      // byte arithmetic per scale: hashed key traffic = rows x 8 vs the
      // string-keyed counterfactual rows x avg(gram bytes). The claim
      // that matters at 100 TB is that the ratio is constant in corpus
      // size (both grow with rows; only the WIDTH differs).
      val gramStats = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
        .filter(size(col("ws")) >= 5)
        .select(explode(expr(
          "transform(sequence(1, size(ws) - 4), i -> " +
            "octet_length(array_join(slice(ws, i, 5), ' ')))")).as("glen"))
        .agg(count(lit(1)).as("rows"), sum("glen").as("strBytes"))
        .head()
      val gramRows = gramStats.getLong(0)
      val gramStrBytes = gramStats.getLong(1)
      // A-Priori triple probe (r11): the graph-replicated lineitem
      // (order AND part keys offset — replicas key-disjoint) keeps
      // per-replica basket structure identical, so frequent-triple
      // counts per replica are scale-invariant and output rows grow
      // ~k×. Time must track k: every stage is an equi-join or keyed
      // aggregate over replica-local keys. (The orderkey-only replica
      // would be WRONG here: shared partkeys inflate every pair/triple
      // support k×, degrading the fixed absolute threshold to
      // all-pairs-frequent — a fixture artifact, not a plan property.)
      var triRows = 0L
      val tTri = time {
        val bk = liG2.select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
          .distinct()
        val inB = bk.select(col("ok"), col("pk").as("a"))
          .join(bk.select(col("ok"), col("pk").as("b")), Seq("ok"))
          .filter(col("a") < col("b")).localCheckpoint(false)
        val fp = inB.groupBy("a", "b").agg(count(lit(1)).as("n"))
          .filter(col("n") >= 2).select("a", "b")
        val occ = inB.join(fp, Seq("a", "b"))
        val ext = occ.join(bk.select(col("ok"), col("pk").as("c")), Seq("ok"))
          .filter(col("b") < col("c"))
          .join(fp.select(col("a"), col("b").as("c")), Seq("a", "c"), "left_semi")
          .join(fp.select(col("a").as("b"), col("b").as("c")), Seq("b", "c"), "left_semi")
        triRows = ext.groupBy("a", "b", "c").agg(count(lit(1)).as("n"))
          .filter(col("n") >= 2).count()
        triRows
      }
      // ER blocking probe (r12, verdict tasks 1+7): parts replicated
      // with REPLICA-DISJOINT name tokens (every token gets a ~rep
      // suffix) — the honest ER scale model: a growing corpus means
      // more ENTITIES, i.e. a growing name vocabulary, not k copies of
      // one catalog. Receipts per scale: candidate work of the shipped
      // brand x token-band blocking (must grow ~k — block count grows
      // with the vocabulary) vs the retired brand-only blocking (grows
      // exactly k² — 25 fixed blocks each k x larger), both computed
      // EXACTLY from block histograms (sum of C(n,2), no giant join to
      // count); wall time of the banded >=0.9 pair derivation; and the
      // CC contraction of those pairs with the bounded local finish
      // DISABLED so the distributed round count is visible — it must
      // stay flat (O(log² component), components here are per-replica).
      if (!new java.io.File(s"$dir/part_er.parquet").exists()) {
        spark.read.parquet(s"$base/part.parquet")
          .crossJoin(spark.range(k).toDF("__rep"))
          .withColumn("p_partkey", col("p_partkey") + col("__rep") * 100000000L)
          .withColumn("p_name", array_join(
            transform(split(col("p_name"), " "),
              t => concat(t, lit("~"), col("__rep"))), " "))
          .drop("__rep")
          .repartition(32).write.mode("overwrite").parquet(s"$dir/part_er.parquet")
      }
      val partEr = spark.read.parquet(s"$dir/part_er.parquet")
        .select(col("p_brand"), col("p_partkey"), col("p_name"))
      val erParts = partEr.count()
      def sumPairs(counts: DataFrame): Long = counts
        .agg(sum(col("n") * (col("n") - 1))).head().getLong(0) / 2
      val erBrandCand = sumPairs(
        partEr.groupBy("p_brand").agg(count(lit(1)).as("n")))
      // the SHIPPED blocking (r13: three bands incl. the 4-char prefix),
      // not an inline copy that could drift from it
      val erBanded = graft.ops.EntityRes.banded(partEr)
      val erBandedCand = sumPairs(
        erBanded.groupBy("p_brand", "blk").agg(count(lit(1)).as("n")))
      var erPairs09 = 0L
      val tErPairs = time {
        val a = erBanded.select(col("blk"), col("p_brand"),
          col("p_partkey").as("key_a"), col("p_name").as("name_a"))
          .repartition(32, col("p_brand"), col("blk"))
        val b = erBanded.select(col("blk").as("blk_b"), col("p_brand").as("brand_b"),
          col("p_partkey").as("key_b"), col("p_name").as("name_b"))
          .repartition(32, col("brand_b"), col("blk_b"))
        erPairs09 = a.join(b,
            col("p_brand") === col("brand_b") && col("blk") === col("blk_b"))
          .filter(col("key_a") < col("key_b"))
          .filter(round(call_function("jaro_winkler",
            col("name_a"), col("name_b")) * 1e6).cast("long") >= 900000L)
          .select(col("key_a"), col("key_b")).distinct().count()
        erPairs09
      }
      val erPairTbl = {
        val a = erBanded.select(col("blk"), col("p_brand"),
          col("p_partkey").as("key_a"), col("p_name").as("name_a"))
        val b = erBanded.select(col("blk").as("blk_b"), col("p_brand").as("brand_b"),
          col("p_partkey").as("key_b"), col("p_name").as("name_b"))
        a.join(b, col("p_brand") === col("brand_b") && col("blk") === col("blk_b"))
          .filter(col("key_a") < col("key_b"))
          .filter(round(call_function("jaro_winkler",
            col("name_a"), col("name_b")) * 1e6).cast("long") >= 900000L)
          .select(col("key_a").as("id_a"), col("key_b").as("id_b")).distinct()
          .localCheckpoint(true)
      }
      var erCcRounds = 0
      var erGroups = 0L
      val tErCc = time {
        val (g, rounds) = graft.ops.Dedup.connectedGroupsWithStats(
          erPairTbl, partEr.select(col("p_partkey")), "p_partkey",
          localFinishEdges = 0L)
        erCcRounds = rounds
        erGroups = g.select("group_id").distinct().count()
        erGroups
      }
      // Subtree-rollup probe (r12): decimal-radix tree over 15k·k
      // synthetic nodes (the graph_subtree_rollup shape). Pointer
      // doubling runs a FIXED four rounds at every scale — depth grows
      // +1 per 10× nodes, rounds = ⌈log₂ depth⌉ — so closure rows must
      // track N·depth (≈ N·log₁₀N) and wall ~N; a per-level iterative
      // walk would add rounds with scale, an all-pairs ancestor join
      // would grow N·N.
      val treeN = 15000L * k
      val treeNodes = spark.range(treeN).select(col("id")).localCheckpoint(true)
      var closureRows = 0L
      val tTree = time {
        val par = treeNodes.withColumn("pid", expr("id div 10"))
        var anc = par.select(col("id").as("n"), col("id").as("a"))
          .unionAll(par.filter(col("pid") =!= col("id"))
            .select(col("id").as("n"), col("pid").as("a")))
        var jump = par.select(col("id").as("ji"), col("pid").as("jp"))
          .localCheckpoint(true)
        for (_ <- 1 to 4) {
          anc = anc.unionAll(anc.join(jump, col("a") === col("ji"))
              .select(col("n"), col("jp").as("a"))).distinct()
            .localCheckpoint(true)
          val j2 = jump.select(col("ji").as("j2i"), col("jp").as("j2p"))
          jump = jump.join(j2, col("jp") === col("j2i"))
            .select(col("ji"), col("j2p").as("jp")).localCheckpoint(true)
        }
        closureRows = anc.count()
        closureRows
      }
      val rows = li.count()
      println(s"""{"scale":$k,"tree_nodes":$treeN,"tree_closure_rows":$closureRows,"tree_sec":$tTree,"er_parts":$erParts,"er_banded_cand":$erBandedCand,"er_brand_cand":$erBrandCand,"er_pairs09":$erPairs09,"er_pairs_sec":$tErPairs,"er_cc_rounds":$erCcRounds,"er_cc_groups":$erGroups,"er_cc_sec":$tErCc,"dupspan_gram_rows":$gramRows,"dupspan_gram_str_bytes":$gramStrBytes,"dupspan_gram_hash_bytes":${gramRows * 8},"dupspan_rows":$spanRows,"dupspan_sec":$tSpan,"tri_rows":$triRows,"tri_sec":$tTri,"lineitem_rows":$rows,"agg_sec":$tAgg,"join_sec":$tJoin,"window_sec":$tWin,"emb_rows":$nEmb,"lsh_bits":$bits,"lsh_candidates":$cands,"lsh_sec":$tLsh,"inc_corpus_rows":$nCorp,"inc_verified":$incMatches,"inc_sec":$tInc,"pq_train_sec":$tPqTrain,"pq_encode_sec":$tPqEnc,"pq_code_rows":$pqRows,"rank_rows":$custRows,"rank_prefix_sec":$tPrefix,"rank_globalwin_sec":$tGlobalWin,"graph_edges":$nEdges,"pagerank_sec":$tPr,"strong_sym_edges":$nStrongSym,"lpa3_sec":$tLpa,"walk4_sec":$tWalk,"pagerank_adaptive_iters":$aIters,"pagerank_adaptive_iter_times":$iterJson,"proj_pairs":$projPairs,"proj_sec":$tProj,"mod_communities":$modCommunities,"mod_sec":$tMod,"incc_docs":${docsX.count()},"incc_touched":$inccTouched,"incc_full_edges":$inccFullEdges,"incc_contracted_edges":$inccContractedEdges,"incc_full_sec":$tInccFull,"incc_merge_sec":$tInccMerge,"prmaint_new_edges":$prmNewEdges,"prmaint_full_derive_sec":$tPrmFullDerive,"prmaint_merge_sec":$tPrmMerge}""")
    }
  }
}
