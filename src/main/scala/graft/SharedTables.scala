package graft

import org.apache.spark.sql.SparkSession

/** Registry of every [[graft.io.Materialized]] shared intermediate, for
  * order-independent benchmarking.
  *
  * The session cache is the right production shape (the edge table is
  * built once and every traversal reuses it), but it makes per-query
  * timings ORDER-DEPENDENT: whichever query touches a shared table
  * first pays its build (observed 6×: `graph_pagerank_parts` 1.3 s warm
  * vs 8.1 s when it happened to run first). `graft.Bench` therefore
  * pre-builds every entry here in a separately-timed materialization
  * phase and reports it as `materialization_sec`, so the per-query
  * numbers are warm-path and comparable across runs regardless of
  * query order.
  *
  * Completeness is enforced by `SharedTablesSpec`: constructing every
  * `SparkEntry` query must create no Materialized entry beyond the ones
  * this registry builds — a new `Materialized.of` site without a
  * registry row fails the build.
  */
object SharedTables {

  /** (label, builder): builder triggers the eager materialization via
    * `Materialized.of` — each is idempotent per (session, fixture).
    * [[warmAll]] builds the rows in this order, then the [[models]] rows:
    * every row comes after each row its build reads, so on an overlapped
    * warm a dependent that starts early waits for its dependency instead
    * of building it. `SharedTablesSpec` checks the order: built one at a
    * time, each row adds exactly one cache entry.
    */
  val entries: Seq[(String, (SparkSession, String) => Unit)] = Seq(
    // roots: raw-fact builds
    "graph-wedges" -> ((s, d) => { ops.Graph.weightedEdges(s, d); () }),
    "graph-base-edges" -> ((s, d) => { ops.Graph.baseEdges(s, d); () }),
    "ngramJaccardPairs" -> ((s, d) => { ops.TextOps.ngramJaccardPairsRaw(s, d); () }),
    "shingleSets" -> ((s, d) => { ops.TextOps.shingleSetsRaw(s, d); () }),
    "miningBaskets" -> ((s, d) => { ops.Mining.basketsRaw(s, d); () }),
    "erPairs09" -> ((s, d) => { ops.EntityRes.pairs09Raw(s, d); () }),
    "kmeansQv" -> ((s, d) => { ops.Similarity.quantEmb(s, d); () }),
    "audit-histogram" -> ((s, d) => { ops.Audit.equidepthHistRaw(s, d); () }),
    "dedupEmbeddingCosine" -> ((s, d) => { ops.Similarity.dedupEmbeddingCosineRaw(s, d); () }),
    // derivations
    "graph-edges" -> ((s, d) => { ops.Graph.edgesWithDeg(s, d); () }),
    "graph-strong" -> ((s, d) => { ops.Graph.strongEdges(s, d); () }),
    "graph-base-nodes" -> ((s, d) => { ops.Graph.baseNodes(s, d); () }),
    "graph-inc-delta" -> ((s, d) => { ops.Graph.deltaNewEdges(s, d); () }),
    "minhashPairs" -> ((s, d) => { ops.TextOps.minhashVerifiedPairs(s, d); () }),
    "miningPairCounts" -> ((s, d) => { ops.Mining.pairCountsRaw(s, d); () }),
    "dedupEmbeddingBaseGroups" -> ((s, d) => { ops.Similarity.dedupEmbeddingBaseGroupsRaw(s, d); () }),
    "textDedupBaseGroups" -> ((s, d) => { ops.TextOps.textDedupBaseGroupsRaw(s, d); () }),
    "graph-nodes" -> ((s, d) => { ops.Graph.nodeTable(s, d); () }),
    "graph-und" -> ((s, d) => { ops.Graph.undirectedEdges(s, d); () }),
    "graph-inc-edges" -> ((s, d) => { ops.Graph.incEdges(s, d); () }),
    "textDedupGroups" -> ((s, d) => { ops.TextOps.textDedupGroupsRaw(s, d); () }),
    "dedupEmbeddingGroups" -> ((s, d) => { ops.Similarity.dedupEmbeddingGroups(s, d); () }),
    "graph-bfs-seeds" -> ((s, d) => { ops.Graph.bfsSeedsVisited(s, d); () }),
    "graph-inc-nodes" -> ((s, d) => { ops.Graph.incNodes(s, d); () }),
  )

  /** Persisted [[graft.io.ModelStore]] artifacts, warmed alongside the
    * Materialized tables: every round's recompile changes the store's
    * bytecode digest and therefore re-keys every model table, so in a
    * cold environment the first query serving each model would silently
    * absorb its IRLS / BPE-merge / Lloyd training cost (the same
    * attribution bug the materialization phase fixed for shared
    * DataFrames, one layer up). Each hook forces the ensure path; the
    * groups-text / groups-emb models train inside the `textDedupGroups`
    * / `dedupEmbeddingGroups` entries above. Completeness is enforced by
    * `SharedTablesSpec` against a cold store: after `warmAll`,
    * constructing every `SparkEntry` query must record zero new
    * `ModelStore` train events.
    */
  val models: Seq[(String, (SparkSession, String) => Unit)] = Seq(
    "model-logreg" -> ((s, d) => { ops.Ml.logregWeights(s, d); () }),
    "model-bpe" -> ((s, d) => { ops.TextOps.bpeTokenize(s, d); () }),
    "model-quantizer" -> ((s, d) => ops.Similarity.warmQuantizer(s, d)),
    "model-pq" -> ((s, d) => ops.Similarity.warmPq(s, d)),
  )

  /** Build every shared table and model for `sfDir`; returns
    * (label, wallSeconds, processCpuSeconds) per entry — model labels
    * carry the `model-` prefix, so the bench can report the two phases
    * in one map. CPU is recorded per entry for the same reason the
    * per-query loop records it: the warm phase is the larger contention
    * surface (r10's driver record spent 332 s here with NO cpu-vs-wall
    * column, so diagnosing it needed a cross-host re-run — the exact
    * ritual the per-query column had just retired). wall ≫ cpu-share on
    * a build = the host took the cycles, not the plan.
    *
    * r13: the rows run CONCURRENTLY in their warm order on one
    * [[FanOut]] pool of ≤ 4, gated on session cores so a run below 16
    * cores stays sequential. Under overlap an entry's
    * wall includes time the host spent on its pool-mates (and on the
    * dependency it waited for) and its cpu column is process-wide —
    * per-entry numbers are upper bounds during the warm; the honest
    * phase cost is the WALL the bench measures around this call.
    *
    * `overlap = false` forces the pool to 1 — the bench passes it when
    * its start canary already reads contended, because under host steal
    * the 4-thread overlap AMPLIFIES contention (r13 records:
    * 58.8 s overlapped on 32 cores vs 34.8 s sequential on 8 for the
    * same builds). Every build is awaited for at most [[FanOut.Timeout]]: a
    * hung build fails the bench loudly instead of hanging it.
    */
  def warmAll(s: SparkSession, sfDir: String, overlap: Boolean = true): Seq[(String, Double, Double)] = {
    val cpuBean: Option[com.sun.management.OperatingSystemMXBean] =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
        case b: com.sun.management.OperatingSystemMXBean => Some(b)
        case _ => None
      }
    def cpuNanos(): Long = cpuBean.map(_.getProcessCpuTime).getOrElse(0L)
    val poolSize =
      if (!overlap) 1
      else math.max(1, math.min(4, s.sparkContext.defaultParallelism / 8))
    FanOut((entries ++ models).map { case (label, build) =>
      () => {
        // job descriptions are thread-local: label the overlapped jobs
        s.sparkContext.setJobDescription(s"warm: $label")
        val t0 = System.nanoTime()
        val c0 = cpuNanos()
        build(s, sfDir)
        (label, (System.nanoTime() - t0) / 1e9, (cpuNanos() - c0) / 1e9)
      }
    }, poolSize)
  }
}
