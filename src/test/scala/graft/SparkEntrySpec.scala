package graft

import graft.etl.EtlQueries
import graft.ops._

/** Driver-contract invariants: no silent query-name collisions across the
  * operator modules (Map ++ would shadow), oracle keys all resolve to
  * queries, flagship entry returns rows.
  */
class SparkEntrySpec extends SparkSpec {

  private val modules = Seq(
    "etl" -> EtlQueries.queries.keySet,
    "relational" -> Relational.queries.keySet,
    "relationalExt" -> RelationalExt.queries.keySet,
    "text" -> TextOps.queries.keySet,
    "similarity" -> Similarity.queries.keySet,
    "streaming" -> StreamingAnalogs.queries.keySet,
    "sampling" -> Sampling.queries.keySet,
    "multimodal" -> Multimodal.queries.keySet,
    "textSignals" -> TextSignals.queries.keySet,
    "analytics" -> Analytics.queries.keySet,
    "temporal" -> Temporal.queries.keySet,
    "audit" -> Audit.queries.keySet,
    "decomp" -> Decomp.queries.keySet,
    "ml" -> Ml.queries.keySet,
    "sketches" -> Sketches.queries.keySet,
    "mining" -> Mining.queries.keySet,
    "graph" -> Graph.queries.keySet,
    "stats" -> Stats.queries.keySet,
    "layout" -> Layout.queries.keySet,
    "entityRes" -> EntityRes.queries.keySet,
    "privacy" -> Privacy.queries.keySet,
    "geo" -> Geo.queries.keySet,
  )

  "queries" should "have no name collisions across modules" in {
    val total = modules.map(_._2.size).sum
    SparkEntry.queries.size shouldBe total
  }

  "named" should "select entries in the given order, and all of them for no names" in {
    val known = Seq("a" -> 1, "b" -> 2, "c" -> 3)
    SparkEntry.named(known, Seq("c", "a")) shouldBe Seq("c" -> 3, "a" -> 1)
    SparkEntry.named(known, Nil) shouldBe known
  }

  it should "throw listing every unknown name" in {
    val real = SparkEntry.queries.keys.head
    val e = the[IllegalArgumentException] thrownBy
      SparkEntry.named(SparkEntry.queries.toSeq, Seq("no_such_query", real, "nor_this_one"))
    e.getMessage should include("no_such_query, nor_this_one")
    e.getMessage should not include real
  }

  "oracleSql" should "only reference existing queries" in {
    val unknown = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    unknown shouldBe empty
  }

  it should "cover every query except the documented sketch ops" in {
    // dedup_minhash_lsh graduated to hash-checked in r3 (exact re-rank +
    // complete recall above τ make it oracle-able). dedup_simhash stays
    // rows-only: its recall above τ is structurally incomplete (measured
    // hamming up to 12/64 on qualifying pairs — see its scaladoc).
    val rowsOnly = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    // sim_pq_audit joined r5: trained-model op (k-means codebooks), like
    // the ANN sketches — PqSpec carries the semantic assertions instead.
    // r6: PCA eigen ops (DecompSpec identities) and the IRLS logistic
    // model (MlSpec properties) are rows-only for the same reason —
    // iterative numerics are not SQL-expressible.
    // r7: sim_ivfadc_topk composes two trained models (coarse quantizer +
    // PQ codebook) — rows-only like its halves; PqSpec asserts probed-cell
    // containment and L2-competitiveness.
    // r8: text_bpe_merges — an iterative argmax-and-rewrite loop (BPE
    // tokenizer training) is not SQL-expressible; BpeSpec replays the
    // reference algorithm and asserts the structural invariants.
    // r11: the logreg SERVING path gained hash-checked frozen-weight
    // twins (ml_logreg_score_frozen / ml_logreg_eval_frozen /
    // ml_calibration_frozen — fixed-β scoring is plain SQL), so only
    // the trained-β entries below remain rows-only, and their scoring/
    // eval/calibration machinery is now oracle-covered via the twins.
    rowsOnly shouldBe Set("agg_approx_distinct", "agg_approx_percentile",
      "dedup_simhash", "sim_ann_lsh", "sim_ann_ivf", "sim_pq_audit",
      "sim_pq_adc", "sim_ivfadc_topk", "sim_pca_variance", "sim_pca_project",
      "ml_logreg_weights", "ml_logreg_score", "ml_logreg_eval",
      "sketch_hll_daily", "sketch_hll_rollup", "text_bpe_merges",
      "text_bpe_tokenize", "ml_calibration")
  }

  "entry" should "return rows on the smoke fixture" in {
    SparkEntry.entry(spark).count() should be > 0L
  }
}
