package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.io.Checkpoints.PinOps
import graft.io.Sources

/** Similarity search over the `embeddings` table (SURVEY §2.13):
  * brute-force cosine top-k as the exact baseline, two approximate scale
  * paths (multi-band random-hyperplane LSH and IVF cells), and an *exact*
  * cell-blocked threshold join for embedding near-dup.
  *
  * Vector math runs through the native codegen'd `cosine_sim` expression
  * ([[graft.functions.CosineSimilarity]]) or codegen'd higher-order
  * functions — no scalar UDFs, nothing leaves the Tungsten row format.
  *
  * Scale story (100 TB of vectors):
  *  - the exact top-k path broadcasts the (small) query set and streams
  *    the corpus once — cost O(|corpus| × |queries| × dim);
  *  - the quantizer ("index model") is k centroid vectors — a bounded,
  *    hyperparameter-sized object, so it lives driver-side like any
  *    trained k-means model. Cell assignment has two plan shapes chosen
  *    by model size: small k is a pure map-side codegen projection
  *    against literal centroids (no join, no shuffle); large k (past
  *    [[literalAssignMaxK]], where a k-literal plan would hit Catalyst
  *    plan-size/codegen limits) broadcasts the model as data and reduces
  *    with a bounded top-nprobe aggregate — O(1) plan size in k;
  *  - candidate generation everywhere is an equi-join on cell/bucket
  *    keys — one shuffle, never a broadcast of the corpus.
  */
object Similarity {

  /** dot(a, b) with double accumulation (inputs are float arrays). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def l2norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0), (acc, v) => acc + v.cast("double") * v.cast("double")))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2norm(a) * l2norm(b))

  /** Exact cosine top-k: for each query vector (vec_id < 8), the 5 nearest
    * corpus vectors. Ranking uses the cosine rounded to 4 decimals with
    * vec_id tie-break, so ordering is engine-stable at float precision.
    */
  def cosineTopK(s: SparkSession, d: String): DataFrame = {
    val emb = Sources.embeddings(s, d)
    val q = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val corpus = emb.filter(col("vec_id") >= 8)
    val scored = corpus.crossJoin(broadcast(q))
      .select(col("q_id"), col("vec_id"),
        graft.functions.Num.roundNorm(cosine(col("embedding"), col("q_emb")), 4).as("cos"))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 5)
      .select(col("q_id"), col("rn"), col("vec_id"), col("cos"))
      .orderBy("q_id", "rn")
  }

  /** Range-count retrieval (`sim_range_count`, r13): per probe, how
    * many corpus vectors fall inside a cosine radius — the retrieval
    * primitive top-k can't answer ("how much support does this query
    * have?" — density estimation, dedup-rate prediction, filter-first
    * planning all consume counts, not ranked lists). Two published
    * radii (0.1 / 0.3 on the rounded-4 cosine lattice — thresholding
    * the ROUNDED value keeps a one-ulp cosine wobble from flipping
    * membership, the EntityRes quantize-then-compare rule) plus the
    * per-probe max as the top-1 witness. Brute-force probe-broadcast
    * scan — the exact baseline; the IVF cells ([[ivfFrozen]]) are the
    * scale path for selective radii, same counts.
    */
  def rangeCount(s: SparkSession, d: String): DataFrame = {
    val emb = Sources.embeddings(s, d)
    val q = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    emb.filter(col("vec_id") >= 8).crossJoin(broadcast(q))
      .select(col("q_id"),
        graft.functions.Num.roundNorm(cosine(col("embedding"), col("q_emb")), 4)
          .as("cos"))
      .groupBy("q_id").agg(
        sum(when(col("cos") >= 0.1, 1L).otherwise(0L)).as("n_r01"),
        sum(when(col("cos") >= 0.3, 1L).otherwise(0L)).as("n_r03"),
        max("cos").as("max_cos"))
      .orderBy("q_id")
  }

  /** Binary-quantized Hamming top-k (`sim_binary_hamming`): each
    * embedding collapses to its 64 sign bits packed into two BIGINT
    * words (dims 0–31 / 32–63 — two words because bit 63 of a single
    * word would need the sign bit), and per-probe nearest neighbors
    * rank on `bit_count(w0⊕w0') + bit_count(w1⊕w1')` — the binary
    * embedding serving trick (32× smaller vectors, XOR+popcount
    * distance). Everything is exact integer arithmetic: packing is a
    * codegen'd `aggregate` HOF over the float signs, so the DuckDB
    * oracle rebuilds the identical words and the hash check is exact —
    * no float-ordering tolerance needed, unlike the cosine twins.
    *
    * Scale shape: packing is map-side (no shuffle); the 8 probe words
    * broadcast; ranking reuses the probe-partitioned top-k discipline of
    * [[cosineTopK]]. At 100 TB the win is the scan itself — 16 bytes of
    * words per vector instead of 256 bytes of floats.
    */
  def binaryHamming(s: SparkSession, d: String): DataFrame = {
    def word(off: Int): Column = expr(
      s"aggregate(sequence(0, 31), 0L, (acc, i) -> acc + " +
        s"IF(element_at(embedding, i + $off) > 0.0, shiftleft(1L, i), 0L))")
    val words = Sources.embeddings(s, d)
      .select(col("vec_id"), word(1).as("w0"), word(33).as("w1"))
    val q = words.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("w0").as("qw0"), col("w1").as("qw1"))
    val scored = words.filter(col("vec_id") >= 8).crossJoin(broadcast(q))
      .select(col("q_id"), col("vec_id"),
        (bit_count(col("w0").bitwiseXOR(col("qw0"))) +
          bit_count(col("w1").bitwiseXOR(col("qw1")))).cast("long").as("hamm"))
    val w = Window.partitionBy("q_id").orderBy(col("hamm").asc, col("vec_id").asc)
    scored.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 5)
      .select(col("q_id"), col("rn"), col("vec_id"), col("hamm"))
      .orderBy("q_id", "rn")
  }

  // ---------------------------------------------------------------------
  // Quantizer: trained coarse centroids, held driver-side as a model
  // ---------------------------------------------------------------------

  /** Train the coarse quantizer with distributed Lloyd's k-means:
    * initialize cells from the per-label element-wise means (deterministic,
    * well-spread seeding), then `iters` refinement passes — assign every
    * vector to its nearest cell (map-side projection against the literal
    * model, no shuffle) and recompute cell means with the typed
    * [[graft.functions.CentroidAggregator]] (map-side partial agg, k-row
    * shuffle). The model is k centroid vectors where k is a
    * *hyperparameter*: bounded like any k-means model and independent of
    * corpus size, so materializing it on the driver each pass is the
    * bounded-collect pattern, not a corpus collect. Cells that lose all
    * members drop out (standard Lloyd behavior).
    */
  private[graft] def trainQuantizer(emb: DataFrame, iters: Int = 2,
      k: Int = 0): Seq[(Int, Array[Float])] = {
    val cent = graft.functions.CentroidAggregator.centroid(64)
    def toModel(rows: Array[org.apache.spark.sql.Row]): Seq[(Int, Array[Float])] =
      rows.map(r => r.getInt(0) -> r.getSeq[Double](1).map(_.toFloat).toArray)
        .sortBy(_._1).toSeq
    // Seeding: k ≤ 0 uses one cell per label (the fixture's natural
    // coarse grouping). Explicit k — the quantizer-size hyperparameter,
    // k ≈ √n at ANN scale — seeds from k actual corpus vectors picked in
    // deterministic hash order (spread like the data; subset-MEAN seeds
    // would all sit near the global centroid and collapse Lloyd).
    var model: Seq[(Int, Array[Float])] =
      if (k <= 0)
        toModel(emb.groupBy(col("label").as("cell"))
          .agg(cent(col("embedding")).as("cent_emb")).collect())
      else
        emb.select(col("vec_id"), col("embedding"))
          .orderBy(abs(hash(col("vec_id"))), col("vec_id")).limit(k)
          .collect().zipWithIndex
          .map { case (r, i) => i -> r.getSeq[Float](1).toArray }.toSeq
    for (_ <- 1 to iters) {
      model = toModel(
        assignCells(emb, model, 1)
          .select(element_at(col("cells"), 1).getField("cent_id").as("cell"),
            col("embedding"))
          .groupBy("cell").agg(cent(col("embedding")).as("cent_emb"))
          .collect())
    }
    model
  }

  /** The default coarse quantizer served from its persisted model table
    * ([[graft.io.ModelStore]]): trained and written once per source
    * snapshot, read back by every consumer — the IVF index and the
    * near-dup cell blocking share one model artifact, and a fresh
    * session never retrains.
    */
  private[graft] def quantizerServed(s: SparkSession, d: String,
      emb: DataFrame): Seq[(Int, Array[Float])] =
    graft.io.ModelStore.ensureCentroids(s, d, "quant|seed=label|it=2")(
      trainQuantizer(emb))

  /** Bench-warm hooks ([[graft.SharedTables.models]]): force the two
    * [[graft.io.ModelStore]] artifacts this file serves — the coarse
    * quantizer and the PQ codebook — so their (re)training cost lands in
    * the bench's separately-timed model-warm phase instead of on
    * whichever `sim_*` query happens to run first after a recompile
    * re-keys the store.
    */
  private[graft] def warmQuantizer(s: SparkSession, d: String): Unit = {
    quantizerServed(s, d, Sources.embeddings(s, d)): Unit
  }

  private[graft] def warmPq(s: SparkSession, d: String): Unit = {
    trainPqCached(s, Sources.embeddings(s, d), d): Unit
  }

  /** `array<struct<cs,cent_id>>` of cosine-to-centroid scores, built from
    * literal centroid vectors — evaluates as one codegen projection.
    */
  private def cellScores(cents: Seq[(Int, Array[Float])]): Column =
    array(cents.map { case (id, v) =>
      struct(
        call_function("cosine_sim", col("embedding"),
          array(v.map(x => lit(x)): _*)).as("cs"),
        lit(id).as("cent_id"))
    }: _*)

  /** Comparator: cosine descending, cent_id ascending on ties —
    * deterministic regardless of evaluation order.
    */
  private val csDescIdAsc: (Column, Column) => Column = (l, r) =>
    when(l.getField("cs") > r.getField("cs"), lit(-1))
      .when(l.getField("cs") < r.getField("cs"), lit(1))
      .otherwise(l.getField("cent_id") - r.getField("cent_id"))

  /** Above this model size, cell assignment switches from the k-literal
    * projection to the broadcast-join form. The literal plan embeds
    * k·dim literal nodes in ONE expression tree — fastest at
    * hyperparameter-sized k (pure map-side codegen, zero shuffle), but
    * Catalyst plan size and codegen limits bite around k ≈ 10³, and the
    * IVF guidance of k ≈ √n means k ≈ 3·10⁴ at n = 10⁹ vectors. The
    * joined plan is O(1) in k: the model rides along as broadcast *data*,
    * not as plan nodes.
    */
  private[graft] val literalAssignMaxK = 256

  /** Adds `cells`: the `nprobe` nearest cells as struct<cs,cent_id>,
    * nearest first — literal-projection form. Pure projection: no
    * shuffle, no cache; right for hyperparameter-sized models.
    */
  private[graft] def assignCellsLiteral(emb: DataFrame, cents: Seq[(Int, Array[Float])],
      nprobe: Int): DataFrame =
    emb.withColumn("cells",
      slice(array_sort(cellScores(cents), csDescIdAsc), 1, nprobe))

  /** Same contract as [[assignCellsLiteral]] (same columns, same `cells`
    * schema, bit-identical scores) for large k: broadcast the centroids
    * as a DataFrame, score with one `cosine_sim` node evaluated per
    * (vector, centroid) match, and reduce the k candidates per vector to
    * the top `nprobe` with the bounded typed aggregate
    * [[graft.functions.TopCellsAggregator]].
    *
    * Scale shape: the broadcast join replicates each vector across the k
    * model rows map-side (no shuffle in candidate scoring); the
    * aggregation's partial step collapses those k rows to an
    * nprobe-sized buffer before the single n-row shuffle. Non-key
    * columns ride through `first(...)` — every row in a group carries
    * identical values (they all derive from the same input row), so
    * `first` is deterministic here.
    *
    * PRECONDITION: `vec_id` must be unique in `emb`. This path groups by
    * it, so duplicate ids would collapse to one row where the literal
    * path preserves both — and since [[assignCells]] dispatches on model
    * size, duplicates would make row semantics depend on k. All library
    * ingress points satisfy this (`vec_id` is the embeddings table's
    * key); asserted in the OpsSpec parity test rather than with a
    * per-call count job.
    */
  private[graft] def assignCellsJoined(emb: DataFrame, cents: Seq[(Int, Array[Float])],
      nprobe: Int): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    val centDf = cents.toDF("cent_id", "cent_emb")
    val scored = emb.crossJoin(broadcast(centDf))
      .withColumn("__cs", call_function("cosine_sim", col("embedding"), col("cent_emb")))
    val top = graft.functions.TopCellsAggregator.topCells(nprobe)
    val carry = emb.columns.filterNot(_ == "vec_id")
    val aggs = carry.map(c => first(col(c)).as(c)) :+
      top(col("__cs"), col("cent_id")).as("cells")
    scored.groupBy("vec_id").agg(aggs.head, aggs.tail: _*)
      .select(emb.columns.map(col) :+ col("cells"): _*)
  }

  /** Dispatch on model size — see [[literalAssignMaxK]]. Requires unique
    * `vec_id` (see [[assignCellsJoined]]) so the dispatch can never
    * change result cardinality.
    */
  private def assignCells(emb: DataFrame, cents: Seq[(Int, Array[Float])],
      nprobe: Int): DataFrame =
    if (cents.size <= literalAssignMaxK) assignCellsLiteral(emb, cents, nprobe)
    else assignCellsJoined(emb, cents, nprobe)

  /** Corpus rows fanned out to session parallelism, hash-keyed on
    * `vec_id` (r13 optimization): the single-file embeddings scan plans
    * as ONE task, and the per-row vector math downstream of it — cell
    * assignment, LSH signatures, PQ encoding, probe-broadcast exact
    * scoring — is the serving hot path of every ANN query, so it ran
    * serially regardless of core count. A small explicit repartition
    * parallelizes it; vec_id-keyed, downstream vec_id joins/groupBys
    * reuse the exchange. The count is EXPLICIT because AQE would
    * coalesce the tiny-byte shuffle back to one partition (shuffle
    * bytes are the wrong proxy for map CPU); at cluster scale the scan
    * already carries ≥ parallelism tasks and the repartition is a no-op
    * cost-wise (one pass over rows that were about to be scanned
    * anyway). MODEL TRAINING inputs are deliberately NOT fanned out:
    * distributed float sums must keep their summation order, and
    * partitioning is part of that order.
    */
  private def fanOut(df: DataFrame): DataFrame =
    df.repartition(
      math.max(2, df.sparkSession.sparkContext.defaultParallelism),
      col("vec_id"))

  /** Index-side assignment (top-1 cell); factored out so the spec can
    * check it partitions the corpus.
    */
  private[ops] def ivfAssign(emb: DataFrame): DataFrame =
    assignCells(emb, trainQuantizer(emb), 1)
      .select(col("vec_id"), col("embedding"),
        element_at(col("cells"), 1).getField("cent_id").as("cell"))

  // ---------------------------------------------------------------------
  // LSH: multi-band random-hyperplane signatures
  // ---------------------------------------------------------------------

  /** Deterministic pseudo-random hyperplane pool (fixed seed). */
  private def hyperplanes(nPlanes: Int, dim: Int): Array[Array[Float]] = {
    val rnd = new scala.util.Random(42)
    Array.fill(nPlanes, dim)(rnd.nextGaussian().toFloat)
  }

  /** LSH candidate pairs with scale-aware parameters.
    *
    * `bits` per band must grow with the corpus — a fixed signature width
    * makes buckets (hence within-bucket pair counts) quadratic in n. With
    * `bits ≈ log2(n / targetBucket)` the expected bucket stays constant,
    * so candidates grow ~linearly: O(bands · n · targetBucket). The
    * multi-band OR-construction recovers the recall a single wider
    * signature gives up (same construction as `Dedup.minHashBands`).
    * `maxBucket` guards the degenerate case (skewed/duplicated regions of
    * embedding space): an oversized bucket is dropped rather than allowed
    * to go quadratic — a recall trade documented at the call site.
    *
    * The sign of `cosine_sim(v, plane)` equals the sign of the dot
    * product (norms are positive), so signature bits reuse the fused
    * codegen expression. Everything up to the equi-join is a map-side
    * projection; the join shuffles once on (band, bucket).
    */
  private[graft] def annLshCandidates(emb: DataFrame, nBands: Int, bits: Int,
      maxBucket: Long): DataFrame = {
    val planes = hyperplanes(nBands * bits, 64)
    val bandCols = (0 until nBands).map { bIdx =>
      val sig = (0 until bits).map { j =>
        val planeCol = array(planes(bIdx * bits + j).map(x => lit(x)): _*)
        when(call_function("cosine_sim", col("embedding"), planeCol) > 0,
          lit(1L << j)).otherwise(lit(0L))
      }.reduce(_ + _)
      struct(lit(bIdx).as("band"), sig.as("bucket"))
    }
    // signatures explode to NARROW (vec_id, band, bucket) rows — the
    // embedding is consumed by the bucket projection and dropped before
    // anything shuffles. Carrying the float[64] through the ×nBands
    // explode and self-join would shuffle ~550 bytes/row on both sides;
    // id-only candidate generation shuffles ~24 bytes/row, and the
    // vectors are fetched back by two id equi-joins only for the deduped
    // pair set (at 64× replicated data: ~2.4 µs/candidate end-to-end,
    // down from ~7.5 µs at 1× — per-candidate cost amortizes with scale;
    // PLANS.md "Scaling probe").
    val sigs = fanOut(emb)
      .select(col("vec_id"), explode(array(bandCols: _*)).as("bb"))
      .select(col("vec_id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    val okBuckets = sigs.groupBy("band", "bucket")
      .agg(count(lit(1)).as("bsz")).filter(col("bsz") <= maxBucket)
      .select("band", "bucket")
    val bounded = sigs.join(okBuckets, Seq("band", "bucket"))
    val a = bounded.select(col("band"), col("bucket"), col("vec_id").as("id_a"))
    val b = bounded.select(col("band").as("band_b"), col("bucket").as("bucket_b"),
      col("vec_id").as("id_b"))
    val pairs = a.join(b, col("band") === col("band_b")
        && col("bucket") === col("bucket_b") && col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")
    pairs
      .join(emb.select(col("vec_id").as("id_a"), col("embedding").as("emb_a")), "id_a")
      .join(emb.select(col("vec_id").as("id_b"), col("embedding").as("emb_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        round(expr("cosine_sim(emb_a, emb_b)"), 4).as("cos"))
  }

  /** Random-hyperplane LSH ANN: top cosine neighbor per vector among
    * bucket-mates. Signature width is sized from the corpus count so
    * bucket sizes stay constant as data grows. Pass `corpusCount` when
    * the caller already knows it (catalog stats, a prior job); otherwise
    * the count is memoized per path in [[graft.io.CorpusStats]], so
    * repeated invocations never re-run the sizing job. Approximate
    * ⇒ rows-only check; recall asserted in OpsSpec, candidate
    * sub-linearity in PLANS.md "Scaling probe".
    */
  def annLshTopNeighbor(s: SparkSession, d: String,
      corpusCount: Option[Long] = None): DataFrame = {
    val emb = Sources.embeddings(s, d)
    val n = corpusCount.getOrElse(graft.io.CorpusStats.rowCount(s, d, "embeddings"))
    val targetBucket = 32L
    val bits = math.max(4,
      math.ceil(math.log(n.toDouble / targetBucket) / math.log(2.0)).toInt)
    val pairs = annLshCandidates(emb, nBands = 4, bits = bits,
      maxBucket = 8 * targetBucket)
    val w = Window.partitionBy("id_a").orderBy(col("cos").desc, col("id_b"))
    pairs.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("id_a"), col("id_b").as("nn_id"), col("cos"))
      .orderBy("id_a")
  }

  /** Per-label centroid by vector position (custom typed aggregation
    * surface, SURVEY §2.5) — posexplode + avg keeps it oracle-checkable;
    * first 8 dims reported.
    */
  def centroidByLabel(s: SparkSession, d: String): DataFrame =
    Sources.embeddings(s, d)
      // slice BEFORE exploding: 8 rows per vector instead of 64 then filter
      .select(col("label"), posexplode(slice(col("embedding"), 1, 8)).as(Seq("pos", "v")))
      .groupBy("label", "pos")
      .agg(graft.functions.Num.roundNorm(avg(col("v").cast("double")), 4).as("avg_v"), count(lit(1)).as("n_vecs"))
      .select(col("label"), col("pos").cast("long").as("pos"), col("avg_v"), col("n_vecs"))
      .orderBy("label", "pos")

  /** Embedding-cosine near-dup (SURVEY §2.13): all vector pairs with
    * cosine ≥ 0.4 — **exact**, but cell-blocked instead of all-pairs.
    *
    * Each vector goes to its nearest quantizer cell; per cell we keep the
    * max member angle r_c (the cell radius). By the angular triangle
    * inequality, a pair (u ∈ c₁, v ∈ c₂) with θ(u,v) ≤ θ* forces
    * θ(c₁,c₂) ≤ θ* + r₁ + r₂ — so only *compatible* cell pairs can hold
    * a qualifying pair, and skipping the rest loses nothing: the result
    * hash-matches the all-pairs oracle by construction. The compatibility
    * matrix is k×k (quantizer-sized) and is computed driver-side from the
    * collected model + k cell radii (two bounded collects).
    *
    * Candidate generation is then equi-joins: corpus ⋈ compat (tiny
    * broadcast) ⋈ corpus on cell ids — one shuffle at scale, never a
    * corpus broadcast or cross join. Pruning power tracks how clustered
    * the data is: near-dup corpora are heavily clustered, so most cell
    * pairs prune; on uniformly random vectors (this fixture's worst case)
    * compatibility degrades toward all cell pairs but the plan shape —
    * shuffled equi-join on bounded cells — still stands at 100 TB.
    */
  def dedupEmbeddingCosine(s: SparkSession, d: String): DataFrame =
    dedupEmbeddingCosineRaw(s, d).orderBy("id_a", "id_b")

  /** Unsorted near-dup PAIRS table, materialized once per (session,
    * path) — consumed by the pairs query and the groups build; a
    * production pipeline persists exactly this table.
    */
  private[graft] def dedupEmbeddingCosineRaw(s: SparkSession, d: String): DataFrame =
    graft.io.Materialized.of(s, s"dedupEmbeddingCosine|$d") {
      dedupEmbeddingCosineCompute(s, d)
    }

  private def dedupEmbeddingCosineCompute(s: SparkSession, d: String): DataFrame = {
    val emb = Sources.embeddings(s, d)
    val cents = quantizerServed(s, d, emb)
    // lazy pin: the assignment scan (k exact dot products per vector)
    // feeds the radii collect AND both sides of the candidate join —
    // un-pinned it executed 3x per warm build (r13)
    val assigned = graft.io.Checkpoints.pin(assignCells(fanOut(emb), cents, 1)
      .select(col("vec_id"), col("embedding"),
        element_at(col("cells"), 1).getField("cent_id").as("cell"),
        element_at(col("cells"), 1).getField("cs").as("cs")),
      eager = false)
    // cell radii: k rows (model-sized), second bounded collect
    val radii = assigned.groupBy("cell").agg(min("cs").as("min_cs"))
      .collect()
      .map(r => r.getInt(0) ->
        math.acos(math.max(-1.0, math.min(1.0, r.getDouble(1))))).toMap
    val thetaStar = math.acos(0.4)
    def angle(u: Array[Float], v: Array[Float]): Double = {
      var duv = 0.0; var du = 0.0; var dv = 0.0; var i = 0
      while (i < u.length) {
        duv += u(i).toDouble * v(i); du += u(i).toDouble * u(i)
        dv += v(i).toDouble * v(i); i += 1
      }
      math.acos(math.max(-1.0, math.min(1.0, duv / math.sqrt(du * dv))))
    }
    // 1e-6 rad slack: radii and cell angles carry ~1e-7 float error
    // (acos amplifies rounding near cos≈1); a strict comparison could
    // prune a boundary cell pair and silently lose a qualifying pair —
    // the epsilon keeps the bound conservative, preserving exactness
    val eps = 1e-6
    val compat = for {
      (ci, vi) <- cents
      (cj, vj) <- cents
      if angle(vi, vj) <= thetaStar + radii.getOrElse(ci, 0.0) + radii.getOrElse(cj, 0.0) + eps
    } yield (ci, cj)
    import s.implicits._
    val compatDf = compat.toDF("ca", "cb")
    val a = assigned.select(col("vec_id").as("id_a"), col("embedding").as("emb_a"),
      col("cell").as("ca"))
    val b = assigned.select(col("vec_id").as("id_b"), col("embedding").as("emb_b"),
      col("cell").as("cb"))
    a.join(broadcast(compatDf), "ca")
      .join(b, "cb")
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(expr("cosine_sim(emb_a, emb_b)"), 4).as("cos"))
      .filter(col("cos") >= 0.4)
  }

  /** Pairs → GROUPS for the embedding modality: the exact cell-blocked
    * near-dup pairs ([[dedupEmbeddingCosine]]) collapsed to connected
    * components via [[Dedup.connectedGroups]] — each vector reports its
    * component's minimum vec_id, the deterministic survivor key. Same
    * completion step as `text_dedup_groups` but over semantic (vector)
    * duplicates; together they close the detect → group → keep-one loop
    * for both text and embedding near-dup. Oracle: recursive-CTE
    * reachability over the identical pair definition.
    */
  def dedupEmbeddingGroups(s: SparkSession, d: String): DataFrame =
    graft.io.Materialized.of(s, s"dedupEmbeddingGroups|$d") {
      // the groups table is a persisted model artifact: computed+written
      // once per source snapshot, served from parquet by later sessions
      graft.io.ModelStore.ensureDf(s, "groups-emb", d) {
        val pairs = dedupEmbeddingCosineRaw(s, d).select(col("id_a"), col("id_b"))
        val vecs = Sources.embeddings(s, d).select(col("vec_id"))
        Dedup.connectedGroups(pairs, vecs, "vec_id")
          .select(col("id").as("vec_id"), col("group_id"))
      }
    }.orderBy("vec_id")

  /** Delta split for the embedding-side incremental maintenance query —
    * same convention as the text side: every tenth vector is the
    * newly-arrived batch.
    */
  private def isDeltaVec(id: Column): Column = pmod(id, lit(10L)) === 0

  /** "Yesterday's" embedding groups — CC over base vectors and
    * base-base cosine pairs only (the pair set is EXACT, so its
    * restriction to base endpoints is exactly what a base-only corpus
    * would produce), materialized per (session, fixture).
    */
  private[graft] def dedupEmbeddingBaseGroupsRaw(s: SparkSession, d: String): DataFrame =
    graft.io.Materialized.of(s, s"dedupEmbeddingBaseGroups|$d") {
      val pairs = dedupEmbeddingCosineRaw(s, d)
        .filter(!isDeltaVec(col("id_a")) && !isDeltaVec(col("id_b")))
        .select(col("id_a"), col("id_b"))
      val base = Sources.embeddings(s, d).select(col("vec_id"))
        .filter(!isDeltaVec(col("vec_id")))
      Dedup.connectedGroups(pairs, base, "vec_id")
    }

  /** Incremental embedding dedup-group maintenance
    * (`sim_dedup_incremental`): the semantic-modality twin of
    * `text_dedup_incremental` — delta vectors merge into yesterday's
    * groups via [[Dedup.incrementalMerge]] (contracted-graph CC over
    * `{delta ids ∪ touched roots}` only), and the result equals the
    * full recompute row-for-row; the oracle replays full + base-only
    * recursive-CTE reachability over the identical cosine pair
    * definition. Together the two queries close the incremental loop
    * for BOTH near-dup modalities.
    */
  def dedupEmbeddingIncremental(s: SparkSession, d: String): DataFrame = {
    val pairs = dedupEmbeddingCosineRaw(s, d).select(col("id_a"), col("id_b"))
    val deltaPairs = pairs.filter(isDeltaVec(col("id_a")) || isDeltaVec(col("id_b")))
    val deltaVecs = Sources.embeddings(s, d).select(col("vec_id"))
      .filter(isDeltaVec(col("vec_id")))
    Dedup.incrementalMerge(dedupEmbeddingBaseGroupsRaw(s, d), deltaPairs, deltaVecs, "vec_id")
      .select(col("id").as("vec_id"), col("group_id"), col("is_delta"), col("relabeled"))
      .orderBy("vec_id")
  }

  /** Embedding L2-norm distribution per label — exercises the vector HOFs
    * in an aggregation (norms are engine-stable to 4 decimals).
    */
  def normStats(s: SparkSession, d: String): DataFrame =
    Sources.embeddings(s, d)
      .select(col("label"), round(l2norm(col("embedding")), 4).as("nrm"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"), round(min("nrm"), 4).as("min_norm"),
        round(max("nrm"), 4).as("max_norm"))
      .orderBy("label")

  /** Same top-k as [[cosineTopK]] but through the native codegen'd
    * [[graft.functions.CosineSimilarity]] expression (`cosine_sim` SQL
    * function injected by GraftExtensions) — one fused loop, no
    * intermediate arrays. Shares cosineTopK's oracle.
    */
  def cosineTopKNative(s: SparkSession, d: String): DataFrame = {
    val emb = Sources.embeddings(s, d)
    val q = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val scored = emb.filter(col("vec_id") >= 8).crossJoin(broadcast(q))
      .select(col("q_id"), col("vec_id"),
        graft.functions.Num.roundNorm(expr("cosine_sim(embedding, q_emb)"), 4).as("cos"))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 5)
      .select(col("q_id"), col("rn"), col("vec_id"), col("cos"))
      .orderBy("q_id", "rn")
  }

  /** Per-label centroid through the custom typed Aggregator
    * ([[graft.functions.CentroidAggregator]]) — fixed-size buffers with
    * map-side partial aggregation instead of a posexplode row blow-up.
    */
  def centroidUdaf(s: SparkSession, d: String): DataFrame = {
    val cent = graft.functions.CentroidAggregator.centroid(8)
    Sources.embeddings(s, d)
      .groupBy("label")
      .agg(cent(col("embedding")).as("raw"), count(lit(1)).as("n_vecs"))
      .select(col("label"),
        // CSV, not a raw array: the oracle harness hashes scalar columns
        // only; `+ 0.0` collapses -0.0 so both engines format identically
        concat_ws(",", transform(col("raw"),
          x => format_string("%.4f", round(x, 4) + lit(0.0)))).as("centroid_csv"),
        col("n_vecs"))
      .orderBy("label")
  }

  /** IVF-style ANN (the other standard scale path next to LSH). Coarse
    * centroids are *trained* from the data ([[trainQuantizer]]); each
    * corpus vector is indexed in its nearest cell; each query probes its
    * `nprobe=2` nearest cells; exact cosine runs only on (probe, index)
    * cell matches. Cost drops from O(n²) to O(n·k + nprobe·Σ|cell|²),
    * and the cell match is an **equi-join** — at 100 TB one shuffle on
    * `cell`, never a cross product. Assignment is a map-side projection
    * against the literal model, so there is no cached intermediate (and
    * nothing left pinned in a shared session). Approximate ⇒ rows-only
    * check; recall vs the exact neighbor is asserted in OpsSpec.
    */
  def ivfTopNeighbor(s: SparkSession, d: String): DataFrame = {
    val emb = Sources.embeddings(s, d)
    val cents = quantizerServed(s, d, emb)
    val assigned = assignCells(fanOut(emb), cents, 2)
    val idx = assigned.select(col("vec_id").as("id_b"), col("embedding").as("emb_b"),
      element_at(col("cells"), 1).getField("cent_id").as("cell"))
    val probes = assigned
      .select(col("vec_id"), col("embedding").as("q_emb"), explode(col("cells")).as("pc"))
      .select(col("vec_id"), col("q_emb"), col("pc.cent_id").as("probe_cell"))
    val pairs = probes.join(idx,
        col("probe_cell") === col("cell") && col("vec_id") =!= col("id_b"))
      .select(col("vec_id").as("id_a"), col("id_b"),
        round(expr("cosine_sim(q_emb, emb_b)"), 4).as("cos"))
      // a neighbor can match via both probed cells — keep one copy
      .dropDuplicates("id_a", "id_b")
    val w = Window.partitionBy("id_a").orderBy(col("cos").desc, col("id_b"))
    pairs.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("id_a"), col("id_b").as("nn_id"), col("cos"))
      .orderBy("id_a")
  }

  /** Embedding outlier flagging by cosine-to-centroid: each vector is
    * scored against its label's mean vector and flagged when the rounded
    * cosine falls below 0.05 — the embedding-space noise filter a
    * curation pipeline runs to drop mislabeled / off-distribution
    * samples before training (the scoring half of SemDeDup-style
    * semantic pruning; the dedup half is [[dedupEmbeddingGroups]]).
    *
    * Centroids come from the typed [[graft.functions.CentroidAggregator]]
    * (map-side partial agg, one label-count-sized result) and join back
    * broadcast, so the pass over the corpus is a single scan + one
    * label-key aggregate — no shuffle of the vectors themselves. The
    * cosine runs in FULL DOUBLE precision higher-order functions (not
    * the float-native `cosine_sim`) because the centroid is a computed
    * double vector: float truncation would put ~0.2% of fixture rows on
    * the wrong side of the round-4 hash at sf0.01.
    */
  def centroidOutliers(s: SparkSession, d: String): DataFrame = {
    val cent = graft.functions.CentroidAggregator.centroid(64)
    val cents = Sources.embeddings(s, d)
      .groupBy("label").agg(cent(col("embedding")).as("cent"))
    val vd = transform(col("embedding"), x => x.cast("double"))
    val dot = aggregate(zip_with(vd, col("cent"), (x, y) => x * y),
      lit(0.0), (a, b) => a + b)
    val nv = aggregate(vd, lit(0.0), (a, x) => a + x * x)
    val nc = aggregate(col("cent"), lit(0.0), (a, x) => a + x * x)
    Sources.embeddings(s, d)
      .join(broadcast(cents), "label")
      .select(col("vec_id"), col("label"),
        graft.functions.Num.roundNorm(dot / (sqrt(nv) * sqrt(nc)), 4).as("cos_centroid"))
      .withColumn("outlier", col("cos_centroid") < 0.05)
      .orderBy("vec_id")
  }

  /** Symmetric per-vector int8 scalar quantization — the compression
    * step an embedding store runs before ANN serving (4× smaller than
    * float32, SIMD-friendly dot products). Per vector: scale
    * s = 127 / max|xᵢ|, qᵢ = clamp(⌊xᵢ·s + 0.5⌋, −127, 127); reported
    * per vector are the saturation count and the dequantization MSE
    * (mean (xᵢ − qᵢ/s)²) — the audit a pipeline runs to decide whether
    * int8 is safe for its distribution.
    *
    * Everything stays in-row (codegen'd higher-order functions over the
    * array — no explode, no shuffle, no UDF): the whole pass is a
    * map-side projection that streams with the scan at any corpus size.
    * ⌊x·s + 0.5⌋ is used instead of round() half-up so every engine
    * computes the identical IEEE-754 double sequence: float→double cast,
    * multiply, floor, subtract, square, in-order array sum.
    */
  def quantizeInt8(s: SparkSession, d: String): DataFrame = {
    val vd = transform(col("embedding"), x => x.cast("double"))
    val maxAbs = array_max(transform(vd, x => abs(x)))
    // all-zero vector ⇒ scale 0, q ≡ 0, error ≡ 0 (not a ÷0 inf/NaN)
    val scl = when(col("max_abs") === 0.0, lit(0.0))
      .otherwise(lit(127.0) / col("max_abs"))
    val q = transform(col("vd"), x =>
      when(col("scl") === 0.0, lit(0.0)).otherwise(
        greatest(lit(-127.0), least(lit(127.0), floor(x * col("scl") + 0.5)))))
    val err = zip_with(col("vd"), col("q"), (x, qi) => {
      val dq = when(col("scl") === 0.0, lit(0.0)).otherwise(qi / col("scl"))
      (x - dq) * (x - dq)
    })
    Sources.embeddings(s, d)
      .withColumn("vd", vd).withColumn("max_abs", maxAbs)
      .withColumn("scl", scl).withColumn("q", q)
      .select(col("vec_id"),
        size(filter(col("q"), qi => abs(qi) === 127.0)).cast("long").as("n_saturated"),
        round(col("scl"), 6).as("scale"),
        round(aggregate(err, lit(0.0), (a, e) => a + e) / size(col("q")), 10).as("mse"))
      .orderBy("vec_id")
  }

  /** Product-quantization codebooks: for each of `m` subspaces, `k`
    * centroids of `subDim` dims, trained by per-subspace Lloyd in ONE
    * distributed pass per iteration: vectors explode to (subspace,
    * subvector) rows, assignment is a broadcast codebook join + `min_by`
    * argmin (ties to the lower cell id — deterministic), re-estimation is
    * a single (subspace, cell) centroid aggregate. The model is
    * m·k·subDim floats — hyperparameter-sized, collected like any
    * k-means model; at 10⁹ vectors the per-iteration cost is one linear
    * pass with an m·k-row broadcast, the canonical PQ training shape.
    */
  /** Trained PQ models: train-once / serve-from-table through
    * [[graft.io.ModelStore]] (a fresh session reads the written codebook
    * table instead of retraining), with a per-session memo on top so
    * repeated audit/search calls in one session skip even the table read.
    */
  private val pqModels =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[((Int, Int), Array[Double])]]()

  private[graft] def pqShape(m: Int, k: Int, subDim: Int, iters: Int): String =
    s"pq|m=$m|k=$k|sd=$subDim|it=$iters"

  private[graft] def trainPqCached(s: SparkSession, emb: DataFrame, label: String,
      m: Int = 8, k: Int = 16, subDim: Int = 8, iters: Int = 2): Seq[((Int, Int), Array[Double])] =
    pqModels.computeIfAbsent(
      // unique per-session id (identity hashes can collide across a
      // stopped and a new session — see Materialized.sessionId)
      s"${graft.io.Materialized.sessionId(s)}|$label|$m|$k|$subDim|$iters",
      _ => graft.io.ModelStore.ensurePq(s, label, pqShape(m, k, subDim, iters))(
        trainPq(s, emb, m, k, subDim, iters)))

  private[graft] def trainPq(s: SparkSession, emb: DataFrame,
      m: Int = 8, k: Int = 16, subDim: Int = 8, iters: Int = 2): Seq[((Int, Int), Array[Double])] = {
    // seed from k corpus vectors in deterministic hash order (spread like
    // the data — subset-mean seeds would collapse Lloyd; same rule as IVF)
    val seeds = emb.select(col("vec_id"), col("embedding"))
      .orderBy(abs(hash(col("vec_id"))), col("vec_id")).limit(k)
      .collect().map(_.getSeq[Float](1).toArray)
    require(seeds.nonEmpty, "trainPq: empty corpus")
    // a corpus smaller than k yields fewer than k seeds — clamp rather
    // than index out of bounds; Lloyd keeps only populated cells anyway
    val kEff = math.min(k, seeds.length)
    var model: Seq[((Int, Int), Array[Double])] = (for {
      sub <- 0 until m
      cell <- 0 until kEff
    } yield (sub, cell) -> seeds(cell).slice(sub * subDim, (sub + 1) * subDim)
      .map(_.toDouble)).toSeq
    val cent = graft.functions.CentroidAggregator.centroid(subDim)
    for (_ <- 1 to iters) {
      // E-step as a literal-codebook projection carrying the sub-vector
      // (same shape as [[pqEncode]] — the model lives on the driver
      // between iterations, so the old broadcast-join + min_by +
      // join-back paid a k× row blowup, a SortAggregate and an extra
      // equi-join for data that one map pass produces)
      val bySub = model.groupBy(_._1._1).view
        .mapValues(_.map { case ((_, cell), v) => (cell, v) }.sortBy(_._1)).toMap
      val subCols = (0 until m).filter(bySub.contains).map { sub =>
        val sv = transform(slice(col("embedding"), sub * subDim + 1, subDim),
          v => v.cast("double"))
        val cands = bySub(sub).map { case (cell, c) =>
          struct(
            aggregate(zip_with(sv, array(c.map(lit(_)): _*),
              (x, y) => (x - y) * (x - y)), lit(0.0), (a, e) => a + e).as("d2"),
            lit(cell).as("cell"))
        }
        val best = if (cands.size == 1) cands.head else least(cands: _*)
        struct(lit(sub).as("sub"),
          best.getField("cell").as("cell"), sv.as("sv"))
      }
      model = emb.select(explode(array(subCols: _*)).as("x"))
        .select(col("x.sub").as("sub"), col("x.cell").as("cell"),
          transform(col("x.sv"), v => v.cast("float")).as("sv"))
        .groupBy("sub", "cell").agg(cent(col("sv")).as("c"))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2).toArray)
        .toSeq.sortBy(_._1)
    }
    model
  }

  /** PQ encode + audit (`sim_pq_audit`): each vector's 8×4-bit code word
    * (64 dims → 8 bytes, 32× compression vs float32) plus the
    * reconstruction MSE — the audit a pipeline runs before switching ANN
    * search to asymmetric-distance (ADC) scoring over codes. Encoding is
    * the same broadcast-join argmin as training (at serving scale the
    * codebook inlines into a literal projection exactly like IVF's
    * literal path). Trained-model op ⇒ rows-only check; ADC fidelity and
    * compression-dominance bounds are asserted in PqSpec.
    */
  /** PQ encode: (vec_id, sub, best=struct(d2, cell)) — the broadcast-join
    * argmin shared by the audit and the ADC search path.
    */
  /** Encode every vector against a DRIVER-RESIDENT codebook: one
    * projection computes, per subspace, `least()` over that subspace's
    * k literal centroids — the same literal-argmin shape as the k-means
    * E-step. The previous broadcast-join + `min(struct(d2, cell))` form
    * blew each row up k× AND planned the argmin as a SortAggregate
    * (struct aggregation buffers don't fit the hash aggregate), sorting
    * the N·m·k joined table per partition; this form never leaves the
    * scan. Output shape `(vec_id, sub, best{d2, cell})` is unchanged;
    * ties break to the smaller cell id exactly as `min(struct)` did.
    */
  private[graft] def pqEncode(s: SparkSession, emb: DataFrame,
      model: Seq[((Int, Int), Array[Double])], m: Int = 8, subDim: Int = 8): DataFrame = {
    val bySub: Map[Int, Seq[(Int, Array[Double])]] =
      model.groupBy(_._1._1).view
        .mapValues(_.map { case ((_, cell), v) => (cell, v) }.sortBy(_._1)).toMap
    val subCols = (0 until m).filter(bySub.contains).map { sub =>
      val sv = transform(slice(col("embedding"), sub * subDim + 1, subDim),
        v => v.cast("double"))
      val cands = bySub(sub).map { case (cell, cent) =>
        struct(
          aggregate(zip_with(sv, array(cent.map(lit(_)): _*),
            (x, y) => (x - y) * (x - y)), lit(0.0), (a, e) => a + e).as("d2"),
          lit(cell).as("cell"))
      }
      val best = if (cands.size == 1) cands.head else least(cands: _*)
      struct(lit(sub).as("sub"), best.as("best"))
    }
    emb.select(col("vec_id"), explode(array(subCols: _*)).as("x"))
      .select(col("vec_id"), col("x.sub").as("sub"), col("x.best").as("best"))
  }

  def pqAudit(s: SparkSession, d: String): DataFrame = {
    val emb = Sources.embeddings(s, d)
    val m = 8; val subDim = 8
    pqEncode(s, fanOut(emb), trainPqCached(s, emb, d), m, subDim)
      .groupBy("vec_id")
      .agg(
        concat_ws("-", transform(array_sort(collect_list(struct(col("sub"), col("best.cell").as("cell")))),
          p => p.getField("cell").cast("string"))).as("codes"),
        round(sum(col("best.d2")) / lit(m * subDim), 8).as("recon_mse"))
      .orderBy("vec_id")
  }

  /** ADC (asymmetric distance) nearest neighbor over PQ codes
    * (`sim_pq_adc`): query vectors (vec_id < 8) stay full-precision, the
    * corpus is searched through its 8-byte codes. Per-query distances
    * come from a LOOKUP TABLE — (query, subspace, cell) partial squared
    * distances, |q|·m·k rows (1024 here), computed driver-side from the
    * model and broadcast — so scanning a coded vector costs m table
    * lookups + adds instead of a 64-dim float kernel: the classic
    * IVF-ADC serving arithmetic (Jégou et al., PQ for NN search). All
    * joins are equi (codes ⨝ LUT on (sub, cell)); the per-(query, vector)
    * reduce is one sum + min_by aggregate. Trained-model op ⇒ rows-only;
    * PqSpec bounds the competitive ratio vs exact L2 search.
    */
  def pqAdcTopNeighbor(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = Sources.embeddings(s, d)
    val m = 8; val subDim = 8
    val model = trainPqCached(s, emb, d)
    val corpusCodes = pqEncode(s, fanOut(emb.filter(col("vec_id") >= 8)), model, m, subDim)
      .select(col("vec_id"), col("sub"), col("best.cell").as("cell"))
    // query set is bounded (the search REQUEST, not the corpus): collect
    // and expand against the model into the ADC lookup table
    val queries = emb.filter(col("vec_id") < 8)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    val lut = for {
      (qid, qv) <- queries.toSeq
      ((sub, cell), cent) <- model
    } yield {
      var acc = 0.0
      var i = 0
      while (i < subDim) {
        val diff = qv(sub * subDim + i).toDouble - cent(i)
        acc += diff * diff
        i += 1
      }
      (qid, sub, cell, acc)
    }
    corpusCodes
      .join(broadcast(lut.toDF("q_id", "sub", "cell", "pd")), Seq("sub", "cell"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sum("pd").as("adc_d2"))
      .groupBy("q_id")
      .agg(min_by(col("vec_id"), struct(col("adc_d2"), col("vec_id"))).as("nn_id"),
        round(min(struct(col("adc_d2"), col("vec_id"))).getField("adc_d2"), 6).as("adc_d2"))
      .orderBy("q_id")
  }

  /** Composed IVFADC serving path (`sim_ivfadc_topk`) — the canonical
    * billion-scale ANN architecture (Jégou et al.: inverted file +
    * asymmetric distance): a coarse probe selects each query's
    * `nprobe = 2` nearest quantizer cells, and ADC re-ranks ONLY the PQ
    * codes indexed in those cells. Both model artifacts serve from their
    * persisted tables ([[quantizerServed]] centroids,
    * [[trainPqCached]] codebook) — a fresh session runs this query
    * without retraining anything.
    *
    * Scale shape: the index side (coarse cell + 8×4-bit code per corpus
    * vector) is two equi-joined map-side passes; candidate generation is
    * an equi-join of the code table against the |q|·nprobe broadcast
    * probe list, so the scanned fraction is nprobe/k of the corpus
    * (PqSpec asserts the candidate count); scoring is m lookup-adds per
    * candidate against the broadcast |q|·m·k LUT; the per-query top-5 is
    * a bounded window over candidates. No stage touches vectors outside
    * the probed cells. Trained-model op ⇒ rows-only; PqSpec asserts
    * probed-cell containment and a recall floor vs exact search.
    */
  def ivfAdcTopK(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = Sources.embeddings(s, d)
    val m = 8; val subDim = 8; val nprobe = 2
    val cents = quantizerServed(s, d, emb)
    val model = trainPqCached(s, emb, d)
    val corpus = fanOut(emb.filter(col("vec_id") >= 8))
    val qs = emb.filter(col("vec_id") < 8)
    // index side: coarse cell (top-1) + PQ codes, equi-joined on vec_id
    val cellOf = assignCells(corpus, cents, 1)
      .select(col("vec_id"), element_at(col("cells"), 1).getField("cent_id").as("cell"))
    val codes = pqEncode(s, corpus, model, m, subDim)
      .select(col("vec_id"), col("sub"), col("best.cell").as("code"))
      .join(cellOf, "vec_id")
    // query side: probe cells through the SAME assignment metric/tie-break
    // as the index, so a query always probes the cell its own vector
    // would index into
    val probes = assignCells(qs, cents, nprobe)
      .select(col("vec_id").as("q_id"), explode(col("cells")).as("pc"))
      .select(col("q_id"), col("pc.cent_id").as("cell"))
    // ADC lookup table from the bounded query REQUEST set (|q|·m·k rows)
    val queries = qs.select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    val lut = for {
      (qid, qv) <- queries.toSeq
      ((sub, cell), cent) <- model
    } yield {
      var acc = 0.0
      var i = 0
      while (i < subDim) {
        val diff = qv(sub * subDim + i).toDouble - cent(i)
        acc += diff * diff
        i += 1
      }
      (qid, sub, cell, acc)
    }
    val w = Window.partitionBy("q_id").orderBy(col("adc_d2").asc, col("vec_id").asc)
    codes.join(broadcast(probes), Seq("cell")) // candidates: probed cells only
      .join(broadcast(lut.toDF("q_id", "sub", "code", "pd")), Seq("q_id", "sub", "code"))
      .groupBy("q_id", "vec_id")
      .agg(sum("pd").as("adc_d2"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 5)
      .select(col("q_id"), col("rn"), col("vec_id"), round(col("adc_d2"), 6).as("adc_d2"))
      .orderBy("q_id", "rn")
  }

  /** Exact maximum-inner-product top-k (`sim_mips_topk`): for each query
    * vector, the 5 corpus vectors with the largest dot product —
    * retrieval scoring when embeddings are NOT length-normalized (inner
    * product ≠ cosine: norm carries salience). Brute-force baseline with
    * the same broadcast-queries/stream-corpus shape as `sim_cosine_topk`;
    * the scale path is [[mipsAugmented]], which reduces MIPS to cosine so
    * the LSH/IVF/PQ indexes serve it unchanged.
    */
  def mipsTopK(s: SparkSession, d: String): DataFrame = {
    val emb = Sources.embeddings(s, d)
    val q = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val scored = emb.filter(col("vec_id") >= 8).crossJoin(broadcast(q))
      .select(col("q_id"), col("vec_id"),
        // native fused loop (graft.functions.DotProduct) — the HOF dot
        // walks three lambda chains per row on the hot scoring path
        graft.functions.Num.roundNorm(call_function("dot_product", col("embedding"), col("q_emb")), 4)
          .as("ip"))
    val w = Window.partitionBy("q_id").orderBy(col("ip").desc, col("vec_id"))
    scored.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 5)
      .select(col("q_id"), col("rn"), col("vec_id"), col("ip"))
      .orderBy("q_id", "rn")
  }

  /** The Neyshabur–Srebro MIPS→cosine reduction: corpus vectors augment
    * with sqrt(M² − |x|²) (M = max corpus norm, a 1-row bounded
    * aggregate) so every augmented vector has norm M; queries augment
    * with 0. Then cos(x̂, q̂) = ⟨x, q⟩ / (M·|q|) — MONOTONE in the inner
    * product for a fixed query — so any cosine index (LSH buckets, IVF
    * cells, PQ codes) answers MIPS without modification. Returns
    * (vec_id, aug) rows; ranking parity with [[mipsTopK]] is asserted in
    * OpsSpec.
    */
  private[graft] def mipsAugmented(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val emb = Sources.embeddings(s, d)
    val corpus = emb.filter(col("vec_id") >= 8)
    val m2 = corpus
      .agg(max(aggregate(col("embedding"), lit(0.0),
        (a, v) => a + v.cast("double") * v.cast("double"))).as("m2"))
      .collect()(0).getDouble(0)
    val augC = corpus.select(col("vec_id"),
      concat(transform(col("embedding"), v => v.cast("double")),
        array(sqrt(lit(m2) - aggregate(col("embedding"), lit(0.0),
          (a, v) => a + v.cast("double") * v.cast("double"))))).as("aug"))
    val augQ = emb.filter(col("vec_id") < 8).select(col("vec_id"),
      concat(transform(col("embedding"), v => v.cast("double")),
        array(lit(0.0))).as("aug"))
    (augC, augQ)
  }

  /** Fixed-point quantized embeddings (`round(x·10⁴)` per element as
    * Long), pinned once per (session, fixture) via [[graft.io.Materialized]]:
    * both k-means queries scan it — Lloyd four times (3 E-steps + the
    * census union) — so materializing the quantization once is the
    * cluster shape (a real deployment writes the quantized table next
    * to the raw embeddings).
    */
  private[graft] def quantEmb(s: SparkSession, d: String): DataFrame =
    graft.io.Materialized.of(s, s"kmeansQv|$d") {
      // repartition BEFORE the quantization projection: the embeddings
      // fixture is one parquet file, so the inherited split layout
      // would run the per-element transform (and every downstream
      // k-means / ANN consumer of the pinned single partition) on one
      // core — the single-partition-build class SharedTablesSpec sweeps
      Sources.embeddings(s, d)
        .repartition(math.max(2, s.sparkContext.defaultParallelism)) // floor 2: single-core sessions report parallelism 1
        .select(col("vec_id"),
          transform(col("embedding"),
            x => round(x.cast("double") * 10000).cast("long")).as("qv"))
    }

  // ---- SemDeDup with frozen sign-projection buckets (r12) ------------

  /** Six published integer directions (the [[Decomp]] frozen-basis
    * formula family) whose dot-product SIGNS bucket the corpus into
    * ≤ 2⁶ semantic cells.
    */
  private val semBases: Array[Array[Long]] = Array(
    (7L, 3L, 17L), (5L, 11L, 19L), (11L, 5L, 23L),
    (13L, 7L, 29L), (3L, 1L, 13L), (17L, 2L, 31L),
  ).map { case (a, b, m) =>
    Array.tabulate(64)(i => ((a * i + b) % m) - m / 2)
  }

  private def semDotQ(basis: Array[Long]): Column =
    aggregate(zip_with(col("qv"), lit(basis), (x, y) => x * y),
      lit(0L), (acc, v) => acc + v)

  /** Semantic dedup (`sim_semdedup_frozen`) — the SemDeDup shape
    * (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): cluster the embedding
    * space, then keep ONE representative per cluster (here the vector
    * closest to the cluster mean, the paper's keep-centroid-closest
    * policy) and mark the rest as semantic duplicates. The paper
    * clusters with trained k-means — not oracle-replayable — so this
    * runs the identical plan with FROZEN sign-projection buckets
    * (bucket = 6 sign bits of published integer projections, the
    * [[Decomp]] frozen-basis discipline), putting the whole pipeline
    * under the DuckDB hash gate.
    *
    * Plan shape at 100 TB: bucketing is one map-side codegen'd HOF pass
    * over the quantized lattice; the per-bucket (n, Σqv) stats are a
    * keyed aggregate bounded by buckets × dim (model-sized — more sign
    * bits at larger corpora keep buckets bounded, the stats stay a
    * broadcast); the distance-to-mean pass is a broadcast join + one
    * HOF fold — corpus rows shuffle ONCE, for the per-bucket keep
    * election. Exactness: distance² to the mean is computed scaled by
    * n_b² — d2 = Σᵢ (n_b·qvᵢ − Sᵢ)², exact BIGINTs both engines share
    * (|n_b·qv| ≤ corpusmax·lattice ≈ 2³⁵ on the fixtures; a 100 TB run
    * switches the election to per-bucket MEAN-centered doubles or
    * DECIMAL accumulation — the plan is unchanged).
    */
  /** Open-ended frozen direction family: j < 6 returns the published
    * [[semBases]] (the fixture-frozen, oracle-replayed directions);
    * j ≥ 6 extends with the same published formula class
    * c_j[i] = ((7j+3)·i + (11j+5)) mod (37+2j) − (37+2j) div 2 — so a
    * larger corpus can take MORE sign bits without retraining anything
    * (still deterministic, still oracle-replayable if a future frozen
    * query publishes its bit count).
    */
  private[graft] def semBasisExt(j: Int): Array[Long] =
    if (j < semBases.length) semBases(j)
    else {
      val m = 37L + 2L * j
      val a = 7L * j + 3L
      val b = 11L * j + 5L
      Array.tabulate(64)(i => ((a * i + b) % m) - m / 2)
    }

  /** `bits`-bit sign bucket of `qv` along [[semBasisExt]]. */
  private[graft] def signBucketCol(bits: Int): Column =
    (0 until bits).map { j =>
      when(semDotQ(semBasisExt(j)) >= 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** 6-bit sign bucket of `qv` along [[semBases]] — shared by the
    * SemDeDup election and the multiprobe ANN query.
    */
  private def semBucketCol: Column = signBucketCol(6)

  /** SemDeDup election over the quantized corpus in the 2⁶ frozen
    * [[semBucketCol]] buckets: map-side bucketing, model-sized stats
    * (2⁶ buckets × 64 longs, collected), broadcast d² scoring, ONE corpus
    * shuffle for the election. A fixed bucket count makes per-bucket work
    * grow linearly with the corpus — at 100 TB / 1e11 rows each bucket
    * holds ~1.6e9 rows and the per-bucket election window becomes a
    * 64-task ceiling. The fix is arithmetic, not architectural: bits =
    * log₂(n / target) with the same plan keeps per-bucket occupancy at
    * the constant target (past ~2²⁰ buckets the stats collect becomes a
    * broadcast-free shuffle join, same shape). PLANS.md "Round-13:
    * frozen-bucket occupancy probe" records fixed vs scaled occupancy.
    */
  def semDedupFrozen(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val q = quantEmb(s, d).withColumn("bucket", semBucketCol)
    // per-bucket per-dim exact sums: bounded by 2^6 buckets x 64 dims
    val stats = q.select(col("bucket"), posexplode(col("qv")).as(Seq("i", "x")))
      .groupBy("bucket", "i")
      .agg(sum("x").as("sx"), count(lit(1)).as("nb"))
      .collect()
    val statRows = stats.groupBy(_.getLong(0)).map { case (b, rs) =>
      val arr = new Array[Long](64)
      rs.foreach(r => arr(r.getInt(1)) = r.getLong(2))
      (b, rs.head.getLong(3), arr)
    }.toSeq
    val statDf = statRows.toDF("bucket", "nb", "sv")
    val scored = q.join(broadcast(statDf), "bucket")
      .select(col("vec_id"), col("bucket"),
        aggregate(
          zip_with(col("qv"), col("sv"),
            (x, sv) => (col("nb") * x - sv) * (col("nb") * x - sv)),
          lit(0L), (acc, v) => acc + v).as("d2"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("bucket").orderBy(col("d2").asc, col("vec_id").asc)
    scored.withColumn("is_kept", row_number().over(w) === 1)
      .select(col("vec_id"), col("bucket"), col("d2"), col("is_kept"))
      .orderBy("vec_id")
  }

  /** 8 frozen IVF coarse centroids — published integer formulas
    * c_j[i] = 100·(((7j+3)·i + (11j+5)) mod (13+2j) − (13+2j) div 2),
    * the Decomp frozen-basis discipline applied to a coarse quantizer.
    */
  private val ivfFrozenCentroids: Array[Array[Long]] = Array.tabulate(8) { j =>
    val m = 13L + 2L * j
    val a = 7L * j + 3L
    val b = 11L * j + 5L
    Array.tabulate(64)(i => (((a * i + b) % m) - m / 2) * 100L)
  }

  /** IVF ANN with FROZEN coarse centroids (`sim_ivf_frozen`) — the
    * hash-gated twin of the trained [[sim_ann_ivf]] sketch, the same
    * way `sim_multiprobe_frozen` twins the trained LSH: corpus vectors
    * assign to their nearest of 8 published integer centroids (exact
    * d², map-side literal argmin with ties to the smaller cell — the
    * k-means-assign plan shape, no join), queries probe their nearest
    * TWO cells (nprobe = 2, the IVF recall knob), candidates come from
    * one equi-join of the 2·|q| probe rows against the cell-assigned
    * corpus, and the exact integer dot ranks top-3. Every stage of the
    * serving path — assignment, probe selection, cell join, re-rank —
    * is the production IVF plan; only the centroid TRAINING stays
    * rows-only (in the trained twin), exactly the split the logreg
    * family uses. `probe_rank` rides out under the hash so the oracle
    * certifies second-probe candidates genuinely serve.
    */
  def ivfFrozen(s: SparkSession, d: String): DataFrame = {
    val dists = ivfFrozenCentroids.zipWithIndex.map { case (cj, j) =>
      struct(
        aggregate(zip_with(col("qv"), lit(cj), (x, y) => (x - y) * (x - y)),
          lit(0L), (a, v) => a + v).as("d"),
        lit(j.toLong).as("j"))
    }
    val assigned = quantEmb(s, d).withColumn("cells", array_sort(array(dists: _*)))
    val corpus = assigned.filter(col("vec_id") >= 8)
      .select(col("vec_id"), col("qv").as("cv"),
        col("cells")(0).getField("j").as("cell"))
    val probes = assigned.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("qv").as("qe"),
        posexplode(slice(col("cells"), 1, 2)))
      .select(col("q_id"), col("qe"), (col("pos") + 1).cast("long").as("probe_rank"),
        col("col").getField("j").as("cell"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("dot").desc, col("vec_id").asc)
    broadcast(probes).join(corpus, "cell")
      .withColumn("dot", aggregate(zip_with(col("qe"), col("cv"),
        (x, y) => x * y), lit(0L), (a, v) => a + v))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("q_id"), col("rank"), col("vec_id"), col("dot"), col("probe_rank"))
      .orderBy("q_id", "rank")
  }

  /** IVF recall/cost tuning sweep (`sim_ivf_nprobe_sweep`, r13): THE
    * table an ANN deployment is tuned from — recall@10 against the
    * exact top-10 and candidate volume, at nprobe ∈ {1, 2, 4} over
    * the same frozen coarse centroids as [[ivfFrozen]]. Each arm is
    * the serving plan itself (bucketed broadcast-probe equi-join +
    * exact integer dot top-10), the exact arm is the brute-force scan
    * (8-query broadcast, the cosineTopK class), and recall ships as
    * the exact integer floor Σhits·1e6 div 80 (8 queries × k=10 — the
    * denominator is FIXED, so an under-filled candidate set honestly
    * costs recall instead of shrinking its own denominator). The
    * whole sweep is hash-gated: every hit count and candidate count
    * exact. The assigned table and the exact arm are pinned once and
    * shared by all three arms.
    */
  def ivfNprobeSweep(s: SparkSession, d: String): DataFrame = {
    val dists = ivfFrozenCentroids.zipWithIndex.map { case (cj, j) =>
      struct(
        aggregate(zip_with(col("qv"), lit(cj), (x, y) => (x - y) * (x - y)),
          lit(0L), (a, v) => a + v).as("d"),
        lit(j.toLong).as("j"))
    }
    val assigned = graft.io.Checkpoints.pin(
      quantEmb(s, d).withColumn("cells", array_sort(array(dists: _*))),
      eager = false)
    val corpus = assigned.filter(col("vec_id") >= 8)
      .select(col("vec_id"), col("qv").as("cv"),
        col("cells")(0).getField("j").as("cell"))
    val queries = assigned.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("qv").as("qe"), col("cells"))
    val dot = aggregate(zip_with(col("qe"), col("cv"), (x, y) => x * y),
      lit(0L), (a, v) => a + v)
    val wQ = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("dot").desc, col("vec_id").asc)
    val exact = graft.io.Checkpoints.pin(
      corpus.crossJoin(broadcast(queries.select(col("q_id"), col("qe"))))
        .withColumn("dot", dot)
        .withColumn("rank", row_number().over(wQ))
        .filter(col("rank") <= 10).select("q_id", "vec_id"),
      eager = false)
    Seq(1, 2, 4).map { np =>
      val probes = queries
        .select(col("q_id"), col("qe"),
          explode(slice(col("cells"), 1, np)).as("c0"))
        .select(col("q_id"), col("qe"), col("c0").getField("j").as("cell"))
      val cand = graft.io.Checkpoints.pin(
        broadcast(probes).join(corpus, "cell"), eager = false)
      val nCand = cand.agg(count(lit(1)).as("sum_candidates"))
      val approx = cand.withColumn("dot", dot)
        .withColumn("rank", row_number().over(wQ))
        .filter(col("rank") <= 10).select("q_id", "vec_id")
      approx.join(exact, Seq("q_id", "vec_id"))
        .agg(count(lit(1)).as("sum_hits"))
        .crossJoin(broadcast(nCand))
        .select(lit(np.toLong).as("nprobe"), lit(8L).as("n_queries"),
          col("sum_hits"), expr("(sum_hits * 1000000L) div 80")
            .as("recall_e6"),
          col("sum_candidates"))
    }.reduce(_ unionAll _).orderBy("nprobe")
  }

  /** Multi-probe ANN over the frozen sign buckets
    * (`sim_multiprobe_frozen`): each query probes its own bucket PLUS
    * the 6 buckets at Hamming distance 1 (one sign bit flipped) — the
    * multi-probe LSH idea (Lv et al., VLDB 2007): near neighbors that
    * land just across a projection hyperplane sit in an adjacent
    * bucket, so probing neighbors buys recall WITHOUT growing the
    * table count. Candidates come from one equi-join of the 7·|q|
    * broadcast probe rows against the bucketed corpus — never a
    * corpus×query scan — then the exact integer dot ranks top-3
    * (ties to the smaller id). `probe_dist` records which ring each
    * winner came from: a hash gate over it proves distance-1 probes
    * genuinely contribute winners on this fixture. Fully
    * oracle-replayable because the buckets are the frozen published
    * projections — the trained-LSH twin (`sim_ann_lsh`) stays
    * rows-only; at scale the probe ring generalizes to distance ≤ r
    * with the identical join shape. Bucket width shares the
    * [[semDedupFrozen]] corpus-scaled arithmetic: at n rows take
    * log₂(n / target) bits (the ring grows to bits+1 probes — still
    * O(log n) probe rows per query, never corpus-sized) so per-bucket
    * candidates stay at the constant target; PLANS.md "Round-13:
    * frozen-bucket occupancy probe" records fixed-vs-scaled occupancy
    * at ×1/×4/×16/×64.
    */
  def multiprobeFrozen(s: SparkSession, d: String): DataFrame = {
    val q0 = quantEmb(s, d).withColumn("bucket", semBucketCol)
    val corpus = q0.filter(col("vec_id") >= 8)
      .select(col("vec_id"), col("qv").as("cv"), col("bucket"))
    val queries = q0.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("qv").as("qe"), col("bucket").as("bq"))
    val probes = queries.withColumn("bucket", explode(array(
      col("bq") +: (0 until 6).map(j => col("bq").bitwiseXOR(lit(1L << j))): _*)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("dot").desc, col("vec_id").asc)
    broadcast(probes).join(corpus, "bucket")
      .withColumn("dot", aggregate(zip_with(col("qe"), col("cv"),
        (x, y) => x * y), lit(0L), (a, v) => a + v))
      .withColumn("probe_dist", bit_count(col("bq").bitwiseXOR(col("bucket"))).cast("long"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("q_id"), col("rank"), col("vec_id"), col("dot"), col("probe_dist"))
      .orderBy("q_id", "rank")
  }

  /** Map-side integer argmin over DRIVER-LITERAL centroids: each
    * centroid becomes a literal array, every distance a codegen'd
    * `zip_with`/`aggregate` fold, and `least` over the k
    * `struct(d2, cid)` terms reproduces `min(struct(d2, cid))` —
    * smallest d2, ties to the lower centroid id — WITHOUT the
    * crossJoin + groupBy(vec_id) that would shuffle the whole corpus
    * payload k×. This is the E-step shape that survives 100 TB: k·dim
    * literals ride the closure to every task; the scan stays a single
    * pure projection with no Exchange before the k-row census.
    */
  private def nearestLiteralCentroid(cents: Seq[(Long, Array[Long])]): Column =
    least(cents.map { case (c, v) =>
      struct(
        aggregate(zip_with(col("qv"), array(v.map(lit(_)): _*),
          (x, y) => (x - y) * (x - y)), lit(0L), (acc, e) => acc + e).as("d2"),
        lit(c).as("cid"))
    }: _*)

  /** Simplified silhouette per cluster (`ml_silhouette_frozen`, r13):
    * the clustering-quality score (Rousseeuw 1987, in the
    * centroid-distance simplification of Hruschka et al. — O(n·k), the
    * only form that scales; pairwise silhouette is O(n²)) against the
    * SAME deterministic k = 8 seed centroids as [[kmeansAssign]]:
    * a = distance to own (nearest) centroid, b = distance to the
    * second-nearest, s = (b − a)/b — the max(a,b) denominator
    * simplifies to b because the two distances come SORTED from the
    * same array. Exact shape: squared distances are exact Longs on the
    * e4 lattice (the kmeansAssign argmin currency) via one
    * `array_sort` over the 8 literal-centroid d² expressions — no
    * join, no shuffle, whole-stage codegen; the ONLY doubles are one
    * mirrored (√b² − √a²)/√b² per row, rounded to e6 and summed as
    * integers; the per-cluster mean mirrors round(sum/n) rather than
    * an integer div (negative sums — the bowleySkew trunc/floor trap).
    */
  def silhouetteFrozen(s: SparkSession, d: String): DataFrame = {
    val emb = quantEmb(s, d)
    val seeds = emb.filter(col("vec_id") < 8).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).sortBy(_._1).toSeq
    val d2s = array_sort(array(seeds.map { case (_, v) =>
      aggregate(zip_with(col("qv"), array(v.map(lit(_)): _*),
        (x, y) => (x - y) * (x - y)), lit(0L), (acc, e) => acc + e)
    }: _*))
    emb.select(nearestLiteralCentroid(seeds).as("b"), d2s.as("ds"))
      .select(col("b.cid").as("cluster_id"),
        col("ds").getItem(0).as("a2"), col("ds").getItem(1).as("b2"))
      .withColumn("s_e6", when(col("b2") > 0,
        round(lit(1e6) *
          (sqrt(col("b2").cast("double")) - sqrt(col("a2").cast("double"))) /
          sqrt(col("b2").cast("double"))).cast("long"))
        .otherwise(lit(0L)))
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_vecs"), sum("s_e6").as("sum_s_e6"),
        min("s_e6").as("min_s_e6"))
      .withColumn("mean_s_e6", round(
        col("sum_s_e6").cast("double") / col("n_vecs").cast("double"))
        .cast("long"))
      .orderBy("cluster_id")
  }

  /** One exact k-means assignment step (`ml_kmeans_assign`): every
    * vector assigned to its nearest of k=8 seed centroids (the first 8
    * vectors by id — deterministic seeding), with per-cluster size and
    * mean squared distance. Distances are computed on FIXED-POINT
    * integer coordinates (`round(x·10⁴)` per element), so the argmin —
    * the decision both engines could disagree on in float — compares
    * exact Longs (64 dims × (2·10⁴)² ≤ 2.6e10, nowhere near overflow)
    * and ties break on the lower centroid id. Plan: the 8 seeds are a
    * model-sized driver collect inlined as literals
    * ([[nearestLiteralCentroid]]), so the E-step is one codegen'd
    * projection over a single scan — no join, no shuffle — followed by
    * the k-row census aggregate. The M-step is the same shape with the
    * assignment as the key — [[pqTrain]] runs that loop for the PQ
    * codebooks.
    */
  def kmeansAssign(s: SparkSession, d: String): DataFrame = {
    val emb = quantEmb(s, d)
    val seeds = emb.filter(col("vec_id") < 8).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).sortBy(_._1).toSeq
    emb.select(nearestLiteralCentroid(seeds).as("b"))
      .select(col("b.cid").as("cluster_id"), col("b.d2").as("d2"))
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_vecs"), sum("d2").as("sum_d2"))
      .select(col("cluster_id"), col("n_vecs"),
        expr("sum_d2 div n_vecs").as("mean_d2"))
      .orderBy("cluster_id")
  }

  /** Three full Lloyd iterations (`ml_kmeans_lloyd`): E-step as in
    * [[kmeansAssign]] — centroids live driver-side between iterations
    * anyway, so they enter each E-step as LITERALS
    * ([[nearestLiteralCentroid]]) and the assignment is a pure map-side
    * projection over the pinned quantized table ([[quantEmb]]): zero
    * Exchange before the k-row census, where the old
    * crossJoin + groupBy(vec_id) shape shuffled the full embedding
    * payload k× per iteration. The M-step recomputes each centroid as
    * the ELEMENTWISE TRUNCATED integer mean of its members — `div`
    * keeps every coordinate an exact Long, and Spark's `div`, Scala's
    * `/` and DuckDB's `//` all truncate toward zero, so the negative
    * embedding sums stay bit-identical across engines (verified:
    * −7 div 2 = −3 in all three). Its `posexplode + groupBy(cid, pos)`
    * reduces map-side to k·dim partials per partition, so the shuffle
    * and the driver collect are model-sized (8×64) — the same
    * bounded-collect class as the PQ codebooks. Per-iteration output is
    * the cluster census (size + inertia), the convergence trace an
    * operator dashboard plots. Empty clusters keep their previous
    * centroid (same coalesce rule in the oracle).
    */
  def kmeansLloyd(s: SparkSession, d: String): DataFrame = {
    val emb = quantEmb(s, d)
    var centMap: Map[Long, Array[Long]] =
      emb.filter(col("vec_id") < 8).collect()
        .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    val stats = scala.collection.mutable.ArrayBuffer[DataFrame]()
    for (t <- 1 to 3) {
      val assign = emb
        .select(col("qv"), nearestLiteralCentroid(centMap.toSeq.sortBy(_._1)).as("b"))
        .select(col("qv"), col("b.cid").as("cid"), col("b.d2").as("d2"))
      stats += assign.groupBy("cid")
        .agg(count(lit(1)).as("n_vecs"), sum("d2").as("inertia"))
        .select(lit(t.toLong).as("iter"), col("cid").as("cluster_id"),
          col("n_vecs"), col("inertia"))
      if (t < 3) {
        val sums = assign
          .select(col("cid"), posexplode(col("qv")).as(Seq("pos", "x")))
          .groupBy("cid", "pos")
          .agg(sum("x").as("sx"), count(lit(1)).as("cn"))
          .collect()
        val updated = sums.groupBy(_.getLong(0)).map { case (c, rows) =>
          c -> rows.sortBy(_.getInt(1))
            .map(r => r.getLong(2) / r.getLong(3)).toArray
        }
        centMap = centMap ++ updated // empty cluster keeps previous centroid
      }
    }
    stats.reduce(_ unionAll _).orderBy("iter", "cluster_id")
  }

  /** Matryoshka prefix-recall audit (`sim_prefix_recall`): for each of
    * the 8 query vectors, how many of the full-dimension top-5 MIPS
    * neighbors survive when scoring with only the FIRST 16 of 64
    * dimensions — the measurement that decides whether truncated
    * ("matryoshka") embeddings can serve the first-stage retrieval at a
    * fraction of the dot-product cost. Both rankings use QUANTIZED
    * integer dot products (round(x·10⁴) per element), so every score,
    * both top-5 cuts (ties broken by vec_id) and the overlap count are
    * exact Longs in any engine. Plan: one broadcast of the 8 queries,
    * N·k codegen'd dot products, two per-query (bounded-partition)
    * rank windows, an equi-join of the two top-5 sets. At corpus scale
    * the candidate ranking is TakeOrdered-shaped per query — the same
    * serving path as [[mipsTopK]].
    */
  def prefixRecall(s: SparkSession, d: String): DataFrame = {
    val emb = quantEmb(s, d)
    val queries8 = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("qv").as("qe"))
    val cands = emb.filter(col("vec_id") >= 8).select(col("vec_id"), col("qv"))
    def dot(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, v) => acc + v)
    val scored = cands.crossJoin(broadcast(queries8))
      .select(col("q_id"), col("vec_id"),
        dot(slice(col("qv"), 1, 16), slice(col("qe"), 1, 16)).as("dp16"),
        dot(col("qv"), col("qe")).as("dp64"))
    val w16 = Window.partitionBy("q_id").orderBy(col("dp16").desc, col("vec_id"))
    val w64 = Window.partitionBy("q_id").orderBy(col("dp64").desc, col("vec_id"))
    val ranked = scored
      .withColumn("r16", row_number().over(w16))
      .withColumn("r64", row_number().over(w64))
    val top16 = ranked.filter(col("r16") <= 5).select("q_id", "vec_id")
    val top64 = ranked.filter(col("r64") <= 5).select("q_id", "vec_id")
    val overlap = top64.join(top16, Seq("q_id", "vec_id"))
      .groupBy("q_id").agg(count(lit(1)).as("n_overlap"))
    queries8.select("q_id").join(overlap, Seq("q_id"), "left")
      .select(col("q_id"), coalesce(col("n_overlap"), lit(0L)).as("n_overlap"))
      .orderBy("q_id")
  }

  /** Probe-vs-corpus scores on the e4 INTEGER cosine lattice, ranked per
    * probe (rn = 1 is the nearest corpus vector). Shared by the
    * contrastive-mining and MMR serving twins: probes are the 8 fixture
    * query vectors, scores are `round(cos·10⁴)` BIGINTs — quantize-then-
    * compare (the EntityRes rule), so every downstream comparison,
    * margin, and tie-break is exact integer arithmetic and the DuckDB
    * hash needs no float-ordering tolerance.
    */
  private def probeRankedE4(s: SparkSession, d: String): DataFrame = {
    val emb = Sources.embeddings(s, d)
    val q = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val scored = fanOut(emb.filter(col("vec_id") >= 8)).crossJoin(broadcast(q))
      .select(col("q_id"), col("vec_id"),
        round(cosine(col("embedding"), col("q_emb")) * 10000).cast("long")
          .as("cos_e4"))
    val w = Window.partitionBy("q_id").orderBy(col("cos_e4").desc, col("vec_id"))
    scored.withColumn("rn", row_number().over(w).cast("long"))
  }

  /** Rocchio pseudo-relevance feedback (`sim_rocchio_prf`, r13): the
    * classic query-expansion loop — retrieve top-3 by exact integer
    * dot on the quantized lattice, move the query toward their
    * centroid, re-retrieve. The expansion uses PUBLISHED INTEGER
    * weights q' = 21·q + 7·Σ_{top3} v (α:β = 21:7 ≡ the textbook
    * 1 : 1 with the ÷3 centroid division cleared — no rational ever
    * appears, so the whole two-round trajectory sits under the hash
    * gate; the same derandomized-trajectory discipline as the frozen
    * ANN serving twins). Ships the expanded top-5 per probe with the
    * `in_base_top5` flag — the rows where expansion CHANGED the
    * answer are PRF's entire value proposition, made visible. Plan:
    * two probe-broadcast corpus scans (the [[cosineTopK]] shape; q'
    * assembles from 8×64 exploded dims — model-sized), two
    * WindowGroupLimit ranks.
    */
  def rocchioPrf(s: SparkSession, d: String): DataFrame = {
    val e = quantEmb(s, d)
    val q = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("qv").as("q_qv"))
    val c = e.filter(col("vec_id") >= 8)
    def dotOf(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, v) => acc + v)
    val base = c.crossJoin(broadcast(q))
      .select(col("q_id"), col("vec_id"), dotOf(col("qv"), col("q_qv")).as("dot"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("q_id").orderBy(col("dot").desc, col("vec_id")))
        .cast("long"))
      .pinned(eager = false) // top-3 expansion AND the top-5 overlap audit
    val top3Dims = base.filter(col("rn") <= 3)
      .join(c, Seq("vec_id"))
      .select(col("q_id"), posexplode(col("qv")))
      .toDF("q_id", "i", "x")
      .groupBy("q_id", "i").agg(sum("x").as("s3"))
    val qprime = top3Dims
      .join(q.select(col("q_id"), posexplode(col("q_qv"))).toDF("q_id", "i", "qx"),
        Seq("q_id", "i"))
      .withColumn("qp", lit(21L) * col("qx") + lit(7L) * col("s3"))
      .groupBy("q_id")
      .agg(transform(array_sort(collect_list(struct(col("i"), col("qp")))),
        x => x.getField("qp")).as("qp_vec"))
    val rescored = c.crossJoin(broadcast(qprime))
      .select(col("q_id"), col("vec_id"),
        dotOf(col("qv"), col("qp_vec")).as("dot_prime"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("q_id").orderBy(col("dot_prime").desc, col("vec_id")))
        .cast("long"))
      .filter(col("rn") <= 5)
    rescored
      .join(base.filter(col("rn") <= 5)
        .select(col("q_id"), col("vec_id"), lit(true).as("in_base_top5")),
        Seq("q_id", "vec_id"), "left")
      .select(col("q_id"), col("rn"), col("vec_id"), col("dot_prime"),
        coalesce(col("in_base_top5"), lit(false)).as("in_base_top5"))
      .orderBy("q_id", "rn")
  }

  /** Cluster-quality evaluation (`ml_cluster_purity`, r13): purity and
    * NMI of the frozen 6-bit sign-projection buckets against the
    * embedding labels — the external-validity audit that tells a
    * SemDeDup/IVF deployment whether its partition geometry tracks the
    * semantics it claims to (high purity = buckets are label-coherent;
    * NMI corrects purity's bucket-count inflation, the reason both
    * ship). Per-cell mutual-information terms n_bl·ln(n·n_bl/(n_b·n_l))
    * and per-margin entropy terms round onto the e6 lattice PER
    * CELL/MARGIN ROW before their sums (psi rule); purity's numerator
    * Σ_b max_l n_bl is pure integer; NMI = I/√(H_B·H_L) is ONE
    * mirrored double off the three exact e6 sums. Plan: one map-side
    * HOF bucketing pass, one (bucket × label) keyed aggregate — cell
    * count bounded by 2⁶·|labels|, model-sized — then dimension-table
    * joins only.
    */
  def clusterPurity(s: SparkSession, d: String): DataFrame = {
    val cells = Sources.embeddings(s, d)
      .select(col("label"),
        transform(col("embedding"),
          x => round(x.cast("double") * 10000).cast("long")).as("qv"))
      .withColumn("bucket", signBucketCol(6))
      .groupBy("bucket", "label").agg(count(lit(1)).as("n_bl"))
      .pinned(eager = false) // margins, purity, and the I terms
    val nb = cells.groupBy("bucket").agg(sum("n_bl").as("n_b"))
    val nl = cells.groupBy("label").agg(sum("n_bl").as("n_l"))
    val nn = cells.agg(sum("n_bl").as("n"))
    def D(c: Column): Column = c.cast("double")
    val iSum = cells.join(broadcast(nb), Seq("bucket"))
      .join(broadcast(nl), Seq("label"))
      .crossJoin(broadcast(nn))
      .withColumn("t_e6", round(lit(1e6) * D(col("n_bl")) *
        log(D(col("n")) * D(col("n_bl")) / (D(col("n_b")) * D(col("n_l")))),
        0).cast("long"))
      .agg(sum("t_e6").as("i_e6"))
    val hb = nb.crossJoin(broadcast(nn))
      .withColumn("h_e6", round(lit(1e6) * D(col("n_b")) *
        log(D(col("n")) / D(col("n_b"))), 0).cast("long"))
      .agg(sum("h_e6").as("hb_e6"), count(lit(1)).as("n_buckets"))
    val hl = nl.crossJoin(broadcast(nn))
      .withColumn("h_e6", round(lit(1e6) * D(col("n_l")) *
        log(D(col("n")) / D(col("n_l"))), 0).cast("long"))
      .agg(sum("h_e6").as("hl_e6"), count(lit(1)).as("n_labels"))
    val purity = cells.groupBy("bucket").agg(max("n_bl").as("mx"))
      .agg(sum("mx").as("purity_num"))
    nn.crossJoin(broadcast(purity)).crossJoin(broadcast(iSum))
      .crossJoin(broadcast(hb)).crossJoin(broadcast(hl))
      .select(col("n"), col("n_buckets"), col("n_labels"),
        col("purity_num"),
        expr("(1000000L * purity_num) div n").as("purity_e6"),
        col("i_e6"), col("hb_e6"), col("hl_e6"),
        graft.functions.Num.roundNorm(D(col("i_e6")) /
          sqrt(D(col("hb_e6")) * D(col("hl_e6"))), 6).as("nmi"))
  }

  /** Late-interaction MaxSim scoring (`sim_maxsim_late`, r13): the
    * ColBERT retrieval primitive (Khattab & Zaharia 2020) — documents
    * and queries are MULTI-vector (published grouping: vec_id div 4,
    * so groups 0-1 are the two query docs and groups ≥ 2 the corpus),
    * and score(Q, D) = Σ_{q∈Q} max_{v∈D} cos(q, v): each query vector
    * independently finds its best-matching document vector, unlike the
    * single-vector dot the rest of the ANN family serves. On the e4
    * integer cosine lattice the max and the sum are exact, so the full
    * scoring trajectory is hash-gated. Plan: ONE corpus scan against
    * the 8-vector broadcast query side, then two keyed aggregates (max
    * per (query-vector, doc), sum per (query-doc, doc)) — both
    * map-side combinable — and a WindowGroupLimit top-5 per query doc.
    * At 100 TB this is exactly the [[cosineTopK]] serving shape ×|Q|
    * query vectors; the PLAID-style pruning path would gate the scan
    * with the IVF cells, same as the single-vector family.
    */
  def maxsimLate(s: SparkSession, d: String): DataFrame = {
    val emb = Sources.embeddings(s, d)
    val q = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), expr("vec_id div 4L").as("q_grp"),
        col("embedding").as("q_emb"))
    val scored = emb.filter(col("vec_id") >= 8).crossJoin(broadcast(q))
      .select(col("q_grp"), col("q_id"), expr("vec_id div 4L").as("d_grp"),
        round(cosine(col("embedding"), col("q_emb")) * 10000).cast("long")
          .as("cos_e4"))
    val perQvec = scored.groupBy("q_grp", "q_id", "d_grp")
      .agg(max("cos_e4").as("mx"))
    val perDoc = perQvec.groupBy("q_grp", "d_grp")
      .agg(sum("mx").as("maxsim_e4"), count(lit(1)).as("n_qvecs"))
    val w = Window.partitionBy("q_grp")
      .orderBy(col("maxsim_e4").desc, col("d_grp"))
    perDoc.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 5)
      .select(col("q_grp"), col("rn"), col("d_grp"), col("maxsim_e4"),
        col("n_qvecs"))
      .orderBy("q_grp", "rn")
  }

  /** Semi-hard negative mining (`sim_hard_negatives`, r13): the
    * contrastive-training data op (FaceNet, Schroff et al. 2015) — for
    * each anchor probe, the positive is its nearest corpus vector and
    * the mined negatives are the 3 HARDEST vectors inside the semi-hard
    * band: strictly less similar than the positive (so the loss margin
    * is active) but within a published margin 0.3 of it (so the gradient
    * is informative — easy negatives teach nothing). Both band edges
    * compare e4-lattice INTEGERS (`cos_e4 < pos_e4`,
    * `cos_e4 ≥ pos_e4 − 3000`), so band membership cannot flip on a
    * 1-ulp cosine wobble. Plan: one probe-broadcast corpus scan, one
    * bounded-partition rank window (positives = rn 1), an 8-row
    * broadcast join back, and a WindowGroupLimit top-3 — the ranked scan
    * is pinned lazily because positives and negatives both consume it.
    * At 100 TB this is the [[cosineTopK]] serving shape: the per-probe
    * band filter prunes before the final rank.
    */
  def hardNegatives(s: SparkSession, d: String): DataFrame = {
    val ranked = graft.io.Checkpoints.pin(probeRankedE4(s, d), eager = false)
    val pos = ranked.filter(col("rn") === 1)
      .select(col("q_id"), col("vec_id").as("pos_id"), col("cos_e4").as("pos_e4"))
    val band = ranked.filter(col("rn") > 1)
      .join(broadcast(pos), Seq("q_id"))
      .filter(col("cos_e4") < col("pos_e4") &&
        col("cos_e4") >= col("pos_e4") - 3000L)
    val w = Window.partitionBy("q_id").orderBy(col("cos_e4").desc, col("vec_id"))
    band.withColumn("neg_rank", row_number().over(w).cast("long"))
      .filter(col("neg_rank") <= 3)
      .select(col("q_id"), col("neg_rank"), col("vec_id").as("neg_id"),
        col("cos_e4").as("neg_e4"), col("pos_id"), col("pos_e4"))
      .orderBy("q_id", "neg_rank")
  }

  /** Maximal-marginal-relevance rerank (`sim_mmr_rerank`, r13):
    * diversified top-3 selection from each probe's top-8 candidates
    * (Carbonell & Goldstein 1998) — the serving-time dedup of retrieval:
    * a RAG or training-mix sampler that takes the raw top-k gets
    * near-duplicate passages; MMR greedily selects
    * argmax λ·rel(c) − (1−λ)·max_{s∈S} sim(c,s). λ = 7/10 is published,
    * and with rel/sim on the e4 integer lattice the objective is the
    * exact BIGINT `7·rel_e4 − 3·maxsim_e4` — every greedy choice and
    * tie-break (min vec_id) is integer-decided, so the full 3-step
    * trajectory sits under the hash gate (maxsim ≔ 0 at step 1 by
    * convention). The greedy recursion is unrolled exactly 3 steps —
    * the frozen-trajectory discipline ([[ivfFrozen]], graph_lpa_rounds).
    * Plan: candidate generation is the [[cosineTopK]] probe-broadcast
    * scan + rank window; everything after operates on the 64-row
    * candidate table (8 probes × top-8), pinned eagerly (model-sized),
    * with bounded equi-joins for the pairwise sims and min+join-back
    * argmaxes (never a struct-min SortAggregate). At 100 TB candidate
    * generation dominates and is the proven ANN serving path; the MMR
    * stage stays k²-bounded per probe by construction.
    */
  def mmrRerank(s: SparkSession, d: String): DataFrame = {
    val cand0 = probeRankedE4(s, d).filter(col("rn") <= 8)
      .select(col("q_id"), col("vec_id"), col("cos_e4").as("rel_e4"))
    // attach candidate embeddings (64-row broadcast side, corpus probes it)
    val withEmb = Sources.embeddings(s, d)
      .join(broadcast(cand0.select("vec_id").distinct()), Seq("vec_id"))
    val cand = graft.io.Checkpoints.pin(
      cand0.join(broadcast(withEmb), Seq("vec_id")))
    val pairs = graft.io.Checkpoints.pin(
      cand.select(col("q_id"), col("vec_id").as("a_id"), col("embedding").as("a_emb"))
        .join(cand.select(col("q_id"), col("vec_id").as("b_id"),
          col("embedding").as("b_emb")), Seq("q_id"))
        .filter(col("a_id") =!= col("b_id"))
        .select(col("q_id"), col("a_id"), col("b_id"),
          round(cosine(col("a_emb"), col("b_emb")) * 10000).cast("long")
            .as("sim_e4")))
    val base = cand.select(col("q_id"), col("vec_id"), col("rel_e4"))

    // step 1: argmax rel (maxsim := 0)
    def argmax(scored: DataFrame, score: String): DataFrame = {
      val m = scored.groupBy("q_id").agg(max(col(score)).as("__best"))
      scored.join(broadcast(m), Seq("q_id"))
        .filter(col(score) === col("__best"))
        .groupBy("q_id").agg(min("vec_id").as("sel_id"),
          max(col(score)).as("sel_score"))
    }
    val s1 = argmax(base.withColumn("mmr_e4", col("rel_e4") * 7), "mmr_e4")
    // step 2: penalize by sim to s1
    val rem1 = base.join(broadcast(s1), Seq("q_id"))
      .filter(col("vec_id") =!= col("sel_id"))
      .join(pairs.withColumnRenamed("a_id", "vec_id"),
        Seq("q_id", "vec_id"))
      .filter(col("b_id") === col("sel_id"))
      .select(col("q_id"), col("vec_id"), col("rel_e4"),
        (col("rel_e4") * 7 - col("sim_e4") * 3).as("mmr_e4"))
    val s2 = argmax(rem1, "mmr_e4")
    // step 3: penalize by max sim to {s1, s2}
    val selected = s1.select(col("q_id"), col("sel_id"))
      .union(s2.select(col("q_id"), col("sel_id")))
    val rem2 = base
      .join(selected.groupBy("q_id").agg(collect_set("sel_id").as("sel_set")),
        Seq("q_id"))
      .filter(!array_contains(col("sel_set"), col("vec_id")))
      .join(pairs.withColumnRenamed("a_id", "vec_id"), Seq("q_id", "vec_id"))
      .filter(array_contains(col("sel_set"), col("b_id")))
      .groupBy(col("q_id"), col("vec_id"), col("rel_e4"))
      .agg(max("sim_e4").as("maxsim_e4"))
      .select(col("q_id"), col("vec_id"), col("rel_e4"),
        (col("rel_e4") * 7 - col("maxsim_e4") * 3).as("mmr_e4"))
    val s3 = argmax(rem2, "mmr_e4")

    def out(sel: DataFrame, step: Int): DataFrame =
      sel.select(col("q_id"), lit(step.toLong).as("step"),
        col("sel_id"), col("sel_score").as("mmr_e4"))
    out(s1, 1).union(out(s2, 2)).union(out(s3, 3)).orderBy("q_id", "step")
  }

  /** Centroid drift between corpus halves
    * (`sim_centroid_drift`, r13): per label, the L1 distance between
    * the centroid computed on hash-half A and on hash-half B of the
    * corpus — the embedding-stability audit run before trusting any
    * centroid-based structure (SemDeDup buckets, IVF cells, dedup
    * thresholds): a label whose two half-corpus centroids disagree is
    * undersampled or multi-modal and its clusters are noise. Exact on
    * the cross-scaled lattice: with per-half (n, per-dim sums S of the
    * e4-quantized embedding), the per-dim difference n_b·S_a − n_a·S_b
    * is an exact BIGINT (= n_a·n_b·(μ_a − μ_b) scaled), so
    * drift_scaled = Σ_dims |n_b·S_a,d − n_a·S_b,d| carries no float
    * anywhere, and drift_e4 = drift_scaled div (n_a·n_b·64) is the
    * mean per-dim drift back on the e4 lattice. Halves by the Knuth
    * parity hash of vec_id — reproducible, disjoint, exhaustive.
    * Plan: one posexplode agg keyed by (label, half, dim) — |labels|·
    * 2·64 rows — then a dim-keyed equi-join of the halves.
    */
  def centroidDrift(s: SparkSession, d: String): DataFrame = {
    val q = Sources.embeddings(s, d)
      .select(col("label"), col("vec_id"),
        transform(col("embedding"),
          x => round(x.cast("double") * 10000).cast("long")).as("qv"))
      .withColumn("half",
        pmod(pmod(col("vec_id"), lit(1048576L)) * lit(2654435761L),
          lit(2L)))
    val byDim = q.select(col("label"), col("half"),
        posexplode(col("qv")).as(Seq("dim", "v")))
      .groupBy("label", "half", "dim")
      .agg(count(lit(1)).as("n"), sum("v").as("sv"))
    val a = byDim.filter(col("half") === 0)
      .select(col("label"), col("dim"), col("n").as("n_a"), col("sv").as("s_a"))
    val b = byDim.filter(col("half") === 1)
      .select(col("label"), col("dim"), col("n").as("n_b"), col("sv").as("s_b"))
    a.join(b, Seq("label", "dim"))
      .groupBy("label")
      .agg(max("n_a").as("n_a"), max("n_b").as("n_b"),
        sum(abs(col("n_b") * col("s_a") - col("n_a") * col("s_b")))
          .as("drift_scaled"))
      .withColumn("drift_e4",
        expr("drift_scaled div (n_a * n_b * 64L)"))
      .orderBy("label")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sim_centroid_drift" -> (centroidDrift _),
    "sim_hard_negatives" -> (hardNegatives _),
    "sim_maxsim_late" -> (maxsimLate _),
    "ml_cluster_purity" -> (clusterPurity _),
    "sim_rocchio_prf" -> (rocchioPrf _),
    "sim_mmr_rerank" -> (mmrRerank _),
    "sim_prefix_recall" -> (prefixRecall _),
    "ml_kmeans_lloyd" -> (kmeansLloyd _),
    "ml_kmeans_assign" -> (kmeansAssign _),
    "ml_silhouette_frozen" -> (silhouetteFrozen _),
    "sim_mips_topk" -> (mipsTopK _),
    "sim_ivfadc_topk" -> (ivfAdcTopK _),
    "sim_pq_adc" -> (pqAdcTopNeighbor _),
    "sim_pq_audit" -> (pqAudit _),
    "sim_quantize_int8" -> (quantizeInt8 _),
    "sim_range_count" -> (rangeCount _),
    "sim_cosine_topk" -> (cosineTopK _),
    "sim_binary_hamming" -> (binaryHamming _),
    "sim_outliers" -> (centroidOutliers _),
    "sim_cosine_topk_native" -> (cosineTopKNative _),
    "sim_centroid_udaf" -> (centroidUdaf _),
    "dedup_embedding_cosine" -> (dedupEmbeddingCosine _),
    "sim_dedup_groups" -> (dedupEmbeddingGroups _),
    "sim_dedup_incremental" -> (dedupEmbeddingIncremental _),
    "sim_ann_lsh" -> ((s, d) => annLshTopNeighbor(s, d)),
    "sim_ann_ivf" -> (ivfTopNeighbor _),
    "sim_centroid_by_label" -> (centroidByLabel _),
    "sim_norm_stats" -> (normStats _),
    "sim_semdedup_frozen" -> (semDedupFrozen _),
    "sim_multiprobe_frozen" -> (multiprobeFrozen _),
    "sim_ivf_frozen" -> (ivfFrozen _),
    "sim_ivf_nprobe_sweep" -> (ivfNprobeSweep _),
    "sim_pq_adc_frozen" -> (pqAdcFrozen _),
    "ml_knn_eval" -> (knnEval _),
  )

  /** Exact-integer kNN classifier evaluation (`ml_knn_eval`, r13): the
    * other half of the ANN story — once neighbors can be found, the
    * first thing a pipeline does with them is VOTE. Eval set =
    * vec_ids 8..39 (32 vectors — the bounded REQUEST, broadcast like
    * every serving query), train = the rest; synthetic label =
    * vec_id mod 2; k = 3 neighbors by exact quantized d² (ties to the
    * smaller train id — a total order, so membership is replayable);
    * prediction = majority vote (k odd ⇒ no tie rule needed). Plan:
    * broadcast eval rows against one corpus scan (map-side distance),
    * per-eval top-3 via the rank window on the 32-key partition
    * (WindowGroupLimit pushes the limit below the shuffle), one vote
    * aggregate. All integers end-to-end.
    */
  def knnEval(s: SparkSession, d: String): DataFrame = {
    val q = quantEmb(s, d)
    val eval = q.filter(col("vec_id") >= 8 && col("vec_id") < 40)
      .select(col("vec_id").as("eval_id"), col("qv").as("ev"))
    val train = q.filter(col("vec_id") < 8 || col("vec_id") >= 40)
      .select(col("vec_id").as("train_id"), col("qv").as("tv"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("eval_id").orderBy(col("d2").asc, col("train_id").asc)
    broadcast(eval).join(train, lit(true))
      .withColumn("d2", aggregate(zip_with(col("ev"), col("tv"),
        (x, y) => (x - y) * (x - y)), lit(0L), (a, v) => a + v))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .groupBy("eval_id")
      .agg(sum(pmod(col("train_id"), lit(2L))).as("votes_1"),
        min(col("d2")).as("nn_d2"))
      .select(col("eval_id"),
        pmod(col("eval_id"), lit(2L)).as("label"),
        (col("votes_1") >= 2).cast("long").as("pred"),
        col("votes_1"), col("nn_d2"))
      .withColumn("correct", (col("label") === col("pred")).cast("long"))
      .orderBy("eval_id")
  }

  /** Published PQ codebook for the frozen ADC twin: 8 subspaces × 4
    * cells × 8 dims on the quantEmb 1e4 lattice,
    * cb(sub, cell)[i] = ((7·sub + 3·cell + 5·i) mod 13 − 6) · 1000.
    * 3·cell mod 13 keeps the 4 cells of every subspace distinct.
    */
  private[ops] def pqFrozenCb(sub: Int, cell: Int, i: Int): Long =
    ((7L * sub + 3L * cell + 5L * i) % 13L - 6L) * 1000L

  /** PQ/ADC nearest neighbor with the PUBLISHED codebook
    * (`sim_pq_adc_frozen`, r13) — the last trained ANN family gets its
    * hash-gated frozen serving twin (IVF, multi-probe LSH, PCA and the
    * logreg scorer already have theirs): corpus vectors encode to 8
    * sub-codes by EXACT integer argmin over 4 published centroids per
    * subspace (map-side `least` over literal structs — the
    * nearestLiteralCentroid shape, no join), queries expand against
    * the same codebook into a 256-row exact-integer ADC lookup table
    * (model-sized driver build, the pqAdcTopNeighbor discipline), and
    * asymmetric distance = Σ sub-table entries — BIGINTs end-to-end,
    * so unlike the trained twin even the DISTANCES ride under the hash
    * gate, not just the winner ids. Serving plan: one corpus scan +
    * broadcast equi-join + two keyed aggregates — the 100 TB shape.
    */
  def pqAdcFrozen(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val m = 8; val subDim = 8; val kCells = 4
    def subCode(sub: Int): Column = least((0 until kCells).map { cell =>
      struct(
        (0 until subDim).map { i =>
          val x = col("qv").getItem(sub * subDim + i) - lit(pqFrozenCb(sub, cell, i))
          x * x
        }.reduce(_ + _).as("d2"),
        lit(cell.toLong).as("cell"))
    }: _*).getField("cell")
    val q = quantEmb(s, d)
    val corpus = fanOut(q.filter(col("vec_id") >= 8))
      .select(col("vec_id"),
        posexplode(array((0 until m).map(subCode): _*)).as(Seq("sub", "cell")))
    val queries = q.filter(col("vec_id") < 8).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray)
    val lut = for {
      (qid, qv) <- queries.toSeq
      sub <- 0 until m
      cell <- 0 until kCells
    } yield {
      var acc = 0L
      var i = 0
      while (i < subDim) {
        val dd = qv(sub * subDim + i) - pqFrozenCb(sub, cell, i)
        acc += dd * dd
        i += 1
      }
      (qid, sub.toLong, cell.toLong, acc)
    }
    // argmin by the JOIN-BACK discipline (min then equi-join then
    // min-id), NOT min(struct(...)): a struct-min over the 8×corpus
    // candidate table degrades to a keyed SortAggregate that sorts the
    // whole grid per partition — PlanShapesSpec caught exactly that in
    // this query's first draft. Two hash aggregates + one 8-row-keyed
    // join keep every stage map-side combinable; the grid is pinned
    // lazily because two consumers would otherwise re-run its shuffle.
    val adc = graft.io.Checkpoints.pin(
      corpus.join(broadcast(lut.toDF("q_id", "sub", "cell", "pd")), Seq("sub", "cell"))
        .groupBy("q_id", "vec_id")
        .agg(sum("pd").as("adc_d2")),
      eager = false)
    adc.groupBy("q_id").agg(min("adc_d2").as("adc_d2"))
      .join(adc, Seq("q_id", "adc_d2"))
      .groupBy("q_id", "adc_d2")
      .agg(min("vec_id").as("nn_id"))
      .select(col("q_id"), col("nn_id"), col("adc_d2"))
      .orderBy("q_id")
  }

  /** One unrolled Lloyd iteration for the DuckDB oracle: E-step distance
    * + argmin, census, then the truncated-integer-mean M-step with the
    * empty-cluster coalesce (`//` truncates toward zero like Spark `div`).
    */
  private def lloydStep(t: Int): String = {
    val p = t - 1
    s"""d$t AS (SELECT eu.vec_id, cu$p.cid, CAST(sum((x - y) * (x - y)) AS BIGINT) AS d2
       |  FROM eu JOIN cu$p USING (i) GROUP BY 1, 2),
       | a$t AS (SELECT vec_id, cid, d2,
       |   row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM d$t),
       | s$t AS (SELECT CAST($t AS BIGINT) AS iter, cid AS cluster_id,
       |   CAST(count(*) AS BIGINT) AS n_vecs, CAST(sum(d2) AS BIGINT) AS inertia
       |  FROM a$t WHERE rn = 1 GROUP BY cid),
       | m$t AS (SELECT a.cid, eu.i,
       |   CAST(sum(eu.x) AS BIGINT) // CAST(count(*) AS BIGINT) AS y
       |  FROM (SELECT vec_id, cid FROM a$t WHERE rn = 1) a
       |  JOIN eu USING (vec_id) GROUP BY 1, 2),
       | cu$t AS (SELECT cid, i, y FROM m$t UNION ALL
       |   SELECT cid, i, y FROM cu$p WHERE cid NOT IN (SELECT cid FROM m$t))""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    // exact cross-scaled centroid difference — no float mean anywhere
    "sim_centroid_drift" ->
      """WITH q AS (SELECT label, vec_id,
        |   (vec_id % 1048576) * 2654435761 % 2 AS half,
        |   CAST(round(CAST(v AS DOUBLE) * 10000) AS BIGINT) AS v,
        |   i - 1 AS dim
        |  FROM (SELECT label, vec_id, unnest(embedding) AS v,
        |    generate_subscripts(embedding, 1) AS i FROM embeddings)),
        | g AS (SELECT label, half, dim, CAST(count(*) AS BIGINT) AS n,
        |   CAST(sum(v) AS BIGINT) AS sv FROM q GROUP BY 1, 2, 3),
        | a AS (SELECT label, dim, n AS n_a, sv AS s_a FROM g WHERE half = 0),
        | b AS (SELECT label, dim, n AS n_b, sv AS s_b FROM g WHERE half = 1)
        |SELECT a.label, CAST(max(n_a) AS BIGINT) AS n_a,
        | CAST(max(n_b) AS BIGINT) AS n_b,
        | CAST(sum(abs(n_b * s_a - n_a * s_b)) AS BIGINT) AS drift_scaled,
        | CAST(sum(abs(n_b * s_a - n_a * s_b)) AS BIGINT)
        |   // (max(n_a) * max(n_b) * 64) AS drift_e4
        |FROM a JOIN b ON a.label = b.label AND a.dim = b.dim
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // both band edges compare e4-lattice integers in both engines
    // same integer-dot base rank, same 21:7 published expansion,
    // same rescore — every dot exact on the quantized lattice
    "sim_rocchio_prf" ->
      """WITH e AS (SELECT vec_id,
        |   list_transform(embedding,
        |     x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
        |  FROM embeddings),
        | q AS (SELECT vec_id AS q_id, qv AS q_qv FROM e WHERE vec_id < 8),
        | c AS (SELECT vec_id, qv FROM e WHERE vec_id >= 8),
        | base AS (SELECT q_id, vec_id,
        |   CAST(list_sum([q_qv[i+1] * qv[i+1] FOR i IN range(64)])
        |     AS BIGINT) AS dot
        |  FROM c, q),
        | br AS (SELECT *, row_number() OVER (PARTITION BY q_id
        |    ORDER BY dot DESC, vec_id) AS rn FROM base),
        | t3 AS (SELECT q_id, vec_id FROM br WHERE rn <= 3),
        | ce AS (SELECT vec_id, generate_subscripts(qv, 1) - 1 AS i,
        |    unnest(qv) AS x FROM c),
        | s3 AS (SELECT t3.q_id, ce.i, CAST(sum(ce.x) AS BIGINT) AS s3
        |  FROM t3 JOIN ce USING (vec_id) GROUP BY 1, 2),
        | qe AS (SELECT q_id, generate_subscripts(q_qv, 1) - 1 AS i,
        |    unnest(q_qv) AS qx FROM q),
        | qp AS (SELECT s3.q_id, s3.i, 21 * qe.qx + 7 * s3.s3 AS qp
        |  FROM s3 JOIN qe ON s3.q_id = qe.q_id AND s3.i = qe.i),
        | resc AS (SELECT qp.q_id, ce.vec_id,
        |   CAST(sum(qp.qp * ce.x) AS BIGINT) AS dot_prime
        |  FROM ce JOIN qp ON ce.i = qp.i GROUP BY 1, 2),
        | rr AS (SELECT *, row_number() OVER (PARTITION BY q_id
        |    ORDER BY dot_prime DESC, vec_id) AS rn FROM resc)
        |SELECT rr.q_id, CAST(rr.rn AS BIGINT) AS rn, rr.vec_id,
        | rr.dot_prime,
        | coalesce(br.rn <= 5, false) AS in_base_top5
        |FROM rr LEFT JOIN br ON rr.q_id = br.q_id
        |  AND rr.vec_id = br.vec_id AND br.rn <= 5
        |WHERE rr.rn <= 5
        |ORDER BY rr.q_id, rr.rn""".stripMargin,
    // same frozen buckets, per-cell/margin e6 terms before the sums,
    // one mirrored NMI off the exact e6 integers
    "ml_cluster_purity" ->
      """WITH e AS (SELECT vec_id, label,
        |   list_transform(embedding,
        |     x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
        |  FROM embeddings),
        | eu AS (SELECT vec_id, label, generate_subscripts(qv, 1) AS i,
        |   unnest(qv) AS x FROM e),
        | dots AS (SELECT vec_id, max(label) AS label,
        |    CAST(sum(x * ((7 * (i-1) + 3) % 17 - 8)) AS BIGINT) AS d0,
        |    CAST(sum(x * ((5 * (i-1) + 11) % 19 - 9)) AS BIGINT) AS d1,
        |    CAST(sum(x * ((11 * (i-1) + 5) % 23 - 11)) AS BIGINT) AS d2_,
        |    CAST(sum(x * ((13 * (i-1) + 7) % 29 - 14)) AS BIGINT) AS d3,
        |    CAST(sum(x * ((3 * (i-1) + 1) % 13 - 6)) AS BIGINT) AS d4,
        |    CAST(sum(x * ((17 * (i-1) + 2) % 31 - 15)) AS BIGINT) AS d5
        |   FROM eu GROUP BY vec_id),
        | bk AS (SELECT vec_id, label,
        |    (CASE WHEN d0 >= 0 THEN 1 ELSE 0 END)
        |    + (CASE WHEN d1 >= 0 THEN 2 ELSE 0 END)
        |    + (CASE WHEN d2_ >= 0 THEN 4 ELSE 0 END)
        |    + (CASE WHEN d3 >= 0 THEN 8 ELSE 0 END)
        |    + (CASE WHEN d4 >= 0 THEN 16 ELSE 0 END)
        |    + (CASE WHEN d5 >= 0 THEN 32 ELSE 0 END) AS bucket
        |   FROM dots),
        | cells AS (SELECT bucket, label, CAST(count(*) AS BIGINT) AS n_bl
        |   FROM bk GROUP BY 1, 2),
        | nb AS (SELECT bucket, CAST(sum(n_bl) AS BIGINT) AS n_b
        |   FROM cells GROUP BY 1),
        | nl AS (SELECT label, CAST(sum(n_bl) AS BIGINT) AS n_l
        |   FROM cells GROUP BY 1),
        | nn AS (SELECT CAST(sum(n_bl) AS BIGINT) AS n FROM cells),
        | isum AS (SELECT CAST(sum(CAST(round(1e6 * n_bl::DOUBLE
        |     * ln(n::DOUBLE * n_bl::DOUBLE / (n_b::DOUBLE * n_l::DOUBLE)))
        |     AS BIGINT)) AS BIGINT) AS i_e6
        |   FROM cells JOIN nb USING (bucket) JOIN nl USING (label), nn),
        | hb AS (SELECT CAST(sum(CAST(round(1e6 * n_b::DOUBLE
        |     * ln(n::DOUBLE / n_b::DOUBLE)) AS BIGINT)) AS BIGINT) AS hb_e6,
        |    CAST(count(*) AS BIGINT) AS n_buckets FROM nb, nn),
        | hl AS (SELECT CAST(sum(CAST(round(1e6 * n_l::DOUBLE
        |     * ln(n::DOUBLE / n_l::DOUBLE)) AS BIGINT)) AS BIGINT) AS hl_e6,
        |    CAST(count(*) AS BIGINT) AS n_labels FROM nl, nn),
        | pu AS (SELECT CAST(sum(mx) AS BIGINT) AS purity_num FROM
        |   (SELECT bucket, max(n_bl) AS mx FROM cells GROUP BY 1))
        |SELECT n, n_buckets, n_labels, purity_num,
        | (1000000 * purity_num) // n AS purity_e6,
        | i_e6, hb_e6, hl_e6,
        | round(i_e6::DOUBLE / sqrt(hb_e6::DOUBLE * hl_e6::DOUBLE), 6) + 0.0
        |   AS nmi
        |FROM nn, pu, isum, hb, hl""".stripMargin,
    // same e4 lattice, same div-4 grouping, exact max-then-sum
    "sim_maxsim_late" ->
      """WITH q AS (SELECT vec_id AS q_id, vec_id // 4 AS q_grp,
        |   embedding AS q_emb FROM embeddings WHERE vec_id < 8),
        | s AS (SELECT q.q_grp, q.q_id, c.vec_id // 4 AS d_grp,
        |   CAST(round(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
        |     CAST(q.q_emb AS DOUBLE[])) * 10000) AS BIGINT) AS cos_e4
        |  FROM embeddings c, q WHERE c.vec_id >= 8),
        | pq AS (SELECT q_grp, q_id, d_grp, CAST(max(cos_e4) AS BIGINT) AS mx
        |  FROM s GROUP BY 1, 2, 3),
        | pd AS (SELECT q_grp, d_grp, CAST(sum(mx) AS BIGINT) AS maxsim_e4,
        |   CAST(count(*) AS BIGINT) AS n_qvecs FROM pq GROUP BY 1, 2),
        | r AS (SELECT *, CAST(row_number() OVER (PARTITION BY q_grp
        |    ORDER BY maxsim_e4 DESC, d_grp) AS BIGINT) AS rn FROM pd)
        |SELECT CAST(q_grp AS BIGINT) AS q_grp, rn, CAST(d_grp AS BIGINT)
        |   AS d_grp, maxsim_e4, n_qvecs
        |FROM r WHERE rn <= 5 ORDER BY q_grp, rn""".stripMargin,
    "sim_hard_negatives" ->
      """WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
        |   WHERE vec_id < 8),
        | s AS (SELECT q_id, vec_id,
        |   CAST(round(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
        |     CAST(q_emb AS DOUBLE[])) * 10000) AS BIGINT) AS cos_e4
        |  FROM embeddings, q WHERE vec_id >= 8),
        | r AS (SELECT *, CAST(row_number() OVER (
        |    PARTITION BY q_id ORDER BY cos_e4 DESC, vec_id) AS BIGINT) AS rn
        |  FROM s),
        | p AS (SELECT q_id, vec_id AS pos_id, cos_e4 AS pos_e4 FROM r
        |  WHERE rn = 1),
        | band AS (SELECT r.q_id, r.vec_id, r.cos_e4, p.pos_id, p.pos_e4
        |  FROM r JOIN p ON r.q_id = p.q_id
        |  WHERE r.rn > 1 AND r.cos_e4 < p.pos_e4
        |    AND r.cos_e4 >= p.pos_e4 - 3000),
        | k AS (SELECT *, CAST(row_number() OVER (
        |    PARTITION BY q_id ORDER BY cos_e4 DESC, vec_id) AS BIGINT)
        |    AS neg_rank FROM band)
        |SELECT q_id, neg_rank, vec_id AS neg_id, cos_e4 AS neg_e4,
        | pos_id, pos_e4
        |FROM k WHERE neg_rank <= 3 ORDER BY q_id, neg_rank""".stripMargin,
    // the greedy trajectory is pure BIGINT arithmetic: 7·rel − 3·maxsim
    // on the e4 lattice, ties by min vec_id — replayed step by step
    "sim_mmr_rerank" ->
      """WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
        |   WHERE vec_id < 8),
        | s AS (SELECT q_id, vec_id,
        |   CAST(round(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
        |     CAST(q_emb AS DOUBLE[])) * 10000) AS BIGINT) AS cos_e4
        |  FROM embeddings, q WHERE vec_id >= 8),
        | r AS (SELECT *, row_number() OVER (
        |    PARTITION BY q_id ORDER BY cos_e4 DESC, vec_id) AS rn FROM s),
        | cand AS (SELECT q_id, vec_id, cos_e4 AS rel_e4 FROM r WHERE rn <= 8),
        | ce AS (SELECT c.q_id, c.vec_id, c.rel_e4, e.embedding
        |  FROM cand c JOIN embeddings e ON c.vec_id = e.vec_id),
        | pr AS (SELECT a.q_id, a.vec_id AS a_id, b.vec_id AS b_id,
        |   CAST(round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |     CAST(b.embedding AS DOUBLE[])) * 10000) AS BIGINT) AS sim_e4
        |  FROM ce a JOIN ce b ON a.q_id = b.q_id AND a.vec_id <> b.vec_id),
        | s1 AS (SELECT q_id, min(vec_id) AS sel_id,
        |   CAST(max(mmr_e4) AS BIGINT) AS sel_score
        |  FROM (SELECT q_id, vec_id, 7 * rel_e4 AS mmr_e4,
        |    max(7 * rel_e4) OVER (PARTITION BY q_id) AS best FROM cand)
        |  WHERE mmr_e4 = best GROUP BY q_id),
        | r1 AS (SELECT c.q_id, c.vec_id,
        |   7 * c.rel_e4 - 3 * p.sim_e4 AS mmr_e4
        |  FROM cand c JOIN s1 ON c.q_id = s1.q_id AND c.vec_id <> s1.sel_id
        |  JOIN pr p ON p.q_id = c.q_id AND p.a_id = c.vec_id
        |    AND p.b_id = s1.sel_id),
        | s2 AS (SELECT q_id, min(vec_id) AS sel_id,
        |   CAST(max(mmr_e4) AS BIGINT) AS sel_score
        |  FROM (SELECT *, max(mmr_e4) OVER (PARTITION BY q_id) AS best
        |   FROM r1)
        |  WHERE mmr_e4 = best GROUP BY q_id),
        | r2 AS (SELECT c.q_id, c.vec_id,
        |   7 * c.rel_e4 - 3 * max(p.sim_e4) AS mmr_e4
        |  FROM cand c JOIN s1 ON c.q_id = s1.q_id JOIN s2 ON c.q_id = s2.q_id
        |  JOIN pr p ON p.q_id = c.q_id AND p.a_id = c.vec_id
        |    AND (p.b_id = s1.sel_id OR p.b_id = s2.sel_id)
        |  WHERE c.vec_id <> s1.sel_id AND c.vec_id <> s2.sel_id
        |  GROUP BY c.q_id, c.vec_id, c.rel_e4),
        | s3 AS (SELECT q_id, min(vec_id) AS sel_id,
        |   CAST(max(mmr_e4) AS BIGINT) AS sel_score
        |  FROM (SELECT *, max(mmr_e4) OVER (PARTITION BY q_id) AS best
        |   FROM r2)
        |  WHERE mmr_e4 = best GROUP BY q_id)
        |SELECT q_id, CAST(1 AS BIGINT) AS step, sel_id, sel_score AS mmr_e4
        | FROM s1
        |UNION ALL SELECT q_id, CAST(2 AS BIGINT), sel_id, sel_score FROM s2
        |UNION ALL SELECT q_id, CAST(3 AS BIGINT), sel_id, sel_score FROM s3
        |ORDER BY q_id, step""".stripMargin,
    "ml_knn_eval" ->
      """WITH e AS (SELECT vec_id,
        |   list_transform(embedding,
        |     x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
        |  FROM embeddings),
        | ev AS (SELECT vec_id AS eval_id, qv AS evv FROM e
        |  WHERE vec_id >= 8 AND vec_id < 40),
        | tr AS (SELECT vec_id AS train_id, qv AS tvv FROM e
        |  WHERE vec_id < 8 OR vec_id >= 40),
        | pairs AS (SELECT ev.eval_id, tr.train_id,
        |    CAST(list_sum(list_transform(range(1, 65),
        |      i -> (ev.evv[i] - tr.tvv[i]) * (ev.evv[i] - tr.tvv[i])))
        |      AS BIGINT) AS d2
        |  FROM ev CROSS JOIN tr),
        | rk AS (SELECT *, row_number() OVER (PARTITION BY eval_id
        |    ORDER BY d2 ASC, train_id ASC) AS rn FROM pairs),
        | top AS (SELECT eval_id,
        |    CAST(sum(train_id % 2) AS BIGINT) AS votes_1,
        |    CAST(min(d2) AS BIGINT) AS nn_d2
        |  FROM rk WHERE rn <= 3 GROUP BY 1)
        |SELECT eval_id, eval_id % 2 AS label,
        | CAST(CASE WHEN votes_1 >= 2 THEN 1 ELSE 0 END AS BIGINT) AS pred,
        | votes_1, nn_d2,
        | CAST(CASE WHEN eval_id % 2 =
        |   (CASE WHEN votes_1 >= 2 THEN 1 ELSE 0 END) THEN 1 ELSE 0 END
        |   AS BIGINT) AS correct
        |FROM top ORDER BY eval_id""".stripMargin,
    "sim_pq_adc_frozen" ->
      """WITH e AS (SELECT vec_id,
        |   list_transform(embedding,
        |     x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
        |  FROM embeddings),
        | grid AS (SELECT s.sub, c.cell, i.i
        |  FROM (SELECT unnest(range(0, 8)) AS sub) s
        |  CROSS JOIN (SELECT unnest(range(0, 4)) AS cell) c
        |  CROSS JOIN (SELECT unnest(range(0, 8)) AS i) i),
        | terms AS (SELECT e.vec_id, g.sub, g.cell,
        |    e.qv[g.sub * 8 + g.i + 1]
        |      - ((7 * g.sub + 3 * g.cell + 5 * g.i) % 13 - 6) * 1000 AS df
        |  FROM e CROSS JOIN grid g),
        | d2 AS (SELECT vec_id, sub, cell, CAST(sum(df * df) AS BIGINT) AS d2
        |  FROM terms GROUP BY 1, 2, 3),
        | codes AS (SELECT vec_id, sub, cell FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id, sub
        |      ORDER BY d2, cell) AS rn FROM d2 WHERE vec_id >= 8)
        |  WHERE rn = 1),
        | lut AS (SELECT vec_id AS q_id, sub, cell, d2 AS pd
        |  FROM d2 WHERE vec_id < 8),
        | adc AS (SELECT l.q_id, c.vec_id, CAST(sum(l.pd) AS BIGINT) AS adc_d2
        |  FROM codes c JOIN lut l ON l.sub = c.sub AND l.cell = c.cell
        |  GROUP BY 1, 2),
        | best AS (SELECT *, row_number() OVER (PARTITION BY q_id
        |    ORDER BY adc_d2, vec_id) AS rn FROM adc)
        |SELECT q_id, CAST(vec_id AS BIGINT) AS nn_id, adc_d2
        |FROM best WHERE rn = 1 ORDER BY q_id""".stripMargin,
    "sim_semdedup_frozen" ->
      """WITH e AS (SELECT vec_id,
        |   list_transform(embedding,
        |     x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
        |  FROM embeddings),
        | eu AS (SELECT vec_id, generate_subscripts(qv, 1) AS i, unnest(qv) AS x
        |   FROM e),
        | dots AS (SELECT vec_id,
        |    CAST(sum(x * ((7 * (i-1) + 3) % 17 - 8)) AS BIGINT) AS d0,
        |    CAST(sum(x * ((5 * (i-1) + 11) % 19 - 9)) AS BIGINT) AS d1,
        |    CAST(sum(x * ((11 * (i-1) + 5) % 23 - 11)) AS BIGINT) AS d2_,
        |    CAST(sum(x * ((13 * (i-1) + 7) % 29 - 14)) AS BIGINT) AS d3,
        |    CAST(sum(x * ((3 * (i-1) + 1) % 13 - 6)) AS BIGINT) AS d4,
        |    CAST(sum(x * ((17 * (i-1) + 2) % 31 - 15)) AS BIGINT) AS d5
        |   FROM eu GROUP BY vec_id),
        | bk AS (SELECT vec_id,
        |    (CASE WHEN d0 >= 0 THEN 1 ELSE 0 END)
        |    + (CASE WHEN d1 >= 0 THEN 2 ELSE 0 END)
        |    + (CASE WHEN d2_ >= 0 THEN 4 ELSE 0 END)
        |    + (CASE WHEN d3 >= 0 THEN 8 ELSE 0 END)
        |    + (CASE WHEN d4 >= 0 THEN 16 ELSE 0 END)
        |    + (CASE WHEN d5 >= 0 THEN 32 ELSE 0 END) AS bucket
        |   FROM dots),
        | st AS (SELECT bucket, i, CAST(sum(x) AS BIGINT) AS s,
        |    CAST(count(*) AS BIGINT) AS nb
        |   FROM eu JOIN bk USING (vec_id) GROUP BY bucket, i),
        | dist AS (SELECT eu.vec_id, bk.bucket,
        |    CAST(sum((st.nb * eu.x - st.s) * (st.nb * eu.x - st.s)) AS BIGINT)
        |      AS d2
        |   FROM eu JOIN bk USING (vec_id)
        |   JOIN st ON st.bucket = bk.bucket AND st.i = eu.i
        |   GROUP BY 1, 2),
        | r AS (SELECT *, row_number() OVER (PARTITION BY bucket
        |    ORDER BY d2 ASC, vec_id ASC) AS rn FROM dist)
        |SELECT vec_id, CAST(bucket AS BIGINT) AS bucket, d2, rn = 1 AS is_kept
        |FROM r ORDER BY vec_id""".stripMargin,
    // same frozen centroids, same per-arm candidate join and fixed-
    // denominator recall floors, exact arm = full dot ranking
    "sim_ivf_nprobe_sweep" -> {
      def arm(np: Int): String =
        s"""p$np AS (SELECT vec_id AS q_id, j AS cell FROM rnk
           |   WHERE rn <= $np AND vec_id < 8),
           | c$np AS MATERIALIZED (SELECT p.q_id, c.vec_id
           |   FROM p$np p JOIN corpus c USING (cell)),
           | a$np AS (SELECT q_id, vec_id FROM (SELECT cd.q_id, cd.vec_id,
           |    row_number() OVER (PARTITION BY cd.q_id
           |      ORDER BY ad.dot DESC, cd.vec_id) AS rn
           |   FROM c$np cd JOIN alldots ad ON ad.q_id = cd.q_id
           |    AND ad.vec_id = cd.vec_id) WHERE rn <= 10)""".stripMargin
      def row(np: Int): String =
        s"""SELECT CAST($np AS BIGINT) AS nprobe, CAST(8 AS BIGINT)
           |   AS n_queries,
           |  (SELECT CAST(count(*) AS BIGINT) FROM a$np
           |    JOIN exact USING (q_id, vec_id)) AS sum_hits,
           |  ((SELECT CAST(count(*) AS BIGINT) FROM a$np
           |    JOIN exact USING (q_id, vec_id)) * 1000000) // 80
           |    AS recall_e6,
           |  (SELECT CAST(count(*) AS BIGINT) FROM c$np)
           |    AS sum_candidates""".stripMargin
      s"""WITH e AS (SELECT vec_id,
        |   list_transform(embedding,
        |     x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
        |  FROM embeddings),
        | eu AS (SELECT vec_id, generate_subscripts(qv, 1) AS i,
        |   unnest(qv) AS x FROM e),
        | cj AS (SELECT CAST(j AS BIGINT) AS j, CAST(i AS BIGINT) AS i,
        |    CAST((((7 * j + 3) * (i - 1) + (11 * j + 5)) % (13 + 2 * j)
        |      - (13 + 2 * j) // 2) * 100 AS BIGINT) AS c
        |   FROM generate_series(0, 7) t(j)
        |   CROSS JOIN generate_series(1, 64) s(i)),
        | d AS (SELECT eu.vec_id, cj.j,
        |    CAST(sum((eu.x - cj.c) * (eu.x - cj.c)) AS BIGINT) AS d2
        |   FROM eu JOIN cj ON eu.i = cj.i GROUP BY 1, 2),
        | rnk AS (SELECT *, row_number() OVER (PARTITION BY vec_id
        |    ORDER BY d2 ASC, j ASC) AS rn FROM d),
        | corpus AS (SELECT vec_id, j AS cell FROM rnk
        |   WHERE rn = 1 AND vec_id >= 8),
        | alldots AS MATERIALIZED (SELECT a.vec_id AS q_id,
        |    b.vec_id AS vec_id, CAST(sum(a.x * b.x) AS BIGINT) AS dot
        |   FROM eu a JOIN eu b ON b.i = a.i AND b.vec_id >= 8
        |   WHERE a.vec_id < 8 GROUP BY 1, 2),
        | exact AS MATERIALIZED (SELECT q_id, vec_id FROM (SELECT q_id,
        |    vec_id, row_number() OVER (PARTITION BY q_id
        |      ORDER BY dot DESC, vec_id) AS rn FROM alldots)
        |   WHERE rn <= 10),
        | ${arm(1)},
        | ${arm(2)},
        | ${arm(4)}
        |SELECT * FROM (
        | ${row(1)}
        | UNION ALL ${row(2)}
        | UNION ALL ${row(4)})
        |ORDER BY nprobe""".stripMargin
    },
    "sim_ivf_frozen" ->
      """WITH e AS (SELECT vec_id,
        |   list_transform(embedding,
        |     x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
        |  FROM embeddings),
        | eu AS (SELECT vec_id, generate_subscripts(qv, 1) AS i, unnest(qv) AS x
        |   FROM e),
        | cj AS (SELECT CAST(j AS BIGINT) AS j, CAST(i AS BIGINT) AS i,
        |    CAST((((7 * j + 3) * (i - 1) + (11 * j + 5)) % (13 + 2 * j)
        |      - (13 + 2 * j) // 2) * 100 AS BIGINT) AS c
        |   FROM generate_series(0, 7) t(j)
        |   CROSS JOIN generate_series(1, 64) s(i)),
        | d AS (SELECT eu.vec_id, cj.j,
        |    CAST(sum((eu.x - cj.c) * (eu.x - cj.c)) AS BIGINT) AS d2
        |   FROM eu JOIN cj ON eu.i = cj.i GROUP BY 1, 2),
        | rnk AS (SELECT *, row_number() OVER (PARTITION BY vec_id
        |    ORDER BY d2 ASC, j ASC) AS rn FROM d),
        | corpus AS (SELECT vec_id, j AS cell FROM rnk
        |   WHERE rn = 1 AND vec_id >= 8),
        | probes AS (SELECT vec_id AS q_id, j AS cell,
        |    CAST(rn AS BIGINT) AS probe_rank
        |   FROM rnk WHERE rn <= 2 AND vec_id < 8),
        | cand AS (SELECT p.q_id, c.vec_id, p.probe_rank
        |   FROM probes p JOIN corpus c ON p.cell = c.cell),
        | dots AS (SELECT cand.q_id, cand.vec_id, cand.probe_rank,
        |    CAST(sum(a.x * b.x) AS BIGINT) AS dot
        |   FROM cand
        |   JOIN eu a ON a.vec_id = cand.q_id
        |   JOIN eu b ON b.vec_id = cand.vec_id AND b.i = a.i
        |   GROUP BY 1, 2, 3),
        | r AS (SELECT *, row_number() OVER (PARTITION BY q_id
        |    ORDER BY dot DESC, vec_id ASC) AS rn FROM dots)
        |SELECT q_id, CAST(rn AS BIGINT) AS rank, vec_id, dot, probe_rank
        |FROM r WHERE rn <= 3 ORDER BY q_id, rank""".stripMargin,
    "sim_multiprobe_frozen" ->
      """WITH e AS (SELECT vec_id,
        |   list_transform(embedding,
        |     x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
        |  FROM embeddings),
        | eu AS (SELECT vec_id, generate_subscripts(qv, 1) AS i, unnest(qv) AS x
        |   FROM e),
        | dots AS (SELECT vec_id,
        |    CAST(sum(x * ((7 * (i-1) + 3) % 17 - 8)) AS BIGINT) AS d0,
        |    CAST(sum(x * ((5 * (i-1) + 11) % 19 - 9)) AS BIGINT) AS d1,
        |    CAST(sum(x * ((11 * (i-1) + 5) % 23 - 11)) AS BIGINT) AS d2_,
        |    CAST(sum(x * ((13 * (i-1) + 7) % 29 - 14)) AS BIGINT) AS d3,
        |    CAST(sum(x * ((3 * (i-1) + 1) % 13 - 6)) AS BIGINT) AS d4,
        |    CAST(sum(x * ((17 * (i-1) + 2) % 31 - 15)) AS BIGINT) AS d5
        |   FROM eu GROUP BY vec_id),
        | bk AS (SELECT vec_id,
        |    (CASE WHEN d0 >= 0 THEN 1 ELSE 0 END)
        |    + (CASE WHEN d1 >= 0 THEN 2 ELSE 0 END)
        |    + (CASE WHEN d2_ >= 0 THEN 4 ELSE 0 END)
        |    + (CASE WHEN d3 >= 0 THEN 8 ELSE 0 END)
        |    + (CASE WHEN d4 >= 0 THEN 16 ELSE 0 END)
        |    + (CASE WHEN d5 >= 0 THEN 32 ELSE 0 END) AS bucket
        |   FROM dots),
        | q AS (SELECT vec_id AS q_id, bucket AS bq FROM bk WHERE vec_id < 8),
        | c AS (SELECT vec_id, bucket FROM bk WHERE vec_id >= 8),
        | cand AS (SELECT q_id, c.vec_id,
        |    CAST(bit_count(xor(bq, c.bucket)) AS BIGINT) AS probe_dist
        |   FROM q JOIN c ON bit_count(xor(bq, c.bucket)) <= 1),
        | dp AS (SELECT cand.q_id, cand.vec_id, cand.probe_dist,
        |    CAST(sum(a.x * b.x) AS BIGINT) AS dot
        |   FROM cand
        |   JOIN eu a ON a.vec_id = cand.q_id
        |   JOIN eu b ON b.vec_id = cand.vec_id AND b.i = a.i
        |   GROUP BY 1, 2, 3),
        | r AS (SELECT *, row_number() OVER (PARTITION BY q_id
        |    ORDER BY dot DESC, vec_id ASC) AS rn FROM dp)
        |SELECT q_id, CAST(rn AS BIGINT) AS rank, vec_id, dot, probe_dist
        |FROM r WHERE rn <= 3 ORDER BY q_id, rank""".stripMargin,
    "sim_prefix_recall" ->
      """WITH e AS (SELECT vec_id,
        |   list_transform(embedding,
        |     x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
        |  FROM embeddings),
        | q AS (SELECT vec_id AS q_id, qv AS qe FROM e WHERE vec_id < 8),
        | eu AS (SELECT vec_id, generate_subscripts(qv, 1) AS i, unnest(qv) AS x
        |   FROM e WHERE vec_id >= 8),
        | qu AS (SELECT q_id, generate_subscripts(qe, 1) AS i, unnest(qe) AS y FROM q),
        | dp AS (SELECT eu.vec_id, qu.q_id,
        |   CAST(sum(CASE WHEN eu.i <= 16 THEN x * y ELSE 0 END) AS BIGINT) AS dp16,
        |   CAST(sum(x * y) AS BIGINT) AS dp64
        |  FROM eu JOIN qu USING (i) GROUP BY 1, 2),
        | r AS (SELECT q_id, vec_id,
        |   row_number() OVER (PARTITION BY q_id ORDER BY dp16 DESC, vec_id) AS r16,
        |   row_number() OVER (PARTITION BY q_id ORDER BY dp64 DESC, vec_id) AS r64
        |  FROM dp),
        | ov AS (SELECT a.q_id, CAST(count(*) AS BIGINT) AS n_overlap
        |  FROM (SELECT q_id, vec_id FROM r WHERE r64 <= 5) a
        |  JOIN (SELECT q_id, vec_id FROM r WHERE r16 <= 5) b
        |    ON a.q_id = b.q_id AND a.vec_id = b.vec_id
        |  GROUP BY a.q_id)
        |SELECT q.q_id, coalesce(ov.n_overlap, 0) AS n_overlap
        |FROM q LEFT JOIN ov ON q.q_id = ov.q_id ORDER BY q.q_id""".stripMargin,
    "ml_kmeans_lloyd" ->
      (s"""WITH e AS (SELECT vec_id,
        |   list_transform(embedding,
        |     x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
        |  FROM embeddings),
        | eu AS (SELECT vec_id, generate_subscripts(qv, 1) AS i, unnest(qv) AS x FROM e),
        | c0 AS (SELECT vec_id AS cid, qv AS cv FROM e WHERE vec_id < 8),
        | cu0 AS (SELECT cid, generate_subscripts(cv, 1) AS i, unnest(cv) AS y FROM c0),
        | ${lloydStep(1)},
        | ${lloydStep(2)},
        | ${lloydStep(3)}
        |SELECT iter, cluster_id, n_vecs, inertia
        |FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2 UNION ALL SELECT * FROM s3)
        |ORDER BY iter, cluster_id""".stripMargin),
    // same e4 d2 lattice, same (d2, cid) argmin and rn=2 runner-up,
    // same mirrored (sqrt b - sqrt a)/sqrt b on the e6 lattice
    "ml_silhouette_frozen" ->
      """WITH e AS (SELECT vec_id,
        |   list_transform(embedding,
        |     x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
        |  FROM embeddings),
        | s AS (SELECT vec_id AS cid, qv AS cv FROM e WHERE vec_id < 8),
        | eu AS (SELECT vec_id, generate_subscripts(qv, 1) AS i,
        |   unnest(qv) AS x FROM e),
        | su AS (SELECT cid, generate_subscripts(cv, 1) AS i,
        |   unnest(cv) AS y FROM s),
        | dist AS (SELECT eu.vec_id, su.cid,
        |   CAST(sum((x - y) * (x - y)) AS BIGINT) AS d2
        |  FROM eu JOIN su USING (i) GROUP BY 1, 2),
        | rk AS (SELECT vec_id, cid, d2,
        |   row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
        |  FROM dist),
        | ab AS (SELECT a.vec_id, a.cid AS cluster_id, a.d2 AS a2,
        |    b.d2 AS b2
        |   FROM (SELECT * FROM rk WHERE rn = 1) a
        |   JOIN (SELECT * FROM rk WHERE rn = 2) b USING (vec_id)),
        | sc AS (SELECT cluster_id,
        |   CASE WHEN b2 > 0 THEN
        |     CAST(round(1e6 * (sqrt(CAST(b2 AS DOUBLE))
        |         - sqrt(CAST(a2 AS DOUBLE))) / sqrt(CAST(b2 AS DOUBLE)))
        |      AS BIGINT)
        |    ELSE 0 END AS s_e6 FROM ab)
        |SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_vecs,
        | CAST(sum(s_e6) AS BIGINT) AS sum_s_e6,
        | CAST(min(s_e6) AS BIGINT) AS min_s_e6,
        | CAST(round(CAST(sum(s_e6) AS DOUBLE) / CAST(count(*) AS DOUBLE))
        |   AS BIGINT) AS mean_s_e6
        |FROM sc GROUP BY 1 ORDER BY cluster_id""".stripMargin,
    "ml_kmeans_assign" ->
      """WITH e AS (SELECT vec_id,
        |   list_transform(embedding,
        |     x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
        |  FROM embeddings),
        | s AS (SELECT vec_id AS cid, qv AS cv FROM e WHERE vec_id < 8),
        | eu AS (SELECT vec_id, generate_subscripts(qv, 1) AS i, unnest(qv) AS x FROM e),
        | su AS (SELECT cid, generate_subscripts(cv, 1) AS i, unnest(cv) AS y FROM s),
        | dist AS (SELECT eu.vec_id, su.cid,
        |   CAST(sum((x - y) * (x - y)) AS BIGINT) AS d2
        |  FROM eu JOIN su USING (i) GROUP BY 1, 2),
        | best AS (SELECT vec_id, cid, d2,
        |   row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM dist)
        |SELECT cid AS cluster_id, CAST(count(*) AS BIGINT) AS n_vecs,
        | CAST(sum(d2) // count(*) AS BIGINT) AS mean_d2
        |FROM best WHERE rn = 1 GROUP BY cid ORDER BY cid""".stripMargin,
    "sim_mips_topk" ->
      """WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 8),
        | c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 8),
        | s AS (SELECT q_id, vec_id,
        |   round(list_inner_product(CAST(embedding AS DOUBLE[]), CAST(q_emb AS DOUBLE[])), 4) + 0.0 AS ip FROM c, q),
        | r AS (SELECT q_id, vec_id, ip, row_number() OVER (PARTITION BY q_id ORDER BY ip DESC, vec_id) AS rn FROM s)
        |SELECT q_id, CAST(rn AS BIGINT) AS rn, vec_id, ip FROM r
        |WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin,
    "sim_quantize_int8" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        | m AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS ma FROM e),
        | s AS (SELECT vec_id, v, CASE WHEN ma = 0 THEN 0.0 ELSE 127.0 / ma END AS scl FROM m),
        | q AS (SELECT vec_id, v, scl,
        |   list_transform(v, x -> CASE WHEN scl = 0 THEN 0.0
        |     ELSE greatest(-127.0, least(127.0, floor(x * scl + 0.5))) END) AS qv
        |   FROM s)
        |SELECT vec_id,
        | CAST(len(list_filter(qv, x -> abs(x) = 127.0)) AS BIGINT) AS n_saturated,
        | round(scl, 6) AS scale,
        | round(list_sum(list_transform(range(1, len(v) + 1),
        |   i -> (v[i] - CASE WHEN scl = 0 THEN 0.0 ELSE qv[i] / scl END) ^ 2)) / len(v), 10) AS mse
        |FROM q ORDER BY vec_id""".stripMargin,
    "sim_outliers" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        | u AS (SELECT label, i, avg(v[i]) AS m FROM e, range(1, 65) r(i) GROUP BY label, i),
        | c AS (SELECT label, list(m ORDER BY i) AS cent FROM u GROUP BY label)
        |SELECT vec_id, e.label,
        | round(list_cosine_similarity(e.v, c.cent), 4) + 0.0 AS cos_centroid,
        | round(list_cosine_similarity(e.v, c.cent), 4) < 0.05 AS outlier
        |FROM e JOIN c USING (label) ORDER BY vec_id""".stripMargin,
    "dedup_embedding_cosine" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        | round(list_cosine_similarity(a.v, b.v), 4) AS cos
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE round(list_cosine_similarity(a.v, b.v), 4) >= 0.4
        |ORDER BY id_a, id_b""".stripMargin,
    "sim_dedup_groups" ->
      """WITH RECURSIVE ve AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        | p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |   FROM ve a JOIN ve b ON a.vec_id < b.vec_id
        |   WHERE round(list_cosine_similarity(a.v, b.v), 4) >= 0.4),
        | e AS (SELECT id_a AS src, id_b AS dst FROM p
        |        UNION ALL SELECT id_b, id_a FROM p),
        | reach(src, dst) AS (
        |  SELECT vec_id, vec_id FROM embeddings
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src)
        |SELECT src AS vec_id, min(dst) AS group_id
        |FROM reach GROUP BY src ORDER BY vec_id""".stripMargin,
    // full recompute over ALL cosine pairs (the equality the
    // incremental path must reproduce) + base-only labels for the flag
    "sim_dedup_incremental" ->
      """WITH RECURSIVE ve AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        | p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |   FROM ve a JOIN ve b ON a.vec_id < b.vec_id
        |   WHERE round(list_cosine_similarity(a.v, b.v), 4) >= 0.4),
        | e AS (SELECT id_a AS src, id_b AS dst FROM p
        |        UNION ALL SELECT id_b, id_a FROM p),
        | reach(src, dst) AS (
        |  SELECT vec_id, vec_id FROM embeddings
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src),
        | fullg AS (SELECT src AS vec_id, min(dst) AS group_id FROM reach GROUP BY src),
        | eb AS (SELECT src, dst FROM e WHERE src % 10 <> 0 AND dst % 10 <> 0),
        | reachb(src, dst) AS (
        |  SELECT vec_id, vec_id FROM embeddings WHERE vec_id % 10 <> 0
        |  UNION
        |  SELECT r.src, eb.dst FROM reachb r JOIN eb ON r.dst = eb.src),
        | baseg AS (SELECT src AS vec_id, min(dst) AS bgid FROM reachb GROUP BY src)
        |SELECT f.vec_id, f.group_id,
        | f.vec_id % 10 = 0 AS is_delta,
        | CASE WHEN f.vec_id % 10 = 0 THEN FALSE
        |   ELSE f.group_id <> b.bgid END AS relabeled
        |FROM fullg f LEFT JOIN baseg b ON f.vec_id = b.vec_id
        |ORDER BY f.vec_id""".stripMargin,
    "sim_cosine_topk_native" ->
      """WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 8),
        | c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 8),
        | s AS (SELECT q_id, vec_id,
        |   round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), CAST(q_emb AS DOUBLE[])), 4) + 0.0 AS cos FROM c, q),
        | r AS (SELECT q_id, vec_id, cos, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rn FROM s)
        |SELECT q_id, rn, vec_id, cos FROM r WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin,
    "sim_centroid_udaf" ->
      """SELECT label,
        | array_to_string(list_transform(
        |  [round(avg(CAST(embedding[1] AS DOUBLE)), 4), round(avg(CAST(embedding[2] AS DOUBLE)), 4),
        |   round(avg(CAST(embedding[3] AS DOUBLE)), 4), round(avg(CAST(embedding[4] AS DOUBLE)), 4),
        |   round(avg(CAST(embedding[5] AS DOUBLE)), 4), round(avg(CAST(embedding[6] AS DOUBLE)), 4),
        |   round(avg(CAST(embedding[7] AS DOUBLE)), 4), round(avg(CAST(embedding[8] AS DOUBLE)), 4)],
        |  x -> printf('%.4f', x + 0.0)), ',') AS centroid_csv,
        | count(*) AS n_vecs
        |FROM embeddings GROUP BY label ORDER BY label""".stripMargin,
    // thresholds compare the ROUNDED lattice value in both engines
    "sim_range_count" ->
      """WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
        |   WHERE vec_id < 8),
        | c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 8),
        | s AS (SELECT q_id,
        |   round(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
        |     CAST(q_emb AS DOUBLE[])), 4) + 0.0 AS cos FROM c, q)
        |SELECT q_id,
        | CAST(sum(CASE WHEN cos >= 0.1 THEN 1 ELSE 0 END) AS BIGINT) AS n_r01,
        | CAST(sum(CASE WHEN cos >= 0.3 THEN 1 ELSE 0 END) AS BIGINT) AS n_r03,
        | max(cos) AS max_cos
        |FROM s GROUP BY q_id ORDER BY q_id""".stripMargin,
    "sim_cosine_topk" ->
      """WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 8),
        | c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 8),
        | s AS (SELECT q_id, vec_id,
        |   round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), CAST(q_emb AS DOUBLE[])), 4) + 0.0 AS cos FROM c, q),
        | r AS (SELECT q_id, vec_id, cos, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rn FROM s)
        |SELECT q_id, rn, vec_id, cos FROM r WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin,
    "sim_binary_hamming" ->
      """WITH w AS (SELECT vec_id,
        |  CAST(list_sum([CASE WHEN embedding[i+1] > 0 THEN 1::BIGINT << i ELSE 0 END
        |    FOR i IN range(32)]) AS BIGINT) AS w0,
        |  CAST(list_sum([CASE WHEN embedding[i+33] > 0 THEN 1::BIGINT << i ELSE 0 END
        |    FOR i IN range(32)]) AS BIGINT) AS w1
        | FROM embeddings),
        | s AS (SELECT q.vec_id AS q_id, c.vec_id,
        |   CAST(bit_count(xor(c.w0, q.w0)) + bit_count(xor(c.w1, q.w1)) AS BIGINT) AS hamm
        |  FROM w q JOIN w c ON q.vec_id < 8 AND c.vec_id >= 8),
        | r AS (SELECT q_id, vec_id, hamm, CAST(row_number() OVER (
        |    PARTITION BY q_id ORDER BY hamm ASC, vec_id ASC) AS BIGINT) AS rn FROM s)
        |SELECT q_id, rn, vec_id, hamm FROM r WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin,
    "sim_centroid_by_label" ->
      """SELECT label, i - 1 AS pos, round(avg(CAST(v AS DOUBLE)), 4) + 0.0 AS avg_v, count(*) AS n_vecs
        |FROM (SELECT label, unnest(embedding) AS v, generate_subscripts(embedding, 1) AS i FROM embeddings)
        |WHERE i <= 8 GROUP BY label, pos ORDER BY label, pos""".stripMargin,
    "sim_norm_stats" ->
      """WITH n AS (SELECT label,
        |  round(sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |    list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a,b) -> a + b)), 4) AS nrm
        | FROM embeddings)
        |SELECT label, count(*) AS n_vecs, round(min(nrm), 4) AS min_norm, round(max(nrm), 4) AS max_norm
        |FROM n GROUP BY label ORDER BY label""".stripMargin,
  )
}
