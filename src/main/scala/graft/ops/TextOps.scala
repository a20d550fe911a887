package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.io.Sources
import graft.io.Checkpoints.PinOps

/** Text-analysis and deduplication operators over the `documents` table —
  * the LLM-training-data surface mandated by the north star (SURVEY §2.13):
  * exact dedup, keep-latest dedup, MinHash+LSH / SimHash / n-gram-Jaccard
  * near-dup, language ID, quality scoring, token counting, fingerprinting.
  *
  * Everything is built-in Catalyst expressions (higher-order array
  * functions, regexp, xxhash64) — no UDFs, so the whole surface stays in
  * whole-stage codegen and scales linearly with the corpus. The quadratic
  * steps (pair comparison) are always preceded by a blocking/banding stage
  * so candidate pairs, not all pairs, are compared — the property that
  * keeps near-dup tractable at 100 TB.
  */
object TextOps {

  private val stopwords =
    Seq("the", "a", "of", "and", "to", "in", "is", "it", "for", "on")

  private def words(c: Column): Column = split(c, " ")

  /** Exact dedup by content signature: keep the lowest doc_id per
    * (lang, n_chars) group. Deterministic form of `dropDuplicates(keys)` —
    * a single hash aggregate (one shuffle on the signature).
    */
  def dedupExact(s: SparkSession, d: String): DataFrame =
    Dedup.duplicateGroups(Sources.documents(s, d), Seq("lang", "n_chars"), "doc_id")
      .orderBy("lang", "n_chars")

  /** Keep-latest dedup on events: one row per user, latest by event id
    * (SURVEY §2.13 "keep-latest"; the streaming analog is
    * `dropDuplicatesWithinWatermark`).
    */
  def dedupKeepLatest(s: SparkSession, d: String): DataFrame =
    Dedup.keepLatest(Sources.events(s, d), Seq("user_id"), "event_id")
      .select(
        col("user_id"), col("event_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("last_ts"),
        col("event_type"), round(col("value"), 2).as("value"))
      .orderBy("user_id")

  /** Per-document statistics: chars, words, regex token count (BPE-ish
    * `\w+|[^\w\s]` pre-tokenizer), distinct-word ratio.
    */
  def textStats(s: SparkSession, d: String): DataFrame =
    Sources.documents(s, d)
      .select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars_calc"),
        size(words(col("text"))).cast("long").as("n_words"),
        regexp_count(col("text"), lit("\\w+|[^\\w\\s]")).cast("long").as("n_tokens"),
        size(array_distinct(words(col("text")))).cast("long").as("n_distinct_words"),
      )
      .orderBy("doc_id")

  /** Quality scoring: stopword ratio, punctuation ratio, mean word length,
    * and a composite keep/drop flag — the standard pre-training corpus
    * filters (length + symbol + stopword heuristics).
    */
  def textQuality(s: SparkSession, d: String): DataFrame = {
    val ws = words(col("text"))
    val nWords = size(ws).cast("double")
    val stopArr = array(stopwords.map(lit): _*)
    val nStop = size(filter(ws, w => array_contains(stopArr, w))).cast("double")
    val nPunct = length(regexp_replace(col("text"), "[^.!?,;:]", "")).cast("double")
    val meanWordLen = (length(col("text")) - size(ws) + 1).cast("double") / nWords
    Sources.documents(s, d)
      .select(
        col("doc_id"),
        round(nStop / nWords, 4).as("stopword_ratio"),
        round(nPunct / length(col("text")).cast("double"), 4).as("punct_ratio"),
        round(meanWordLen, 4).as("mean_word_len"),
        (nWords >= 5 && nStop / nWords >= 0.05).as("keep"),
      )
      .orderBy("doc_id")
  }

  /** Corpus histogram: language × source with size stats. */
  def langHistogram(s: SparkSession, d: String): DataFrame =
    Sources.documents(s, d)
      .groupBy("lang", "source")
      .agg(
        count(lit(1)).as("n_docs"),
        round(avg("n_chars"), 2).as("avg_chars"),
        max("n_chars").as("max_chars"))
      .orderBy("lang", "source")

  /** Heuristic language ID: argmax of per-language stopword hit counts —
    * the n-gram-profile approach reduced to its oracle-checkable core.
    */
  def langIdHeuristic(s: SparkSession, d: String): DataFrame = {
    val profiles: Seq[(String, Seq[String])] = Seq(
      "en" -> Seq("the", "and", "of", "to", "is"),
      "de" -> Seq("der", "und", "die", "das", "ist"),
      "fr" -> Seq("le", "la", "et", "les", "est"),
    )
    val ws = words(col("text"))
    val hits = profiles.map { case (lang, sw) =>
      val arr = array(sw.map(lit): _*)
      size(filter(ws, w => array_contains(arr, w))).cast("long").as(s"hits_$lang")
    }
    val predicted = when(col("hits_en") >= col("hits_de") && col("hits_en") >= col("hits_fr"), lit("en"))
      .when(col("hits_de") >= col("hits_fr"), lit("de"))
      .otherwise(lit("fr"))
    Sources.documents(s, d)
      .select(col("doc_id") +: col("lang") +: hits: _*)
      .withColumn("predicted_lang", predicted)
      .orderBy("doc_id")
  }

  /** Language-ID confusion matrix (`text_langid_confusion`): the
    * heuristic of [[langIdHeuristic]] evaluated against the labeled
    * `lang` column — per (actual, predicted) cell counts and the
    * actual-language share in integer basis points, i.e. the evaluation
    * table that decides whether the cheap classifier is good enough to
    * gate ingestion. Same integer hit counts and argmax (so the matrix
    * is engine-exact); one 9-cell aggregate plus a language-count-sized
    * totals join.
    */
  def langIdConfusion(s: SparkSession, d: String): DataFrame = {
    val profiles: Seq[(String, Seq[String])] = Seq(
      "en" -> Seq("the", "and", "of", "to", "is"),
      "de" -> Seq("der", "und", "die", "das", "ist"),
      "fr" -> Seq("le", "la", "et", "les", "est"),
    )
    val ws = words(col("text"))
    val hits = profiles.map { case (lang, sw) =>
      val arr = array(sw.map(lit): _*)
      size(filter(ws, w => array_contains(arr, w))).cast("long").as(s"hits_$lang")
    }
    val predicted = when(col("hits_en") >= col("hits_de") && col("hits_en") >= col("hits_fr"), lit("en"))
      .when(col("hits_de") >= col("hits_fr"), lit("de"))
      .otherwise(lit("fr"))
    val cells = Sources.documents(s, d)
      .select(col("lang") +: hits: _*)
      .withColumn("predicted_lang", predicted)
      .groupBy("lang", "predicted_lang").agg(count(lit(1)).as("n_docs"))
    val totals = cells.groupBy("lang").agg(sum("n_docs").as("tn"))
    cells.join(broadcast(totals), "lang")
      .select(col("lang"), col("predicted_lang"), col("n_docs"),
        expr("(10000 * n_docs) div tn").as("share_bp"))
      .orderBy("lang", "predicted_lang")
  }

  /** Character-level Shannon entropy per document — an
    * information-theoretic quality signal (gibberish and boilerplate sit
    * at the entropy extremes). Two hash aggregations + one window; all
    * distributed, no per-document collection.
    */
  def textEntropy(s: SparkSession, d: String): DataFrame = {
    val counts = Sources.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), "")).as("ch"))
      .groupBy("doc_id", "ch")
      .agg(count(lit(1)).as("c"))
    val tot = Window.partitionBy("doc_id")
    counts
      .withColumn("p", col("c").cast("double") / sum("c").over(tot))
      .groupBy("doc_id")
      .agg(graft.functions.Num.roundNorm(-sum(col("p") * log2(col("p"))), 4).as("char_entropy"),
        count(lit(1)).as("n_distinct_chars"))
      .orderBy("doc_id")
  }

  /** Simpson lexical diversity (`text_simpson`, r13): the
    * collision-probability diversity family over word tokens —
    * Simpson's D = Σc(c−1)/(n(n−1)) (the chance two draws WITHOUT
    * replacement repeat a type; its complement is Gini–Simpson) and
    * Berger–Parker dominance max(c)/n — the repeat-heaviness signals
    * that complement [[textEntropy]] (entropy weights rare types; D is
    * dominated by the head, so templated/boilerplate docs light it up
    * first). Exact rational → e6 floor lattice; numerators Σc(c−1) and
    * max(c) ship as gate columns. One tokenize + two keyed aggs,
    * map-side combinable; single-token docs (n(n−1) = 0) are excluded
    * identically by both engines.
    */
  def textSimpson(s: SparkSession, d: String): DataFrame =
    Sources.documents(s, d)
      .select(col("doc_id"), explode(words(col("text"))).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(
        sum("c").as("n_tokens"),
        sum(col("c") * (col("c") - 1)).as("sum_cc1"),
        max("c").as("max_c"))
      .filter(col("n_tokens") >= 2)
      .select(col("doc_id"), col("n_tokens"), col("sum_cc1"), col("max_c"),
        expr("(sum_cc1 * 1000000L) div (n_tokens * (n_tokens - 1))")
          .as("simpson_e6"),
        expr("(max_c * 1000000L) div n_tokens").as("berger_parker_e6"))
      .orderBy("doc_id")

  /** Polynomial rolling-hash fingerprint over characters (mod 1e9+7) —
    * deterministic, engine-independent document fingerprint.
    */
  def textFingerprint(s: SparkSession, d: String): DataFrame = {
    val chars = split(col("text"), "")
    val fp = aggregate(
      chars, lit(0L),
      (acc, c) => (acc * 31 + ascii(c)) % 1000000007L)
    Sources.documents(s, d)
      .select(col("doc_id"), fp.as("fingerprint"))
      .orderBy("doc_id")
  }

  /** n-gram (word-set) Jaccard near-dup: candidate pairs via blocking on
    * (lang, n_chars bucket) then exact Jaccard on distinct-word sets.
    * Blocking keeps the pair count linear-ish; the full-corpus variant is
    * [[dedupMinHashLsh]]. Oracle: same pairs in DuckDB list algebra.
    */
  def ngramJaccardPairs(s: SparkSession, d: String): DataFrame =
    ngramJaccardPairsRaw(s, d).orderBy("id_a", "id_b")

  /** Unsorted PAIRS table, materialized once per (session, path) —
    * consumed by the pairs query and the groups build (a production
    * pipeline persists exactly this table).
    */
  private[graft] def ngramJaccardPairsRaw(s: SparkSession, d: String): DataFrame =
    graft.io.Materialized.of(s, s"ngramJaccardPairs|$d") {
      ngramJaccardPairsCompute(s, d)
    }

  private def ngramJaccardPairsCompute(s: SparkSession, d: String): DataFrame = {
    // Blocking must be EQUI-joinable: a bare `abs(nc_a - nc_b) <= 3` next
    // to a 3-value lang key degenerates to a per-language cross product.
    // Bucket n_chars (width 7 covers the ±3 band) and explode the probe
    // side to its 3 neighbor buckets — the join becomes hash/SMJ on
    // (lang, bucket) and scales linearly with bucket occupancy.
    //
    // Word sets are hashed to xxhash64 LONGS before the self-join: the
    // exploded candidate join shuffles each doc's set 3× and then runs
    // array_intersect/array_union per candidate — on string arrays
    // that's the generic O(n·m) scan, on longs the primitive fast path
    // (~4× measured on jaccardPrefixJoin's re-rank). Jaccard depends
    // only on element equality, so hashing never changes the output
    // (collision odds ~|set|²/2⁶⁵ per pair; the string-set oracle would
    // surface one). Repartition first: the single-file documents read
    // would otherwise run the tokenize pass on one core.
    val docs = Sources.documents(s, d)
      .repartition(math.max(2, s.sparkContext.defaultParallelism)) // floor 2: single-core sessions report parallelism 1
      .select(col("doc_id"), col("lang"), col("n_chars"),
        array_distinct(transform(words(col("text")), w => xxhash64(w))).as("wset"))
      .withColumn("bucket", (col("n_chars") / 7).cast("long"))
    val a = docs.select(col("doc_id").as("id_a"), col("lang"), col("n_chars").as("nc_a"),
        col("wset").as("ws_a"),
        explode(array(col("bucket") - 1, col("bucket"), col("bucket") + 1)).as("jb"))
    val bb = docs.select(col("doc_id").as("id_b"), col("lang").as("lang_b"), col("n_chars").as("nc_b"),
        col("wset").as("ws_b"), col("bucket").as("jb_b"))
    a.join(bb, col("lang") === col("lang_b") && col("jb") === col("jb_b")
        && col("id_a") < col("id_b")
        && abs(col("nc_a") - col("nc_b")) <= 3)
      .select(col("id_a"), col("id_b"),
        round(size(array_intersect(col("ws_a"), col("ws_b"))).cast("double") /
          size(array_union(col("ws_a"), col("ws_b"))).cast("double"), 4).as("jaccard"))
      .filter(col("jaccard") >= 0.3)
  }

  /** FULL-corpus set-similarity join at τ = 0.5 via prefix filtering
    * (the PPJoin family) — no blocking assumptions at all, yet provably
    * COMPLETE: order each doc's tokens by global rarity (df asc, word
    * asc) and keep only the first |A| − ⌈τ·|A|⌉ + 1 as its prefix; any
    * pair with J ≥ τ must share a prefix token (if the rarest shared
    * token fell outside a prefix, the whole intersection would have to
    * fit in the < τ·|A| ≤ |A∩B| trailing slots — contradiction).
    * Candidates are therefore one equi-join on prefix tokens; exact
    * Jaccard re-ranks. The prefix holds each doc's RAREST tokens, so
    * frequent tokens never fan out — candidate count stays near the true
    * pair count at any corpus size, which is what makes the threshold
    * join feasible at 100 TB where [[ngramJaccardPairs]]'s length-band
    * blocking is a semantic narrowing. Oracle: the quadratic threshold
    * join (with the lossless 2·min ≥ max size prefilter J ≥ ½ implies).
    */
  def jaccardPrefixJoin(s: SparkSession, d: String): DataFrame = {
    val tau = 0.5
    // 3-word shingle sets — the same set definition as the MinHash/LSH
    // pipeline, so this is its exact-threshold ground truth at scale
    // (distinct-WORD sets saturate on this corpus: one shared vocabulary
    // makes nearly every doc pair "similar", which is a tokenization
    // artifact, not similarity — order-sensitive shingles keep the
    // measure discriminative).
    //
    // Shingles are hashed to 64-bit ids up front: every downstream set
    // op (df count, prefix rank, the final intersect/union) then runs on
    // primitive long arrays. Spark's array_intersect/array_union take an
    // O(n·m) generic scan on string elements but a hashed fast path on
    // longs — on the re-rank join this is a ~4x wall-clock difference.
    // A 64-bit collision inside one pair's union would perturb the exact
    // Jaccard (probability ~|corpus|·|set|²/2^64 ≈ 1e-12, and the DuckDB
    // oracle hash-compare would surface it); determinism is unaffected
    // (xxhash64 is a fixed function of the text).
    //
    // The set construction is exactly [[shingleSetsRaw]]'s, so read the
    // materialized shared table instead of re-tokenizing (the private
    // rebuild also inherited the single-file scan's one-partition layout
    // and PINNED it, so the whole shingling pass ran on one core — the
    // under-parallel profile the r11 bench surfaced).
    val docs = shingleSetsRaw(s, d)
      .select(col("doc_id"), col("sset").as("hset"))
      .withColumn("sz", size(col("hset")))
    val tok = docs.select(col("doc_id"), explode(col("hset")).as("h"))
    val dfreq = tok.groupBy("h").agg(count(lit(1)).as("df"))
    // Global token order = (df asc, hash asc) — any consistent total
    // order preserves the prefix-filter completeness proof; rarest-first
    // keeps the candidate fan-out minimal. The eager checkpoint lets the
    // self-join below read the prefix table once instead of recomputing
    // the df-join + window on both sides.
    val wRank = Window.partitionBy("doc_id").orderBy("df", "h")
    val prefix = tok.join(dfreq, "h")
      .withColumn("rk", row_number().over(wRank))
      .join(docs.select("doc_id", "sz"), "doc_id")
      .filter(col("rk") <= col("sz") - ceil(col("sz") * tau) + 1)
      .select(col("doc_id"), col("h"), col("rk"), col("sz"))
      .pinned()
    // PPJoin pruning at candidate time (all three are lossless for J≥τ):
    //  - length filter: τ·|A| ≤ |B| ≤ |A|/τ;
    //  - per-token positional filter: the overlap still reachable after
    //    this match, 1 + min(|A|-rk_a, |B|-rk_b), must meet the overlap
    //    minimum ⌈τ/(1+τ)·(|A|+|B|)⌉;
    //  - pair-level positional filter (replaces the distinct(): same
    //    one-shuffle shape): matched-prefix count plus the shortest
    //    remaining tail must still reach the overlap minimum.
    val minOv = ceil((col("pa.sz") + col("pb.sz")) * lit(tau / (1.0 + tau)))
    val cand = prefix.as("pa").join(prefix.as("pb"),
        col("pa.h") === col("pb.h") && col("pa.doc_id") < col("pb.doc_id")
          && col("pb.sz") >= col("pa.sz") * tau && col("pa.sz") >= col("pb.sz") * tau
          && least(col("pa.sz") - col("pa.rk"), col("pb.sz") - col("pb.rk")) + 1 >= minOv)
      .select(col("pa.doc_id").as("id_a"), col("pb.doc_id").as("id_b"),
        col("pa.rk").as("rka"), col("pb.rk").as("rkb"),
        col("pa.sz").as("sza"), col("pb.sz").as("szb"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("cnt"), max("rka").as("mrka"), max("rkb").as("mrkb"),
        first("sza").as("sza"), first("szb").as("szb"))
      .filter(col("cnt") + least(col("sza") - col("mrka"), col("szb") - col("mrkb"))
        >= ceil((col("sza") + col("szb")) * lit(tau / (1.0 + tau))))
      .select(col("id_a"), col("id_b"))
    cand
      .join(docs.select(col("doc_id").as("id_a"), col("hset").as("hs_a")), "id_a")
      .join(docs.select(col("doc_id").as("id_b"), col("hset").as("hs_b")), "id_b")
      .withColumn("j_raw",
        size(array_intersect(col("hs_a"), col("hs_b"))).cast("double") /
          size(array_union(col("hs_a"), col("hs_b"))).cast("double"))
      .filter(col("j_raw") >= tau) // exact ratio: bit-identical in the oracle
      .select(col("id_a"), col("id_b"), round(col("j_raw"), 4).as("jaccard"))
      .orderBy("id_a", "id_b")
  }

  /** Pairs → GROUPS: the Jaccard candidate pairs collapsed to connected
    * components via [[Dedup.connectedGroups]]; every document reports its
    * component's minimum doc_id as `group_id` (singletons report
    * themselves). This is the step that turns near-dup *detection* into
    * actual deduplication — downstream `keep group_id` is the survivor
    * rule. Oracle: recursive-CTE reachability over the identical pair
    * set.
    */
  /** Unsorted groups table for downstream consumers (canonical pick,
    * group split) — materialized once per (session, path) via
    * [[graft.io.Materialized]]: CC is the costliest stage of every
    * consumer, and a production pipeline writes this table once.
    */
  private[graft] def textDedupGroupsRaw(s: SparkSession, d: String): DataFrame =
    graft.io.Materialized.of(s, s"textDedupGroups|$d") {
      // persisted model artifact (write-once, serve-from-table across
      // sessions) — see graft.io.ModelStore
      graft.io.ModelStore.ensureDf(s, "groups-text", d) {
        val pairs = ngramJaccardPairsRaw(s, d).select(col("id_a"), col("id_b"))
        val docs = Sources.documents(s, d).select(col("doc_id"))
        Dedup.connectedGroups(pairs, docs, "doc_id")
          .select(col("id").as("doc_id"), col("group_id"))
      }
    }

  def textDedupGroups(s: SparkSession, d: String): DataFrame =
    textDedupGroupsRaw(s, d).orderBy("doc_id")

  /** Delta split for the incremental-maintenance query: every tenth
    * document plays the newly-arrived batch, the rest are "yesterday's"
    * corpus whose groups table already exists.
    */
  private def isDeltaDoc(id: Column): Column = pmod(id, lit(10L)) === 0

  /** "Yesterday's" groups table — CC over the BASE (non-delta) docs and
    * base-base pairs only, materialized once per (session, fixture)
    * exactly as a production pipeline would read the previous run's
    * gold table.
    */
  private[graft] def textDedupBaseGroupsRaw(s: SparkSession, d: String): DataFrame =
    graft.io.Materialized.of(s, s"textDedupBaseGroups|$d") {
      val pairs = ngramJaccardPairsRaw(s, d)
        .filter(!isDeltaDoc(col("id_a")) && !isDeltaDoc(col("id_b")))
        .select(col("id_a"), col("id_b"))
      val baseDocs = Sources.documents(s, d).select(col("doc_id"))
        .filter(!isDeltaDoc(col("doc_id")))
      Dedup.connectedGroups(pairs, baseDocs, "doc_id")
    }

  /** Incremental dedup-group maintenance (`text_dedup_incremental`):
    * the delta batch (every tenth doc) merges into yesterday's groups
    * table via [[Dedup.incrementalMerge]] — contracted-graph CC over
    * `{delta ids} ∪ {touched roots}` only, never the corpus — and the
    * result must equal the FULL recompute over all pairs row-for-row
    * (the oracle replays the full recursive-CTE reachability).
    * `relabeled` is the write-back set: base docs whose group label
    * changed because a delta doc bridged or extended their component.
    */
  def textDedupIncremental(s: SparkSession, d: String): DataFrame = {
    val pairs = ngramJaccardPairsRaw(s, d).select(col("id_a"), col("id_b"))
    val deltaPairs = pairs.filter(isDeltaDoc(col("id_a")) || isDeltaDoc(col("id_b")))
    val deltaDocs = Sources.documents(s, d).select(col("doc_id"))
      .filter(isDeltaDoc(col("doc_id")))
    Dedup.incrementalMerge(textDedupBaseGroupsRaw(s, d), deltaPairs, deltaDocs, "doc_id")
      .select(col("id").as("doc_id"), col("group_id"), col("is_delta"), col("relabeled"))
      .orderBy("doc_id")
  }

  /** Canonical-document selection — the survivor rule applied to the
    * near-dup groups: within each multi-document group keep the LONGEST
    * variant (ties to the smallest doc_id), the heuristic that preserves
    * the most complete copy of templated/truncated near-duplicates. One
    * row per non-singleton group: its size, the kept doc and its length.
    *
    * Plan: the group table joins back to (doc_id, n_chars) on the id key,
    * then a per-group window picks the survivor — WindowGroupLimit keeps
    * it a running top-1, and groups are near-dup-cluster sized, so the
    * window partitions are tiny at any corpus scale.
    */
  def dedupCanonical(s: SparkSession, d: String): DataFrame = {
    val sized = Sources.documents(s, d).select(col("doc_id"), col("n_chars"))
    val w = Window.partitionBy("group_id")
      .orderBy(col("n_chars").desc, col("doc_id").asc)
    textDedupGroupsRaw(s, d)
      .join(sized, "doc_id")
      .withColumn("rn", row_number().over(w))
      .groupBy("group_id")
      .agg(
        count(lit(1)).as("n_docs"),
        min(when(col("rn") === 1, col("doc_id"))).as("canonical_doc"),
        min(when(col("rn") === 1, col("n_chars"))).as("canonical_chars"))
      .filter(col("n_docs") >= 2)
      .orderBy("group_id")
  }

  /** Overlapping document chunking — the segmentation step for context-
    * window training data and retrieval indexing: 64-word chunks at a
    * 48-word stride (16 words of overlap so no boundary-spanning content
    * is lost to either neighbor). Chunk identity ships as the md5 of the
    * chunk text, which is what a downstream chunk-level dedup or
    * embedding job keys on.
    *
    * The whole operator is an in-row HOF transform + explode — zero
    * shuffles, zero joins; at 100 TB chunking streams with the scan and
    * the only cost is the output volume. Chunk starts come from
    * `sequence(1, n_words, stride)`, so every word is covered and the
    * tail chunk is short rather than dropped.
    */
  def textChunkOverlap(s: SparkSession, d: String): DataFrame = {
    val chunkWords = 64
    val strideWords = 48
    Sources.documents(s, d)
      .withColumn("__w", split(col("text"), " "))
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), size(col("__w")), lit(strideWords)),
        st => struct(
          floor((st - lit(1)).cast("double") / lit(strideWords.toDouble)).cast("long").as("chunk_id"),
          concat_ws(" ", slice(col("__w"), st, lit(chunkWords))).as("chunk")))).as("c"))
      .select(col("doc_id"), col("c.chunk_id").as("chunk_id"),
        size(split(col("c.chunk"), " ")).cast("long").as("n_words"),
        md5(col("c.chunk")).as("chunk_md5"))
      .orderBy("doc_id", "chunk_id")
  }

  /** Shared threshold for the verified near-dup pair queries: the fixture
    * (like real near-dup corpora) is cleanly bimodal in 3-shingle Jaccard
    * — duplicates sit ≥ 0.8, unrelated pairs < 0.15 at every SF — so any
    * τ in the gap yields the same verified pair set from either sketch.
    */
  private val nearDupTau = 0.6

  /** Distinct 3-word-shingle set per document, shingles hashed to
    * xxhash64 LONGS — the exact-verification side of both sketch
    * pipelines; same shingle construction as [[Dedup.minHashBands]].
    * Materialized once per (session, fixture): FOUR query paths consume
    * it (the MinHash and SimHash exact re-ranks, decontamination's
    * train/test split, the incremental LSH probe), and the shingle pass
    * (split + 3-gram + distinct per doc) is the expensive stage of each
    * — the classic build-the-shingle-table-once materialization at
    * corpus scale.
    *
    * Build shape is the [[jaccardPrefixJoin]] fast path, all three legs
    * mandatory: (1) `repartition` to session parallelism BEFORE the
    * projection — the documents fixture is one parquet file, so the
    * inherited split layout runs the whole corpus-sized shingle pass on
    * a single core; (2) a projection barrier pinning the split word
    * array — inlining `split()` into the transform() lambda re-tokenizes
    * the document once per shingle (O(words²) per doc on the interpreted
    * HOF path; measured 124.9 s vs 0.7 s on the driver's warm phase);
    * (3) shingles hashed to 64-bit longs so every downstream
    * `array_intersect`/`array_union`/postings equi-join runs Spark's
    * primitive-long fast path (~4× over the generic string scan).
    * Hashing never changes consumer OUTPUT values — Jaccard, containment
    * and postings counts depend only on element equality, and 64-bit
    * collisions are ~|set|²/2⁶⁵ per pair (the DuckDB string-set oracles
    * would surface one as a hash mismatch).
    */
  private[graft] def shingleSetsRaw(s: SparkSession, d: String): DataFrame =
    graft.io.Materialized.of(s, s"shingleSets|$d") {
      Sources.documents(s, d)
        .repartition(math.max(2, s.sparkContext.defaultParallelism)) // floor 2: single-core sessions report parallelism 1
        .select(col("doc_id"), words(col("text")).as("__w"))
        .pinned(eager = false)
        .select(col("doc_id"),
          array_distinct(transform(Dedup.wordShingles(col("__w")), h => xxhash64(h)))
            .as("sset"))
    }

  /** Exact shingle-Jaccard re-rank of candidate `(id_a, id_b)` pairs —
    * the verify half of LSH-propose / exact-verify: candidates come from
    * a sketch (linear cost), but only pairs whose TRUE Jaccard clears τ
    * are reported, which is what makes the output oracle-checkable (and
    * is exactly what a production dedup emits — candidates alone
    * over-merge). Two id equi-joins + one codegen'd set intersection per
    * candidate; cost is O(candidates), never all-pairs.
    */
  private def exactRerank(cands: DataFrame, s: SparkSession, d: String): DataFrame = {
    val sets = shingleSetsRaw(s, d)
    cands
      .join(sets.select(col("doc_id").as("id_a"), col("sset").as("set_a")), "id_a")
      .join(sets.select(col("doc_id").as("id_b"), col("sset").as("set_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        round(Dedup.jaccard(col("set_a"), col("set_b")), 4).as("jaccard"))
      .filter(col("jaccard") >= nearDupTau)
      .orderBy("id_a", "id_b")
  }

  /** MinHash + LSH near-dup pairs, exact-verified (SURVEY §2.13): 3-word
    * shingles → 16 minhashes (xxhash64, per-seed salt) → 8 bands of 2 →
    * band-bucket candidates → exact shingle-Jaccard ≥ τ. The sketch is
    * deterministic (fixed seeds) and its recall above τ is complete on
    * the bimodal fixture (verified by DedupPropertiesSpec against the
    * all-pairs scan), so the output hash-matches the all-pairs oracle.
    *
    * Band geometry is recall-driven: qualifying fixture pairs bottom out
    * at J = 0.8, where 2-hash bands give P(miss) = (1-J²)⁸ ≈ 3·10⁻⁴ —
    * the 4-hash bands used pre-r3 leak ~20% of J = 0.8 pairs ((1-J⁴)³),
    * which cost exactly one pair at sf0.1. Narrow bands trade more
    * false candidates for recall; the exact re-rank restores precision,
    * so the trade costs compute only, never correctness.
    *
    * This is the 100 TB dedup path: banding cost is linear in corpus
    * size, the re-rank is linear in candidates, and all-pairs comparison
    * never happens.
    */
  def dedupMinHashLsh(s: SparkSession, d: String): DataFrame =
    minhashVerifiedPairs(s, d)

  /** Session-materialized verified near-dup pair table — the expensive
    * propose+verify stage that BOTH `dedup_minhash_lsh` and the
    * [[dedupMinhashMetrics]] truth side consume (the erPairs09
    * discipline: two consumers, one derivation).
    */
  private[graft] def minhashVerifiedPairs(s: SparkSession, d: String): DataFrame =
    graft.io.Materialized.of(s, s"minhashPairs|$d") {
      // bands from the materialized hashed-shingle table (bit-identical
      // to banding the raw text — Dedup.minHashBandsFromSets): propose
      // and verify share one shingling pass per corpus
      val sigs = Dedup.minHashBandsFromSets(
        shingleSetsRaw(s, d), "doc_id", "sset", nHashes = 16, bandSize = 2)
      exactRerank(Dedup.lshCandidatePairs(sigs, "doc_id"), s, d)
    }

  /** SimHash near-dup pairs, exact-verified: 64-bit signature (per word
    * occurrence, each bit of xxhash64(word) votes ±1; sign of the vote
    * sum forms the bit), candidates via **pigeonhole blocking** — the
    * signature splits into 4 disjoint 16-bit chunks, and any pair within
    * hamming distance 3 must agree exactly on ≥ 1 chunk — so candidate
    * generation is an equi-join on (chunk_idx, chunk_val), never an
    * all-pairs hamming scan. Candidates are filtered to true hamming ≤ 3
    * (`bit_count(xor)`), then exact-verified like [[dedupMinHashLsh]].
    *
    * Rows-only BY MEASUREMENT, not by choice: fixture pairs with shingle
    * Jaccard ≥ 0.6 reach hamming 12/64 (~19% of bits — simhash tracks
    * bag-of-words cosine, which is much looser than shingle Jaccard), so
    * complete recall above τ would need chunk width < 1/0.19 ≈ 5 bits =
    * ≤ 32 distinct chunk values — a degenerate equi-join at ANY corpus
    * size. Structurally, word-simhash is a near-IDENTICAL detector
    * (hamming ≤ 3 ⇒ ~95% of weighted vocabulary shared); its verified
    * output is a sound SUBSET of [[dedupMinHashLsh]]'s (precision 1 vs
    * the exact check — asserted in DedupPropertiesSpec), and the
    * minhash path is the one whose recall is complete above τ.
    */
  def dedupSimHash(s: SparkSession, d: String): DataFrame = {
    val nBits = 64
    val nChunks = 4
    val chunkBits = nBits / nChunks
    val maxHamming = nChunks - 1 // pigeonhole bound for chunk blocking
    // r14 (verdict task 2): repartition BY doc_id before the explode —
    // the single-file scan runs one task, and the per-occurrence
    // xxhash64 + 64 bit-vote aggregation below is the query's CPU bulk
    // (4.3 s wall / 7.8 cpu-s in the r13 clean record, #2 overall).
    // Keyed on doc_id, the 64-vote groupBy reuses this exchange (no
    // second shuffle, and the one shuffle carries raw docs, not
    // exploded hashed occurrences). The count is EXPLICIT: an
    // unspecified count lets AQE coalesce the tiny-byte shuffle to one
    // partition and serialize the hash pass (measured 5.7 → 6.5 s).
    // Bit votes are exact integer sums, so the result is identical
    // under any partitioning — same fix its frozen twin got in r13.
    val docs = Sources.documents(s, d)
      .repartition(math.max(2, s.sparkContext.defaultParallelism),
        col("doc_id"))
    val exploded = docs
      .select(col("doc_id"), explode(words(col("text"))).as("w"))
      .withColumn("h", xxhash64(col("w")))
    val bitVotes = (0 until nBits).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(lit(1L)) === 1L, 1).otherwise(-1)).as(s"v_$b")
    }
    // OR-assemble (not +): bit 63 as a summand would overflow to the sign
    val sig = (0 until nBits).map { b =>
      when(col(s"v_$b") > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ bitwiseOR _)
    val sigs = exploded.groupBy("doc_id").agg(bitVotes.head, bitVotes.tail: _*)
      .withColumn("simhash", sig)
      .select("doc_id", "simhash")
    val chunks = sigs.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until nChunks).map(c =>
        shiftright(col("simhash"), c * chunkBits)
          .bitwiseAND(lit((1L << chunkBits) - 1))): _*))
        .as(Seq("chunk_idx", "chunk_val")))
    val a = chunks.select(col("doc_id").as("id_a"), col("simhash").as("sh_a"),
      col("chunk_idx"), col("chunk_val"))
    val b = chunks.select(col("doc_id").as("id_b"), col("simhash").as("sh_b"),
      col("chunk_idx").as("ci_b"), col("chunk_val").as("cv_b"))
    val cands = a.join(b, col("chunk_idx") === col("ci_b")
        && col("chunk_val") === col("cv_b") && col("id_a") < col("id_b"))
      .select("id_a", "id_b", "sh_a", "sh_b")
      .dropDuplicates("id_a", "id_b")
      .filter(bit_count(col("sh_a").bitwiseXOR(col("sh_b"))) <= maxHamming)
      .select("id_a", "id_b")
    exactRerank(cands, s, d)
  }

  /** Decontamination (LLM-pipeline core op): n-gram containment of a
    * held-out split against the train split — the check every training
    * corpus runs so benchmark/test text is not silently memorized. Split
    * is `doc_id % 10` (deterministic and oracle-expressible; the
    * library's general hash-bucket split is [[Sampling]]).
    *
    * containment(t, r) = |S'(t) ∩ S'(r)| / |S'(t)| over the df-capped
    * shingle vocabulary S' (train document frequency ≤ `dfCap`).
    * The df cap is the scale guard AND part of the metric definition
    * (applied identically in the oracle): boilerplate shingles with huge
    * posting lists are both a join blow-up and meaningless evidence of
    * contamination, so production decontamination drops them too.
    *
    * Scale shape: inverted-index equi-join on the shingle — explode to
    * (doc, shingle) postings, one df aggregation, one postings join,
    * one (test, train) count aggregation. No all-pairs comparison; cost
    * is Σ posting-list² bounded by dfCap per shingle.
    */
  def textContamination(s: SparkSession, d: String): DataFrame = {
    val dfCap = 100L
    val sets = shingleSetsRaw(s, d)
    val test = sets.filter(pmod(col("doc_id"), lit(10)) === 0)
    val train = sets.filter(pmod(col("doc_id"), lit(10)) =!= 0)
    // The shingle explode is the expensive pass here (split + 3-gram
    // transform + distinct over every document), and the DAG consumes the
    // train postings from multiple branches (df stats, the capped
    // posting list) — without materialization Spark re-derives that pass
    // per consumer (measured: 7.1 s → 3.6 s at sf0.1 from checkpointing
    // the narrow (train_id, sh) postings plus the two small reused
    // intermediates; same bounded-materialization lifecycle as
    // connectedGroups). At cluster scale this is the standard "build the
    // inverted index once" materialization, not a toy-mode hack.
    // `eager = false` defers the materialization jobs to the first
    // action, so merely *building* this DataFrame stays side-effect-free
    // like every other queries-map entry.
    val postings = train.select(col("doc_id").as("train_id"), explode(col("sset")).as("sh"))
      .pinned(eager = false)
    val testPost = test.select(col("doc_id").as("test_id"), explode(col("sset")).as("sh"))
    val stopShingles = postings.groupBy("sh")
      .agg(count(lit(1)).as("df")).filter(col("df") > dfCap).select("sh")
      .pinned(eager = false)
    // vocabulary keeps unseen shingles (train df = 0 ≤ cap): anti-join
    // against the over-cap list rather than inner-join against the rest
    val testOk = testPost.join(stopShingles, Seq("sh"), "left_anti")
      .pinned(eager = false)
    val trainOk = postings.join(stopShingles, Seq("sh"), "left_anti")
    val denom = testOk.groupBy("test_id").agg(count(lit(1)).as("n_sh"))
    val matches = testOk.join(trainOk, "sh")
      .groupBy("test_id", "train_id").agg(count(lit(1)).as("n_match"))
    matches.join(denom, "test_id")
      .select(col("test_id"), col("train_id"),
        round(col("n_match").cast("double") / col("n_sh").cast("double"), 4).as("containment"))
      .filter(col("containment") >= 0.5)
      .orderBy("test_id", "train_id")
  }

  /** Token budgeting (LLM-pipeline core op): keep documents per language
    * in deterministic priority order until the cumulative BPE-ish token
    * count crosses the per-language budget (2 500 tokens: small enough to bind at every fixture SF, so the filter is exercised, not vacuous) — how corpus mixes are sized
    * to a token target. One window shuffle; the token count is the same
    * regex pre-tokenizer as [[textStats]].
    */
  def textTokenBudget(s: SparkSession, d: String): DataFrame = {
    val budgetPerLang = 2500L
    val toks = Sources.documents(s, d).select(col("doc_id"), col("lang"),
      regexp_count(col("text"), lit("\\w+|[^\\w\\s]")).cast("long").as("n_tokens"))
    val w = Window.partitionBy("lang").orderBy("doc_id")
    toks.withColumn("cum_tokens", sum("n_tokens").over(w))
      .filter(col("cum_tokens") <= budgetPerLang)
      .orderBy("lang", "doc_id")
  }

  /** End-to-end training-data curation (the north-star ops composed as one
    * plan): quality filter (min words + stopword ratio) → exact dedup
    * (first doc per (lang, n_chars) signature) → per-(lang, source) corpus
    * stats with BPE-ish token totals. One linear scan, one window shuffle,
    * one aggregation shuffle — the whole curation pass over 100 TB is
    * 2 shuffles, no pairwise stage.
    */
  def curationPipeline(s: SparkSession, d: String): DataFrame = {
    val ws = words(col("text"))
    val stopArr = array(stopwords.map(lit): _*)
    val nWords = size(ws).cast("double")
    val nStop = size(filter(ws, w => array_contains(stopArr, w))).cast("double")
    val quality = Sources.documents(s, d)
      .filter(nWords >= 5 && nStop / nWords >= 0.05)
    val w = Window.partitionBy("lang", "n_chars").orderBy("doc_id")
    quality
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("lang"), col("source"), col("n_chars"),
        regexp_count(col("text"), lit("\\w+|[^\\w\\s]")).cast("long").as("n_tokens"))
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs_kept"),
        sum("n_tokens").as("total_tokens"),
        round(avg("n_chars"), 2).as("avg_chars"))
      .orderBy("lang", "source")
  }

  /** Boilerplate heavy-hitters (curation: over-represented word 5-grams
    * signal template text to strip). Shingle explode → count → global
    * top-20: map-side partial agg + `TakeOrderedAndProject`, both scale
    * shapes — the exploded shingle stream never materializes per doc.
    * Word arrays are bound to a column before the lambda (design rule);
    * sub-5-word docs are filtered so the shingle ranges agree with the
    * oracle's exclusive `range` semantics.
    */
  def textHeavyHitters(s: SparkSession, d: String): DataFrame = {
    val docs = Sources.documents(s, d)
      // the fixture is one parquet file ⇒ a 1-partition scan, so the 5-gram
      // explode + map-side partial count would run in ONE task (the r10
      // bench's lone under-parallel profile, cpu/wall ≈ 1.4). Fan out to
      // session parallelism before the explode; at 100 TB the scan is
      // many-partitioned naturally and this shuffle moves raw text once,
      // dwarfed by the 5-gram fan-out it parallelizes. The lazy pin is
      // the split-once projection barrier (shingleSetsRaw's discipline):
      // collapsed into the shingle lambda, split() re-tokenizes the
      // document once per 5-gram — O(words²) per doc.
      .repartition(math.max(2, s.sparkContext.defaultParallelism))
      .select(split(col("text"), " ").as("__w"))
      .filter(size(col("__w")) >= 5)
      .pinned(eager = false)
    docs
      .select(explode(transform(sequence(lit(1), size(col("__w")) - 4),
        i => concat_ws(" ", slice(col("__w"), i, lit(5))))).as("shingle"))
      .groupBy("shingle")
      .agg(count(lit(1)).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("shingle"))
      .limit(20)
  }

  /** Incremental ingestion dedup — the nightly-batch shape every growing
    * corpus runs: a NEW batch (here doc_id % 10 ≥ 8, the 20% "tonight's
    * crawl" slice) is probed against the EXISTING corpus (the other 80%)
    * and batch docs near-duplicating any corpus doc are dropped. The
    * asymmetry is the point at 100 TB: candidates come from
    * [[Dedup.lshCandidatePairsAcross]] (batch bands equi-joined to
    * corpus bands; corpus×corpus is never joined), so a nightly run costs
    * O(batch + matched buckets), not O(corpus²) — and the corpus band
    * table is the precomputable, appendable "dedup index" of the store.
    * Verification is the same exact shingle-Jaccard ≥ τ re-rank as
    * [[dedupMinHashLsh]], whose recall above τ is complete on the bimodal
    * fixture, so the output hash-matches the all-pairs batch×corpus
    * oracle. `dup_of` reports the smallest matched corpus id (−1 = none).
    */
  def dedupIncremental(s: SparkSession, d: String): DataFrame = {
    val docs = Sources.documents(s, d)
    val batch = docs.filter(pmod(col("doc_id"), lit(10L)) >= 8)
    val sets = shingleSetsRaw(s, d)
    // both band sides derive from the materialized hashed-shingle table
    // (bit-identical bands, one shingling pass — minHashBandsFromSets);
    // splitting the SETS table by the same id predicate is exactly the
    // production shape, where the corpus band index is a maintained
    // table and only the batch is banded fresh
    def bandsOf(pred: Column) = Dedup.minHashBandsFromSets(
      sets.filter(pred), "doc_id", "sset", nHashes = 16, bandSize = 2)
    val cands = Dedup.lshCandidatePairsAcross(
      bandsOf(pmod(col("doc_id"), lit(10L)) >= 8),
      bandsOf(pmod(col("doc_id"), lit(10L)) < 8),
      "doc_id")
    val matched = cands
      .join(sets.select(col("doc_id").as("id_a"), col("sset").as("set_a")), "id_a")
      .join(sets.select(col("doc_id").as("id_b"), col("sset").as("set_b")), "id_b")
      .filter(round(Dedup.jaccard(col("set_a"), col("set_b")), 4) >= nearDupTau)
      .groupBy(col("id_a").as("doc_id"))
      .agg(min("id_b").as("__dup"))
    batch.select("doc_id").join(matched, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("__dup"), lit(-1L)).as("dup_of"))
      .withColumn("kept", col("dup_of") === -1L)
      .orderBy("doc_id")
  }

  /** PII redaction — the scrub pass a pre-training pipeline runs before
    * anything else sees the text: emails and phone-shaped strings are
    * replaced with typed placeholder tokens and the per-document
    * redaction counts are reported for audit. The fixture corpus is
    * synthetic-clean, so PII is INJECTED deterministically first (every
    * 3rd doc gains an email, every 4th a phone number, built from the
    * doc_id) — both redaction outcomes bind and the whole construction
    * is reproducible in any engine.
    *
    * Pure map-side projection (regexp over the row, no shuffle); the
    * patterns are RE2-compatible so source-pushed scrubbing engines can
    * run the same rules. Output keys on md5 of the redacted text so the
    * oracle checks the FULL redacted string, not just counts.
    */
  def redactPii(s: SparkSession, d: String): DataFrame = {
    val emailPat = "[A-Za-z0-9]+@[A-Za-z0-9]+\\.[a-z]+"
    val phonePat = "555-[0-9]{4}"
    val injected = concat(
      col("text"),
      when(pmod(col("doc_id"), lit(3L)) === 0,
        concat(lit(" contact user"), col("doc_id").cast("string"), lit("@example.com")))
        .otherwise(lit("")),
      when(pmod(col("doc_id"), lit(4L)) === 0,
        concat(lit(" call 555-"), lpad(pmod(col("doc_id"), lit(10000L)).cast("string"), 4, "0")))
        .otherwise(lit("")))
    Sources.documents(s, d)
      .withColumn("__t", injected)
      .select(col("doc_id"),
        size(regexp_extract_all(col("__t"), lit(emailPat), lit(0))).cast("long").as("n_emails"),
        size(regexp_extract_all(col("__t"), lit(phonePat), lit(0))).cast("long").as("n_phones"),
        md5(regexp_replace(regexp_replace(col("__t"), emailPat, "[EMAIL]"),
          phonePat, "[PHONE]")).as("redacted_md5"))
      .orderBy("doc_id")
  }

  /** Asymmetric CONTAINMENT join (`dedup_containment`) — excerpt /
    * superset detection, the dedup semantics Jaccard cannot express: a
    * short quotation inside a long document scores near-zero Jaccard
    * but containment |A∩B|/|A| ≈ 1. Complete prefix filter on the
    * CONTAINED side only: if c(A,B) ≥ τ then ≥ ⌈τ|A|⌉ of A's shingles
    * are in B, so at least one of A's (|A| − ⌈τ|A|⌉ + 1) rarest
    * shingles is shared — A's prefix joins B's FULL posting list (B
    * keeps every token: the container side admits no prefix, which is
    * exactly why containment needs its own operator). Candidates are
    * bounded by the prefix tokens' document frequencies; the exact
    * re-rank touches survivors only. Directional output: equal-size
    * mutual containments dedupe by id order.
    *
    * Collision assumption: shingles are compared via `xxhash64`, so two
    * DISTINCT shingles colliding on 64 bits would perturb `sz` and the
    * intersection count (the oracle intersects raw strings). With d
    * distinct shingles per doc the per-doc collision odds are
    * ~d²/2⁶⁵ — ≈10⁻¹³ at d = 10⁴ — the standard hashed-set trade the
    * prefix filter's completeness proof already prices in; a paranoid
    * deployment widens to a 128-bit hash, same plan.
    */
  def dedupContainment(s: SparkSession, d: String): DataFrame = {
    val tau = 0.8
    // same hashed-shingle sets as the materialized shared table (the
    // private rebuild also inherited — and pinned — the single-file
    // scan's one-partition layout). No extra pin: the parent table is
    // already session-materialized, and re-checkpointing it per query
    // construction would cost more than the cheap size() projection the
    // consumers re-derive.
    val docs = shingleSetsRaw(s, d)
      .select(col("doc_id"), col("sset").as("hset"))
      .withColumn("sz", size(col("hset")))
    val tok = docs.select(col("doc_id"), explode(col("hset")).as("h"))
    val dfreq = tok.groupBy("h").agg(count(lit(1)).as("df"))
    val wRank = Window.partitionBy("doc_id").orderBy("df", "h")
    val prefixA = tok.join(dfreq, "h")
      .withColumn("rk", row_number().over(wRank))
      .join(docs.select("doc_id", "sz"), "doc_id")
      .filter(col("rk") <= col("sz") - ceil(col("sz") * tau) + 1)
      .select(col("doc_id").as("id_a"), col("h"), col("sz").as("sz_a"))
    val full = tok.join(docs.select("doc_id", "sz"), "doc_id")
      .select(col("doc_id").as("id_b"), col("h"), col("sz").as("sz_b"))
    val cand = prefixA.join(full, "h")
      .filter((col("sz_a") < col("sz_b") ||
        (col("sz_a") === col("sz_b") && col("id_a") < col("id_b"))) &&
        col("sz_b") >= ceil(col("sz_a") * tau)) // lossless: B holds ≥ ⌈τ|A|⌉ shared
      .select("id_a", "id_b").distinct()
    cand
      .join(docs.select(col("doc_id").as("id_a"), col("hset").as("set_a"),
        col("sz").as("sz_a")), "id_a")
      .join(docs.select(col("doc_id").as("id_b"), col("hset").as("set_b")), "id_b")
      .withColumn("containment",
        round(size(array_intersect(col("set_a"), col("set_b"))).cast("double") /
          col("sz_a").cast("double"), 4))
      .filter(col("containment") >= tau)
      .select(col("id_a").as("contained_id"), col("id_b").as("container_id"),
        col("containment"))
      .orderBy("contained_id", "container_id")
  }

  /** Distributed BPE merge learning (`text_bpe_merges`): the top-k
    * byte-pair merges over the corpus — tokenizer TRAINING run inside
    * the engine, on the same cluster that holds the 100 TB corpus,
    * instead of exporting text to a single-node trainer.
    *
    * Scale design: BPE statistics live on the WORD-FREQUENCY table, not
    * the corpus — one explode+groupBy builds (word, count) and every
    * subsequent iteration is vocabulary-bounded (distinct words), so the
    * corpus is scanned exactly once no matter how many merges are
    * learned. Each iteration: adjacent symbol pairs via an indexed
    * `transform` (no UDF, stays in codegen), one count-weighted groupBy,
    * a 1-row TakeOrdered collect (bounded: the argmax pair), and a
    * left-to-right greedy merge applied with the `aggregate` HOF. The
    * per-iteration `pinned()` checkpoint keeps lineage depth constant,
    * the same discipline as the PageRank loop. Ties break
    * lexicographically, making the merge sequence deterministic; the
    * max pair count is provably non-increasing across steps (a new pair
    * containing the merged symbol occurs at most as often as the merge
    * itself did), which BpeSpec asserts along with a hand-replayed
    * fixture. Rows-only by contract: an iterative argmax-and-rewrite
    * loop is not SQL-expressible.
    */
  def bpeMerges(s: SparkSession, d: String): DataFrame =
    bpeMergesOn(Sources.documents(s, d).select("text"), 8)

  /** One left-to-right greedy merge pass of pair (a, b) over a symbol
    * array — the `aggregate` HOF fold shared by BPE training and
    * tokenization (pure column math: stays in codegen, no UDF).
    */
  private def applyMerge(syms: Column, a: String, b: String): Column =
    aggregate(syms, array().cast("array<string>"),
      (acc, x) =>
        when(size(acc) > 0 && element_at(acc, -1) === lit(a) && x === lit(b),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
          .otherwise(concat(acc, array(x))))

  private[ops] def bpeMergesOn(docs: DataFrame, k: Int): DataFrame = {
    val s = docs.sparkSession
    var vocab = docs.select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .withColumn("syms", split(col("w"), ""))
      .select("cnt", "syms")
      .pinned()
    val learned = scala.collection.mutable.ArrayBuffer[(Long, String, String, String, Long)]()
    var step = 1
    var exhausted = false
    while (step <= k && !exhausted) {
      val top = vocab
        .select(col("cnt"), explode(expr(
          "transform(slice(syms, 1, size(syms) - 1)," +
            " (x, i) -> struct(x AS l, element_at(syms, i + 2) AS r))")).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum("cnt").as("pc"))
        .orderBy(col("pc").desc, col("l"), col("r"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (a, b, pc) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        learned += ((step.toLong, a, b, a + b, pc))
        vocab = vocab.withColumn("syms", applyMerge(col("syms"), a, b)).pinned()
        step += 1
      }
    }
    s.createDataFrame(learned.toSeq)
      .toDF("merge_rank", "left", "right", "merged", "pair_count")
      .orderBy("merge_rank")
  }

  /** BPE tokenization (`text_bpe_tokenize`) — the SERVE side of
    * `text_bpe_merges`: the learned merge table persists once as a
    * versioned [[graft.io.ModelStore]] table (train once, tokenize from
    * the table in any later session — the logreg weights discipline),
    * is collected driver-side (k rows, model-bounded), and each merge
    * becomes one chained `aggregate`-HOF fold applied in rank order.
    * The whole tokenizer is k map-side column transforms on ONE corpus
    * scan — no join, no shuffle until the per-document count, exactly
    * how a 100 TB tokenization pass should look. Per-document output:
    * word count, post-merge token count (always between n_words and
    * character count), and the percent saved vs character-level
    * encoding (integer basis points, engine-exact). Rows-only by
    * contract (the learned merges are not SQL-derivable); BpeSpec
    * re-applies the reference tokenizer and compares counts exactly.
    */
  def bpeTokenize(s: SparkSession, d: String): DataFrame = {
    val merges = graft.io.ModelStore.ensureDf(s, "bpe", d, "merges-v1")(bpeMerges(s, d))
      .orderBy("merge_rank").select("left", "right").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val toks = Sources.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .withColumn("syms", split(col("w"), ""))
    val merged = merges.foldLeft(toks) { case (df, (a, b)) =>
      df.withColumn("syms", applyMerge(col("syms"), a, b))
    }
    merged.groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(size(col("syms")).cast("long")).as("n_tokens"),
        sum(length(col("w")).cast("long")).as("n_letters"))
      .withColumn("saved_bp",
        expr("(10000 * (n_letters - n_tokens)) div n_letters"))
      .orderBy("doc_id")
  }

  /** Published frozen merge table for [[bpeTokenizeFrozen]] — the
    * logreg/PCA/IVF frozen-twin discipline applied to tokenization:
    * eight FIXED (left, right) merges in rank order, chosen to fire on
    * the fixture vocabulary and to exercise chained merges (rank 2
    * consumes rank 1's product, rank 7 consumes rank 4's). Every pair
    * has left ≠ right as strings — load-bearing for the oracle replay
    * (see [[bpeTokenizeFrozen]]).
    */
  private[ops] val frozenBpeMerges: Seq[(String, String)] = Seq(
    ("t", "h"), ("th", "e"), ("a", "n"), ("o", "r"),
    ("e", "r"), ("s", "t"), ("or", "t"), ("w", "i"))

  /** BPE tokenization with the PUBLISHED merge table
    * (`text_bpe_tokenize_frozen`) — the hash-gated serving twin of
    * [[bpeTokenize]] (which applies TRAINED merges and stays rows-only
    * by contract, like `ml_logreg_score` vs `_frozen`). Identical plan:
    * k chained `aggregate`-HOF folds, map-side, one corpus scan, no
    * shuffle before the per-document count.
    *
    * Oracle replayability is the point: the DuckDB twin encodes each
    * word as a chr(31)-separated symbol string and applies each merge as
    * TWO `replace(sep+a+sep+b+sep → sep+ab+sep)` passes.
    * Two passes replay the engine's left-to-right greedy fold EXACTLY
    * when left ≠ right: occurrences over the symbol sequence are then
    * disjoint (an overlap at (i,i+1)/(i+1,i+2) forces left = right),
    * pass 1's only misses are pairs whose leading separator was
    * consumed by the immediately-preceding match — never two in a row,
    * since a skipped pair's successor keeps its separator — and pass 2
    * picks up exactly those. (With left = right the two-pass replay can
    * commit to a smaller maximal matching than the fold — merge
    * ("a","a") over "aaaaaa" folds to 3 tokens but replays to 4 — which
    * is why the published table excludes self-merges.) Separator safety:
    * fixture text is ASCII 32–121, checked per SF; chr(31) cannot occur.
    */
  def bpeTokenizeFrozen(s: SparkSession, d: String): DataFrame = {
    val toks = Sources.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .withColumn("syms", split(col("w"), ""))
    val merged = frozenBpeMerges.foldLeft(toks) { case (df, (a, b)) =>
      df.withColumn("syms", applyMerge(col("syms"), a, b))
    }
    merged.groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(size(col("syms")).cast("long")).as("n_tokens"),
        sum(length(col("w")).cast("long")).as("n_letters"))
      .withColumn("saved_bp",
        expr("(10000 * (n_letters - n_tokens)) div n_letters"))
      .orderBy("doc_id")
  }

  /** Cross-document boilerplate audit (`text_boilerplate`): per source,
    * the share of distinct 5-gram shingles appearing in ≥ 30% of that
    * source's documents — the template/navigation-chrome signal that
    * intra-document repetition (`text_repetition`) cannot see, and the
    * standard trigger for source-level boilerplate stripping before
    * training. Shape: per-doc DISTINCT shingles (in-row array ops, no
    * cross-doc state), one (source, shingle) doc-frequency aggregate —
    * the inverted-index shuffle, keyed wide enough that 100 TB spreads
    * it — then a source-grain rollup with the threshold as exact
    * integer cross-multiplication (`10·df ≥ 3·n_docs`).
    */
  def boilerplate(s: SparkSession, d: String): DataFrame = {
    val docs = Sources.documents(s, d)
      // fan out before the 5-gram explode: the single-file scan would
      // otherwise shingle the whole corpus on one core (same class as
      // text_heavy_hitters; at 100 TB the scan is many-partitioned and
      // this one raw-text shuffle is dwarfed by the explode fan-out).
      // Lazy pin = the split-once projection barrier (no O(words²)
      // re-tokenize inside the shingle lambda).
      .repartition(math.max(2, s.sparkContext.defaultParallelism))
      .select(col("source"), col("doc_id"), split(col("text"), " ").as("__w"))
      .pinned(eager = false)
      .select(col("source"), col("doc_id"),
        explode(array_distinct(graft.ops.Dedup.wordShingles(
          col("__w"), 5))).as("sh"))
    val nDocs = Sources.documents(s, d)
      .groupBy("source").agg(count(lit(1)).as("n_docs"))
    val df5 = docs.groupBy("source", "sh").agg(countDistinct("doc_id").as("df"))
    df5.join(nDocs, "source")
      .groupBy("source")
      .agg(max("n_docs").as("n_docs"),
        count(lit(1)).as("n_shingles"),
        sum(when(col("df") * 10 >= col("n_docs") * 3, 1L).otherwise(0L)).as("n_boiler"))
      .select(col("source"), col("n_docs"), col("n_shingles"), col("n_boiler"),
        expr("(10000 * n_boiler) div n_shingles").as("boiler_bp"))
      .orderBy("source")
  }

  /** Cross-document duplicate-span detection (`text_dup_spans`) — the
    * substring-level exact dedup of "Deduplicating Training Data Makes
    * Language Models Better" (Lee et al., ACL 2022), reduced to its
    * MapReduce core: every 5-token window is keyed by its text, windows
    * occurring in ≥ 2 DISTINCT documents are flagged, and per-document
    * consecutive flagged positions merge into maximal spans
    * (gaps-and-islands). Unlike the doc-level dedup family this finds
    * the boilerplate passage INSIDE otherwise-unique documents — the op
    * that doc-level MinHash structurally cannot express.
    *
    * Scale shape: gram generation is a map-side transform+explode over
    * the repartitioned corpus; the duplicate test is ONE gram-keyed
    * aggregate plus the equi-join back (the paper's suffix-array pass
    * replaced by its hash-join equivalent — no global sort anywhere);
    * the island merge is a per-document window, corpus-keyed and fully
    * parallel. The gram table is consumed by both the aggregate and the
    * join-back, so it is pinned once (the multi-consumer discipline).
    *
    * The gram KEY is `xxhash64(gram)` computed inside the generating
    * map task (r12): the raw 5-token string (~30-60 bytes here, often
    * hundreds at corpus scale) never enters a shuffle — the pinned
    * table, the duplicate aggregate and the join-back all move 8-byte
    * keys, a measured ~4x shuffle-byte reduction on the fixture
    * (PLANS.md "Round-12: ER banded-blocking probe + dup-span shuffle
    * width" records the row x key-width arithmetic per scale).
    * Collision odds ~|grams|²/2⁶⁵ — a false flag needs two distinct
    * grams hashing equal, acceptable for curation and far below the
    * fixture's oracle-checked scale (the DuckDB replay groups by the
    * raw string and the hash-keyed answer still hash-matches it).
    */
  def dupSpans(s: SparkSession, d: String): DataFrame = {
    val w = 5
    val grams = graft.io.Checkpoints.pin(
      Sources.documents(s, d)
        .repartition(math.max(2, s.sparkContext.defaultParallelism))
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
        .filter(size(col("ws")) >= w)
        .select(col("doc_id"), explode(expr(
          s"transform(sequence(1, size(ws) - ${w - 1}), i -> " +
            s"struct(CAST(i AS BIGINT) AS pos, " +
            s"xxhash64(array_join(slice(ws, i, $w), ' ')) AS gram_h))")).as("g"))
        .select(col("doc_id"), col("g.pos").as("pos"), col("g.gram_h").as("gram_h")),
      eager = false)
    val dup = grams.groupBy("gram_h")
      .agg(count_distinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2)
      .select("gram_h")
    val flagged = grams.join(dup, "gram_h").select("doc_id", "pos")
    val isl = flagged.withColumn("grp",
      col("pos") - row_number().over(
        Window.partitionBy("doc_id").orderBy("pos")))
    isl.groupBy("doc_id", "grp")
      .agg(min("pos").as("span_start"), max("pos").as("span_end"),
        count(lit(1)).as("n_grams"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        col("n_grams"),
        (col("span_end") - col("span_start") + w).as("span_tokens"))
      .orderBy("doc_id", "span_start")
  }

  /** Single-sentence Flesch-style readability (`text_readability`,
    * r13): per document, word count, vowel-group syllable proxy
    * ([aeiou]+ runs over the lowercased text — groups never span the
    * space separator, so one regex pass over the raw text counts all
    * words at once), and the Flesch Reading Ease with the fixture's
    * one-sentence convention (sentences := 1, documented — the corpus
    * carries no sentence punctuation). Counts are exact BIGINT gates;
    * the score is one mirrored double expression, rounded 4. Pure
    * map-side projection + per-doc row — no shuffle at all before the
    * final order.
    */
  def textReadability(s: SparkSession, d: String): DataFrame = {
    val words = size(split(col("text"), " ")).cast("long")
    val syll = size(regexp_extract_all(lower(col("text")), lit("[aeiou]+"), lit(0)))
      .cast("long")
    Sources.documents(s, d)
      .select(col("doc_id"), words.as("n_words"), syll.as("n_syll"))
      .withColumn("flesch", graft.functions.Num.roundNorm(
        lit(206.835) - lit(1.015) * col("n_words").cast("double") -
          lit(84.6) * (col("n_syll").cast("double") / col("n_words").cast("double")), 4))
      .orderBy("doc_id")
  }

  /** Hapax legomena share per source (`text_hapax`, r13): the fraction
    * of a source's distinct vocabulary occurring exactly once — the
    * classic productivity/diversity signal (a source whose hapax share
    * collapses is template-generated; one that stays near Zipf's ~50 %
    * is organic). One (source, word)-keyed count aggregate — the
    * inverted-vocabulary shuffle — then a source-grain rollup;
    * share as integer basis points (exact `div`).
    */
  def textHapax(s: SparkSession, d: String): DataFrame =
    Sources.documents(s, d)
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("source", "w")
      .agg(count(lit(1)).as("cnt"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_vocab"),
        sum(when(col("cnt") === 1, 1L).otherwise(0L)).as("n_hapax"))
      .withColumn("hapax_bp", expr("(10000 * n_hapax) div n_vocab"))
      .orderBy("source")

  /** SimHash near-dup with a PUBLISHED token hash
    * (`dedup_simhash_frozen`, r13) — the frozen serving twin that puts
    * the simhash FAMILY under the DuckDB hash gate (the trained
    * [[dedupSimHash]] stays rows-only because xxhash64 has no SQL
    * replay; this twin swaps in the published polynomial hash
    * h(w) = foldLeft(0)((a,c) => (31a + code(c)) mod 2⁴⁰), which
    * DuckDB's `list_reduce` replays exactly — a zero-seeded fold and a
    * first-element-seeded reduce agree for this h because
    * 31·0 + c₁ = c₁). Same plan as the trained op: 32 bit-votes in one
    * doc-keyed aggregate, 4×8-bit chunk bands (pigeonhole-complete for
    * Hamming ≤ 3), band equi-join, exact popcount verify — never
    * all-pairs. Density note: 32 bits over this fixture's SMALL shared
    * vocabulary makes Hamming ≤ 3 genuinely dense (~17 % of all pairs
    * at sf0.1 — the query is output-bound, not shape-bound); a
    * production corpus takes the trained 64-bit twin's width, where
    * the same banded plan keeps candidates sparse. Width is a
    * parameter of the FAMILY, not of the plan.
    */
  def dedupSimHashFrozen(s: SparkSession, d: String): DataFrame = {
    val nBits = 32
    val nChunks = 4
    val chunkBits = nBits / nChunks
    val maxHamming = nChunks - 1
    // repartition BY doc_id before the explode: the single-file scan
    // runs one task, and the per-occurrence char-fold hash below is the
    // query's CPU bulk — keyed on doc_id, the 32-vote groupBy then
    // reuses this exchange (no second shuffle, and the one shuffle
    // carries raw docs, not exploded hashed occurrences). The count is
    // EXPLICIT: an unspecified count lets AQE coalesce the tiny-byte
    // shuffle to one partition and serialize the hash pass.
    val exploded = Sources.documents(s, d)
      .repartition(math.max(2, s.sparkContext.defaultParallelism),
        col("doc_id"))
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .withColumn("h", aggregate(
        transform(split(col("w"), ""), c => ascii(c).cast("long")),
        lit(0L), (a, x) => (a * 31L + x) % (1L << 40)))
    val bitVotes = (0 until nBits).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(lit(1L)) === 1L, 1)
        .otherwise(-1)).as(s"v_$b")
    }
    val sig = (0 until nBits).map { b =>
      when(col(s"v_$b") > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ bitwiseOR _)
    val sigs = exploded.groupBy("doc_id").agg(bitVotes.head, bitVotes.tail: _*)
      .withColumn("sig", sig)
      .select("doc_id", "sig")
    val chunks = sigs.select(col("doc_id"), col("sig"),
      posexplode(array((0 until nChunks).map(c =>
        shiftright(col("sig"), c * chunkBits)
          .bitwiseAND(lit((1L << chunkBits) - 1))): _*))
        .as(Seq("chunk_idx", "chunk_val")))
    val a = chunks.select(col("doc_id").as("id_a"), col("sig").as("sa"),
      col("chunk_idx"), col("chunk_val"))
    val b = chunks.select(col("doc_id").as("id_b"), col("sig").as("sb"),
      col("chunk_idx").as("ci_b"), col("chunk_val").as("cv_b"))
    a.join(b, col("chunk_idx") === col("ci_b")
        && col("chunk_val") === col("cv_b") && col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sa").bitwiseXOR(col("sb"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
      .orderBy("id_a", "id_b")
  }

  /** Frozen-minhash blocking metrics (`dedup_minhash_metrics`, r13):
    * the [[graft.ops.EntityRes.blockingMetrics]] discipline applied to
    * the near-dup family — reduction ratio and pairs completeness of a
    * PUBLISHED minhash banding, measured against the exact-Jaccard
    * truth. The twin swaps xxhash64 for the published polynomial
    * shingle hash (the [[dedupSimHashFrozen]] fold, mod 2⁴⁰) and 8
    * published affine minhashes h_i = (31+2i)·x + (7+13i) mod 10⁹+7 in
    * 4 bands of 2, so the ENTIRE banding trajectory — signatures, band
    * keys, the candidate census — replays in DuckDB. Truth engine-side
    * is [[dedupMinHashLsh]]'s verified pair table (recall-complete —
    * its own oracle is the un-blocked all-pairs scan); oracle-side it
    * is recomputed un-blocked, so n_truth doubles as a recall re-proof
    * while completeness_e6 measures the FROZEN 8-hash banding honestly
    * (4 bands of 2 catch J = 0.8 with p ≈ 0.983 — a miss is a
    * measurement, not a bug; the trained 16-hash twin is the
    * production recall path). Candidate generation stays a band
    * equi-join — never all-pairs — at any corpus size.
    */
  def dedupMinhashMetrics(s: SparkSession, d: String): DataFrame = {
    // repartition before shingling: the per-shingle char-fold hash is
    // the CPU bulk and would otherwise run on the single-file scan's
    // one task (the ngramJaccardPairsRaw lesson)
    val polySets = Sources.documents(s, d)
      .repartition(math.max(2, s.sparkContext.defaultParallelism))
      .select(col("doc_id"), words(col("text")).as("__w"))
      .select(col("doc_id"), array_distinct(
        transform(Dedup.wordShingles(col("__w")),
          sh => aggregate(
            transform(split(sh, ""), c => ascii(c).cast("long")),
            lit(0L), (a, x) => (a * 31L + x) % (1L << 40)))).as("hset"))
    val mh = (0 until 8).map { i =>
      array_min(transform(col("hset"),
        h => (h * lit(31L + 2L * i) + lit(7L + 13L * i)) % 1000000007L))
        .as(s"mh_$i")
    }
    val sigs = polySets.select(col("doc_id") +: mh: _*)
    val bd = sigs.select(col("doc_id"),
      posexplode(array((0 until 4).map(b =>
        (col(s"mh_${2 * b}") * 1000003L + col(s"mh_${2 * b + 1}")) %
          (1L << 40)): _*)).as(Seq("bi", "bk")))
    val cand = bd.select(col("bi"), col("bk"), col("doc_id").as("id_a"))
      .join(bd.select(col("bi"), col("bk"), col("doc_id").as("id_b")),
        Seq("bi", "bk"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val truth = minhashVerifiedPairs(s, d).select("id_a", "id_b")
    val nCov = truth.join(cand, Seq("id_a", "id_b"), "left_semi")
      .agg(count(lit(1)).as("n_covered"))
    val nTruth = truth.agg(count(lit(1)).as("n_truth"))
    val nCand = cand.agg(count(lit(1)).as("n_candidates"))
    val nDocs = polySets.agg(count(lit(1)).as("n_docs"))
    nDocs.crossJoin(broadcast(nCand)).crossJoin(broadcast(nTruth))
      .crossJoin(broadcast(nCov))
      .withColumn("n_all_pairs", expr("(n_docs * (n_docs - 1)) div 2"))
      .select(col("n_docs"), col("n_all_pairs"), col("n_candidates"),
        col("n_truth"), col("n_covered"),
        expr("(n_covered * 1000000L) div n_truth").as("completeness_e6"),
        expr("((n_all_pairs - n_candidates) * 1000000L) div n_all_pairs")
          .as("reduction_e6"))
  }

  /** Generated oracle for [[dedupSimHashFrozen]] — the 32 bit-vote
    * columns and the signature assembly are emitted from the same
    * constants the engine uses.
    */
  private def simHashFrozenOracle: String = {
    val votes = (0 until 32).map { j =>
      s"CAST(sum(CASE WHEN (h // ${1L << j}) % 2 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS v_$j"
    }.mkString(",\n   ")
    val sig = (0 until 32).map { j =>
      s"(CASE WHEN v_$j > 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString(" + ")
    s"""WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
       |  FROM documents),
       | f AS (SELECT doc_id, list_reduce(
       |    list_transform(string_split(w, ''), c -> CAST(unicode(c) AS BIGINT)),
       |    (a, b) -> (a * 31 + b) % 1099511627776) AS h
       |  FROM w WHERE length(w) > 0),
       | v AS (SELECT doc_id,
       |   $votes
       |  FROM f GROUP BY doc_id),
       | s AS (SELECT doc_id, CAST($sig AS BIGINT) AS sig FROM v),
       | c AS (SELECT doc_id, sig, j.j AS chunk_idx,
       |    (sig // (CASE j.j WHEN 0 THEN 1 WHEN 1 THEN 256
       |      WHEN 2 THEN 65536 ELSE 16777216 END)) % 256 AS cv
       |  FROM s CROSS JOIN (SELECT unnest(range(0, 4)) AS j) j),
       | p AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       |    a.sig AS sa, b.sig AS sb
       |  FROM c a JOIN c b ON a.chunk_idx = b.chunk_idx AND a.cv = b.cv
       |   AND a.doc_id < b.doc_id)
       |SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
       |FROM p WHERE bit_count(xor(sa, sb)) <= 3 ORDER BY id_a, id_b""".stripMargin
  }

  /** Gazetteer entity tagging (`text_gazetteer_tag`, r13): dictionary
    * tagging — the first pass of any PII/compliance or
    * domain-vocabulary scanner: match every token against a published
    * term → category gazetteer and census the hits per document
    * (mention count, distinct terms, first mention position, dominant
    * category). A document with ZERO hits is a RESULT (the clean
    * census — LEFT join, −1 sentinel, 'none' category), not a dropped
    * row. Plan: one posexplode pass, a 5-row broadcast gazetteer
    * join, doc-local windows only (the dominant-category argmax ranks
    * within a doc's ≤|gazetteer| category rows). At 100 TB a real
    * gazetteer is ~10⁵ terms — still a broadcast, same plan.
    */
  def gazetteerTag(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val gaz = Seq(("spark", "engine"), ("query", "lang"), ("join", "op"),
      ("stream", "mode"), ("hash", "op")).toDF("w", "cat")
    val toks = Sources.documents(s, d)
      .select(col("doc_id"), posexplode(words(col("text"))))
      .toDF("doc_id", "pos", "w")
    val hits = toks.join(broadcast(gaz), Seq("w"))
    val perDoc = hits.groupBy("doc_id")
      .agg(count(lit(1)).as("n_mentions"),
        countDistinct("w").as("n_terms"),
        min("pos").cast("long").as("first_pos"))
    val topCat = hits.groupBy("doc_id", "cat").agg(count(lit(1)).as("c"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
          .orderBy(col("c").desc, col("cat"))))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("cat").as("top_cat"))
    Sources.documents(s, d).select("doc_id")
      .join(perDoc, Seq("doc_id"), "left")
      .join(topCat, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_mentions"), lit(0L)).as("n_mentions"),
        coalesce(col("n_terms"), lit(0L)).as("n_terms"),
        coalesce(col("first_pos"), lit(-1L)).as("first_pos"),
        coalesce(col("top_cat"), lit("none")).as("top_cat"))
      .orderBy("doc_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_gazetteer_tag" -> (gazetteerTag _),
    "dedup_simhash_frozen" -> (dedupSimHashFrozen _),
    "dedup_minhash_metrics" -> (dedupMinhashMetrics _),
    "text_readability" -> (textReadability _),
    "text_hapax" -> (textHapax _),
    "text_dup_spans" -> (dupSpans _),
    "text_langid_confusion" -> (langIdConfusion _),
    "text_boilerplate" -> (boilerplate _),
    "text_bpe_tokenize" -> (bpeTokenize _),
    "text_bpe_tokenize_frozen" -> (bpeTokenizeFrozen _),
    "text_bpe_merges" -> (bpeMerges _),
    "dedup_containment" -> (dedupContainment _),
    "dedup_incremental" -> (dedupIncremental _),
    "text_redact_pii" -> (redactPii _),
    "text_heavy_hitters" -> (textHeavyHitters _),
    "text_curation_pipeline" -> (curationPipeline _),
    "dedup_exact" -> (dedupExact _),
    "dedup_keep_latest" -> (dedupKeepLatest _),
    "text_stats" -> (textStats _),
    "text_quality" -> (textQuality _),
    "text_lang_histogram" -> (langHistogram _),
    "text_lang_id" -> (langIdHeuristic _),
    "text_fingerprint" -> (textFingerprint _),
    "text_entropy" -> (textEntropy _),
    "text_simpson" -> (textSimpson _),
    "dedup_ngram_jaccard" -> (ngramJaccardPairs _),
    "dedup_jaccard_prefix" -> (jaccardPrefixJoin _),
    "graph_triangle_stats" -> (triangleStats _),
    "text_dedup_groups" -> (textDedupGroups _),
    "text_dedup_incremental" -> (textDedupIncremental _),
    "dedup_canonical" -> (dedupCanonical _),
    "text_chunk_overlap" -> (textChunkOverlap _),
    "dedup_minhash_lsh" -> (dedupMinHashLsh _),
    "dedup_simhash" -> (dedupSimHash _),
    "text_contamination" -> (textContamination _),
    "text_token_budget" -> (textTokenBudget _),
  )

  /** Triangle statistics over the near-dup graph — the structural audit
    * of a dedup pair set: triangles vs wedges (global clustering
    * coefficient) distinguishes tight duplicate cliques (cc → 1) from
    * chain-like false-positive bridges (cc → 0). The standard
    * two-join edge-list algorithm: edges are oriented a < b, so each
    * triangle a < b < c is counted exactly once by joining (a,b)⨝(b,c)
    * and closing with (a,c) — equi-joins only, never an all-pairs stage;
    * degrees and wedges are one aggregate over the edge list.
    */
  def triangleStats(s: SparkSession, d: String): DataFrame = {
    val e = ngramJaccardPairsRaw(s, d).select(col("id_a"), col("id_b"))
    val nEdges = e.agg(count(lit(1)).as("n_edges"))
    val wedges = e.select(col("id_a").as("v")).unionAll(e.select(col("id_b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("dg"))
      .agg(sum(col("dg") * (col("dg") - 1L) / 2L).cast("long").as("n_wedges"))
    val tri = e.select(col("id_a").as("a"), col("id_b").as("b"))
      .join(e.select(col("id_a").as("b"), col("id_b").as("c")), "b")
      .join(e.select(col("id_a").as("a"), col("id_b").as("c")), Seq("a", "c"))
      .agg(count(lit(1)).as("n_triangles"))
    nEdges.crossJoin(wedges).crossJoin(tri)
      .select(col("n_edges"), col("n_wedges"), col("n_triangles"),
        round(when(col("n_wedges") === 0L, 0.0)
          .otherwise(lit(3.0) * col("n_triangles") / col("n_wedges")), 4)
          .as("global_cc"))
  }

  /** All pairs whose exact 3-shingle Jaccard clears τ — the ground truth
    * both sketch-verified pair queries must reproduce. O(n²) is fine for
    * an ORACLE (it runs in DuckDB on the small fixture); the Spark
    * queries it checks never do all-pairs work.
    */
  /** Generated oracle for [[dedupMinhashMetrics]] — minhash multipliers
    * and band assembly emitted from the same constants as the engine.
    */
  private def minhashMetricsOracle: String = {
    val mhs = (0 until 8).map { i =>
      s"list_min(list_transform(hset, h -> (h * ${31 + 2 * i} + ${7 + 13 * i}) % 1000000007)) AS mh_$i"
    }.mkString(",\n    ")
    val bandSel = (0 until 4).map { b =>
      s"SELECT doc_id, $b AS bi, (mh_${2 * b} * 1000003 + mh_${2 * b + 1}) % 1099511627776 AS bk FROM sig"
    }.mkString("\n  UNION ALL ")
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       | sh AS (SELECT doc_id, list_distinct(list_transform(
       |    range(1, greatest(len(ws) - 2, 1) + 1),
       |    i -> array_to_string(ws[i:i+2], ' '))) AS sset FROM w),
       | hs AS (SELECT doc_id, sset, list_distinct(list_transform(sset,
       |    s -> list_reduce(list_transform(string_split(s, ''),
       |      c -> CAST(unicode(c) AS BIGINT)),
       |      (a, b) -> (a * 31 + b) % 1099511627776))) AS hset FROM sh),
       | sig AS (SELECT doc_id,
       |    $mhs
       |  FROM hs),
       | bd AS ($bandSel),
       | cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |   FROM bd a JOIN bd b ON a.bi = b.bi AND a.bk = b.bk
       |    AND a.doc_id < b.doc_id),
       | truth AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |   FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       |   WHERE round(len(list_intersect(a.sset, b.sset))::DOUBLE /
       |     len(list_distinct(list_concat(a.sset, b.sset))), 4) >= 0.6),
       | cov AS (SELECT CAST(count(*) AS BIGINT) AS n_covered FROM truth t
       |   JOIN cand c ON t.id_a = c.id_a AND t.id_b = c.id_b),
       | nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
       | c2 AS (SELECT CAST(count(*) AS BIGINT) AS n_candidates FROM cand),
       | t2 AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM truth)
       |SELECT n_docs,
       | CAST((n_docs * (n_docs - 1)) // 2 AS BIGINT) AS n_all_pairs,
       | n_candidates, n_truth, n_covered,
       | CAST(n_covered * 1000000 // n_truth AS BIGINT) AS completeness_e6,
       | CAST(((n_docs * (n_docs - 1)) // 2 - n_candidates) * 1000000
       |   // ((n_docs * (n_docs - 1)) // 2) AS BIGINT) AS reduction_e6
       |FROM nd CROSS JOIN c2 CROSS JOIN t2 CROSS JOIN cov""".stripMargin
  }

  private val verifiedPairsOracle: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      | d AS (SELECT doc_id, list_distinct(list_transform(
      |   range(1, greatest(len(ws) - 2, 1) + 1),
      |   i -> array_to_string(ws[i:i+2], ' '))) AS sset FROM w)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      | round(len(list_intersect(a.sset, b.sset))::DOUBLE /
      |       len(list_distinct(list_concat(a.sset, b.sset))), 4) AS jaccard
      |FROM d a JOIN d b ON a.doc_id < b.doc_id
      |WHERE round(len(list_intersect(a.sset, b.sset))::DOUBLE /
      |      len(list_distinct(list_concat(a.sset, b.sset))), 4) >= 0.6
      |ORDER BY id_a, id_b""".stripMargin

  /** Generated (not hand-written) from [[frozenBpeMerges]] so the
    * published table cannot drift from its oracle: each merge becomes
    * two identical `replace` passes over the chr(31)-separated symbol
    * string (the two-pass greedy-fold replay proven in
    * [[bpeTokenizeFrozen]]'s scaladoc).
    */
  private def bpeFrozenOracle: String = {
    val sep = "chr(31)"
    def pat(a: String, b: String) = s"$sep || '$a' || $sep || '$b' || $sep"
    def rep(ab: String) = s"$sep || '$ab' || $sep"
    val chain = frozenBpeMerges.foldLeft(
      s"$sep || array_to_string(string_split(w, ''), chr(31)) || $sep") {
      case (acc, (a, b)) =>
        val one = s"replace($acc, ${pat(a, b)}, ${rep(a + b)})"
        s"replace($one, ${pat(a, b)}, ${rep(a + b)})"
    }
    s"""WITH words AS (
       |  SELECT doc_id, w FROM (
       |    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE length(w) > 0),
       | enc AS (SELECT doc_id, w, $chain AS s FROM words),
       | agg AS (
       |  SELECT doc_id,
       |    CAST(count(*) AS BIGINT) AS n_words,
       |    CAST(sum(length(s) - length(replace(s, chr(31), '')) - 1) AS BIGINT)
       |      AS n_tokens,
       |    CAST(sum(length(w)) AS BIGINT) AS n_letters
       |  FROM enc GROUP BY doc_id)
       |SELECT doc_id, n_words, n_tokens, n_letters,
       |  (10000 * (n_letters - n_tokens)) // n_letters AS saved_bp
       |FROM agg ORDER BY doc_id""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    // same 5-term gazetteer, same zero-hit sentinel rows, same
    // (count desc, cat) dominant-category tie-break
    "text_gazetteer_tag" ->
      """WITH g AS (SELECT * FROM (VALUES ('spark', 'engine'),
        |   ('query', 'lang'), ('join', 'op'), ('stream', 'mode'),
        |   ('hash', 'op')) AS t(w, cat)),
        | tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w,
        |   generate_subscripts(string_split(text, ' '), 1) - 1 AS pos
        |  FROM documents),
        | h AS (SELECT doc_id, tok.w, cat, pos FROM tok JOIN g USING (w)),
        | pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_mentions,
        |   CAST(count(DISTINCT w) AS BIGINT) AS n_terms,
        |   CAST(min(pos) AS BIGINT) AS first_pos FROM h GROUP BY 1),
        | tc AS (SELECT doc_id, cat AS top_cat FROM (
        |   SELECT doc_id, cat, row_number() OVER (PARTITION BY doc_id
        |     ORDER BY count(*) DESC, cat) AS rk
        |   FROM h GROUP BY doc_id, cat) WHERE rk = 1)
        |SELECT d.doc_id,
        | CAST(coalesce(pd.n_mentions, 0) AS BIGINT) AS n_mentions,
        | CAST(coalesce(pd.n_terms, 0) AS BIGINT) AS n_terms,
        | CAST(coalesce(pd.first_pos, -1) AS BIGINT) AS first_pos,
        | coalesce(tc.top_cat, 'none') AS top_cat
        |FROM documents d LEFT JOIN pd USING (doc_id)
        | LEFT JOIN tc USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "dedup_simhash_frozen" -> simHashFrozenOracle,
    "dedup_minhash_metrics" -> minhashMetricsOracle,
    "text_readability" ->
      """SELECT doc_id,
        | CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        | CAST(len(regexp_extract_all(lower(text), '[aeiou]+')) AS BIGINT)
        |   AS n_syll,
        | round(206.835 - 1.015 * len(string_split(text, ' '))::DOUBLE
        |   - 84.6 * (len(regexp_extract_all(lower(text), '[aeiou]+'))::DOUBLE
        |     / len(string_split(text, ' '))::DOUBLE), 4) + 0.0 AS flesch
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_hapax" ->
      """WITH wc AS (SELECT source, w, CAST(count(*) AS BIGINT) AS cnt
        |  FROM (SELECT source, unnest(string_split(text, ' ')) AS w
        |        FROM documents)
        |  WHERE length(w) > 0 GROUP BY 1, 2)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_vocab,
        | CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
        | CAST((10000 * sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END)) // count(*)
        |   AS BIGINT) AS hapax_bp
        |FROM wc GROUP BY source ORDER BY source""".stripMargin,
    "text_bpe_tokenize_frozen" -> bpeFrozenOracle,
    "text_dup_spans" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        | p AS (SELECT doc_id, ws,
        |   UNNEST(range(1, greatest(len(ws) - 4, 0) + 1)) AS pos FROM w),
        | g AS (SELECT doc_id, pos,
        |   array_to_string(ws[pos:pos+4], ' ') AS gram FROM p),
        | dup AS (SELECT gram FROM g GROUP BY gram
        |   HAVING count(DISTINCT doc_id) >= 2),
        | f AS (SELECT doc_id, pos FROM g JOIN dup USING (gram)),
        | i AS (SELECT doc_id, pos,
        |   pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        |   FROM f)
        |SELECT doc_id, min(pos) AS span_start, max(pos) AS span_end,
        | count(*) AS n_grams, max(pos) - min(pos) + 5 AS span_tokens
        |FROM i GROUP BY doc_id, grp ORDER BY doc_id, span_start""".stripMargin,
    "dedup_containment" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        | d AS (SELECT doc_id, list_distinct(list_transform(
        |   range(1, greatest(len(ws) - 2, 1) + 1),
        |   i -> array_to_string(ws[i:i+2], ' '))) AS wset FROM w),
        | s AS (SELECT doc_id, wset, len(wset) AS sz FROM d)
        |SELECT a.doc_id AS contained_id, b.doc_id AS container_id,
        | round(len(list_intersect(a.wset, b.wset))::DOUBLE / a.sz, 4)
        |   AS containment
        |FROM s a JOIN s b ON (a.sz < b.sz OR (a.sz = b.sz AND a.doc_id < b.doc_id))
        |WHERE len(list_intersect(a.wset, b.wset))::DOUBLE / a.sz >= 0.8
        |ORDER BY contained_id, container_id""".stripMargin,
    "dedup_incremental" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        | dd AS (SELECT doc_id, list_distinct(list_transform(
        |   range(1, greatest(len(ws) - 2, 1) + 1),
        |   i -> array_to_string(ws[i:i+2], ' '))) AS sset FROM w),
        | b AS (SELECT * FROM dd WHERE doc_id % 10 >= 8),
        | c AS (SELECT * FROM dd WHERE doc_id % 10 < 8),
        | v AS (SELECT b.doc_id, min(c.doc_id) AS dup_of
        |   FROM b JOIN c ON round(len(list_intersect(b.sset, c.sset))::DOUBLE /
        |        len(list_distinct(list_concat(b.sset, c.sset))), 4) >= 0.6
        |   GROUP BY b.doc_id)
        |SELECT doc_id, COALESCE(dup_of, -1) AS dup_of, COALESCE(dup_of, -1) = -1 AS kept
        |FROM b LEFT JOIN v USING (doc_id) ORDER BY doc_id""".stripMargin,
    "text_redact_pii" ->
      """WITH t AS (SELECT doc_id, text ||
        |  CASE WHEN doc_id % 3 = 0 THEN ' contact user' || doc_id || '@example.com' ELSE '' END ||
        |  CASE WHEN doc_id % 4 = 0 THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
        |  AS txt FROM documents)
        |SELECT doc_id,
        | CAST(len(regexp_extract_all(txt, '[A-Za-z0-9]+@[A-Za-z0-9]+\.[a-z]+')) AS BIGINT) AS n_emails,
        | CAST(len(regexp_extract_all(txt, '555-[0-9]{4}')) AS BIGINT) AS n_phones,
        | md5(regexp_replace(regexp_replace(txt, '[A-Za-z0-9]+@[A-Za-z0-9]+\.[a-z]+', '[EMAIL]', 'g'),
        |   '555-[0-9]{4}', '[PHONE]', 'g')) AS redacted_md5
        |FROM t ORDER BY doc_id""".stripMargin,
    "text_boilerplate" ->
      """WITH w AS (SELECT source, doc_id, string_split(text, ' ') AS ws FROM documents),
        | sh AS (SELECT source, doc_id, unnest(list_distinct(list_transform(
        |   range(1, greatest(len(ws) - 3, 2)),
        |   i -> array_to_string(ws[i:i+4], ' ')))) AS sh FROM w),
        | nd AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
        | df AS (SELECT source, sh, count(DISTINCT doc_id) AS df FROM sh GROUP BY 1, 2),
        | r AS (SELECT df.source, max(nd.n_docs) AS n_docs, count(*) AS n_shingles,
        |   sum(CASE WHEN df.df * 10 >= nd.n_docs * 3 THEN 1 ELSE 0 END) AS n_boiler
        |  FROM df JOIN nd ON df.source = nd.source GROUP BY df.source)
        |SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
        | CAST(n_shingles AS BIGINT) AS n_shingles,
        | CAST(n_boiler AS BIGINT) AS n_boiler,
        | CAST((10000 * n_boiler) // n_shingles AS BIGINT) AS boiler_bp
        |FROM r ORDER BY source""".stripMargin,
    "text_heavy_hitters" ->
      """WITH w AS (SELECT string_split(text, ' ') AS ws FROM documents
        |           WHERE len(string_split(text, ' ')) >= 5),
        | sh AS (SELECT unnest(list_transform(range(1, len(ws) - 3),
        |   i -> array_to_string(ws[i:i+4], ' '))) AS shingle FROM w)
        |SELECT shingle, count(*) AS n_occurrences FROM sh
        |GROUP BY shingle ORDER BY n_occurrences DESC, shingle LIMIT 20""".stripMargin,
    "text_curation_pipeline" ->
      """WITH q AS (
        |  SELECT * FROM documents
        |  WHERE len(string_split(text,' ')) >= 5
        |    AND len(list_filter(string_split(text,' '),
        |          w -> list_contains(['the','a','of','and','to','in','is','it','for','on'], w)))::DOUBLE
        |        / len(string_split(text,' ')) >= 0.05),
        | d AS (SELECT *, row_number() OVER (PARTITION BY lang, n_chars ORDER BY doc_id) AS rn FROM q)
        |SELECT lang, source, count(*) AS n_docs_kept,
        | CAST(sum(len(regexp_extract_all(text, '\w+|[^\w\s]'))) AS BIGINT) AS total_tokens,
        | round(avg(n_chars), 2) AS avg_chars
        |FROM d WHERE rn = 1
        |GROUP BY lang, source ORDER BY lang, source""".stripMargin,
    "dedup_exact" ->
      """SELECT lang, n_chars, min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY lang, n_chars HAVING count(*) > 1
        |ORDER BY lang, n_chars""".stripMargin,
    "dedup_keep_latest" ->
      """SELECT user_id, event_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS last_ts,
        | event_type, round(value, 2) AS value
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn FROM events)
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "text_stats" ->
      """SELECT doc_id, length(text) AS n_chars_calc,
        | len(string_split(text, ' ')) AS n_words,
        | len(regexp_extract_all(text, '\w+|[^\w\s]')) AS n_tokens,
        | len(list_distinct(string_split(text, ' '))) AS n_distinct_words
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_quality" ->
      """SELECT doc_id,
        | round(len(list_filter(string_split(text,' '), w -> list_contains(['the','a','of','and','to','in','is','it','for','on'], w)))::DOUBLE
        |   / len(string_split(text,' ')), 4) AS stopword_ratio,
        | round(length(regexp_replace(text, '[^.!?,;:]', '', 'g'))::DOUBLE / length(text), 4) AS punct_ratio,
        | round((length(text) - len(string_split(text,' ')) + 1)::DOUBLE / len(string_split(text,' ')), 4) AS mean_word_len,
        | (len(string_split(text,' ')) >= 5 AND
        |  len(list_filter(string_split(text,' '), w -> list_contains(['the','a','of','and','to','in','is','it','for','on'], w)))::DOUBLE
        |   / len(string_split(text,' ')) >= 0.05) AS keep
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_lang_histogram" ->
      """SELECT lang, source, count(*) AS n_docs,
        | round(avg(n_chars), 2) AS avg_chars, max(n_chars) AS max_chars
        |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin,
    "text_langid_confusion" ->
      """WITH p AS (SELECT lang,
        | CASE WHEN len(list_filter(string_split(text,' '), w -> list_contains(['the','and','of','to','is'], w))) >=
        |           len(list_filter(string_split(text,' '), w -> list_contains(['der','und','die','das','ist'], w)))
        |       AND len(list_filter(string_split(text,' '), w -> list_contains(['the','and','of','to','is'], w))) >=
        |           len(list_filter(string_split(text,' '), w -> list_contains(['le','la','et','les','est'], w)))
        |      THEN 'en'
        |      WHEN len(list_filter(string_split(text,' '), w -> list_contains(['der','und','die','das','ist'], w))) >=
        |           len(list_filter(string_split(text,' '), w -> list_contains(['le','la','et','les','est'], w)))
        |      THEN 'de' ELSE 'fr' END AS predicted_lang
        | FROM documents),
        | c AS (SELECT lang, predicted_lang, count(*) AS n_docs
        |  FROM p GROUP BY lang, predicted_lang),
        | t AS (SELECT lang, sum(n_docs) AS tn FROM c GROUP BY lang)
        |SELECT c.lang, c.predicted_lang, CAST(c.n_docs AS BIGINT) AS n_docs,
        | CAST((10000 * c.n_docs) // t.tn AS BIGINT) AS share_bp
        |FROM c JOIN t ON c.lang = t.lang
        |ORDER BY c.lang, c.predicted_lang""".stripMargin,
    "text_lang_id" ->
      """SELECT doc_id, lang,
        | len(list_filter(string_split(text,' '), w -> list_contains(['the','and','of','to','is'], w))) AS hits_en,
        | len(list_filter(string_split(text,' '), w -> list_contains(['der','und','die','das','ist'], w))) AS hits_de,
        | len(list_filter(string_split(text,' '), w -> list_contains(['le','la','et','les','est'], w))) AS hits_fr,
        | CASE WHEN len(list_filter(string_split(text,' '), w -> list_contains(['the','and','of','to','is'], w))) >=
        |           len(list_filter(string_split(text,' '), w -> list_contains(['der','und','die','das','ist'], w)))
        |       AND len(list_filter(string_split(text,' '), w -> list_contains(['the','and','of','to','is'], w))) >=
        |           len(list_filter(string_split(text,' '), w -> list_contains(['le','la','et','les','est'], w)))
        |      THEN 'en'
        |      WHEN len(list_filter(string_split(text,' '), w -> list_contains(['der','und','die','das','ist'], w))) >=
        |           len(list_filter(string_split(text,' '), w -> list_contains(['le','la','et','les','est'], w)))
        |      THEN 'de' ELSE 'fr' END AS predicted_lang
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_simpson" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |   FROM documents),
        | cnt AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS c
        |   FROM tok GROUP BY 1, 2),
        | g AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |    CAST(sum(c * (c - 1)) AS BIGINT) AS sum_cc1,
        |    CAST(max(c) AS BIGINT) AS max_c
        |  FROM cnt GROUP BY 1)
        |SELECT doc_id, n_tokens, sum_cc1, max_c,
        | CAST((sum_cc1 * 1000000) // (n_tokens * (n_tokens - 1)) AS BIGINT)
        |   AS simpson_e6,
        | CAST((max_c * 1000000) // n_tokens AS BIGINT) AS berger_parker_e6
        |FROM g WHERE n_tokens >= 2 ORDER BY doc_id""".stripMargin,
    "text_entropy" ->
      """WITH ch AS (SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents),
        | cnt AS (SELECT doc_id, ch, count(*) AS c FROM ch GROUP BY doc_id, ch),
        | p AS (SELECT doc_id, CAST(c AS DOUBLE) / sum(c) OVER (PARTITION BY doc_id) AS p FROM cnt)
        |SELECT doc_id, round(-sum(p * log2(p)), 4) + 0.0 AS char_entropy,
        | count(*) AS n_distinct_chars
        |FROM p GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "text_fingerprint" ->
      """SELECT doc_id,
        | list_reduce(
        |   list_prepend(CAST(0 AS BIGINT),
        |     list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
        |   (a, b) -> (a * 31 + b) % 1000000007) AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_dedup_groups" ->
      """WITH RECURSIVE d AS (
        |  SELECT doc_id, lang, n_chars, list_distinct(string_split(text,' ')) AS wset FROM documents),
        | p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id
        |   AND abs(a.n_chars - b.n_chars) <= 3
        |  WHERE round(len(list_intersect(a.wset, b.wset))::DOUBLE /
        |        len(list_distinct(list_concat(a.wset, b.wset))), 4) >= 0.3),
        | e AS (SELECT id_a AS src, id_b AS dst FROM p
        |        UNION ALL SELECT id_b, id_a FROM p),
        | reach(src, dst) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src)
        |SELECT src AS doc_id, min(dst) AS group_id
        |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin,
    // full recompute over ALL pairs (the equality the incremental path
    // must reproduce), plus the base-only labels for the relabeled flag
    "text_dedup_incremental" ->
      """WITH RECURSIVE d AS (
        |  SELECT doc_id, lang, n_chars, list_distinct(string_split(text,' ')) AS wset FROM documents),
        | p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id
        |   AND abs(a.n_chars - b.n_chars) <= 3
        |  WHERE round(len(list_intersect(a.wset, b.wset))::DOUBLE /
        |        len(list_distinct(list_concat(a.wset, b.wset))), 4) >= 0.3),
        | e AS (SELECT id_a AS src, id_b AS dst FROM p
        |        UNION ALL SELECT id_b, id_a FROM p),
        | reach(src, dst) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src),
        | fullg AS (SELECT src AS doc_id, min(dst) AS group_id FROM reach GROUP BY src),
        | eb AS (SELECT src, dst FROM e WHERE src % 10 <> 0 AND dst % 10 <> 0),
        | reachb(src, dst) AS (
        |  SELECT doc_id, doc_id FROM documents WHERE doc_id % 10 <> 0
        |  UNION
        |  SELECT r.src, eb.dst FROM reachb r JOIN eb ON r.dst = eb.src),
        | baseg AS (SELECT src AS doc_id, min(dst) AS bgid FROM reachb GROUP BY src)
        |SELECT f.doc_id, f.group_id,
        | f.doc_id % 10 = 0 AS is_delta,
        | CASE WHEN f.doc_id % 10 = 0 THEN FALSE
        |   ELSE f.group_id <> b.bgid END AS relabeled
        |FROM fullg f LEFT JOIN baseg b ON f.doc_id = b.doc_id
        |ORDER BY f.doc_id""".stripMargin,
    "text_chunk_overlap" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        | c AS (SELECT doc_id, unnest(list_transform(range(1, len(ws)+1, 48),
        |   st -> struct_pack(chunk_id := CAST((st-1)//48 AS BIGINT),
        |                     chunk := array_to_string(ws[st:st+63], ' ')))) AS ch
        |  FROM w)
        |SELECT doc_id, ch.chunk_id AS chunk_id,
        | CAST(len(string_split(ch.chunk, ' ')) AS BIGINT) AS n_words,
        | md5(ch.chunk) AS chunk_md5
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin,
    "dedup_canonical" ->
      """WITH RECURSIVE d AS (
        |  SELECT doc_id, lang, n_chars, list_distinct(string_split(text,' ')) AS wset FROM documents),
        | p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id
        |   AND abs(a.n_chars - b.n_chars) <= 3
        |  WHERE round(len(list_intersect(a.wset, b.wset))::DOUBLE /
        |        len(list_distinct(list_concat(a.wset, b.wset))), 4) >= 0.3),
        | e AS (SELECT id_a AS src, id_b AS dst FROM p
        |        UNION ALL SELECT id_b, id_a FROM p),
        | reach(src, dst) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src),
        | g AS (SELECT src AS doc_id, min(dst) AS group_id
        |        FROM reach GROUP BY src),
        | j AS (SELECT g.doc_id, g.group_id, dd.n_chars,
        |        row_number() OVER (PARTITION BY g.group_id
        |          ORDER BY dd.n_chars DESC, g.doc_id) AS rn
        |       FROM g JOIN documents dd ON g.doc_id = dd.doc_id)
        |SELECT group_id, count(*) AS n_docs,
        | min(CASE WHEN rn = 1 THEN doc_id END) AS canonical_doc,
        | min(CASE WHEN rn = 1 THEN n_chars END) AS canonical_chars
        |FROM j GROUP BY group_id HAVING count(*) >= 2 ORDER BY group_id""".stripMargin,
    // dedup_minhash_lsh hash-matches the all-pairs oracle because the
    // banded minhash reaches COMPLETE recall above τ on the fixture
    // (asserted in DedupPropertiesSpec). dedup_simhash gets no oracle:
    // its recall above τ is structurally incomplete (see its scaladoc),
    // so only its precision is testable.
    "dedup_minhash_lsh" -> verifiedPairsOracle,
    "text_contamination" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        | d AS (SELECT doc_id, list_distinct(list_transform(
        |   range(1, greatest(len(ws) - 2, 1) + 1),
        |   i -> array_to_string(ws[i:i+2], ' '))) AS sset FROM w),
        | test AS (SELECT doc_id AS test_id, unnest(sset) AS sh FROM d WHERE doc_id % 10 = 0),
        | train AS (SELECT doc_id AS train_id, unnest(sset) AS sh FROM d WHERE doc_id % 10 <> 0),
        | dfreq AS (SELECT sh, count(*) AS df FROM train GROUP BY sh),
        | test_ok AS (SELECT t.test_id, t.sh FROM test t
        |   LEFT JOIN dfreq f USING (sh) WHERE coalesce(f.df, 0) <= 100),
        | train_ok AS (SELECT r.train_id, r.sh FROM train r
        |   JOIN dfreq f USING (sh) WHERE f.df <= 100),
        | denom AS (SELECT test_id, count(*) AS n_sh FROM test_ok GROUP BY test_id),
        | m AS (SELECT test_id, train_id, count(*) AS n_match
        |   FROM test_ok JOIN train_ok USING (sh) GROUP BY test_id, train_id)
        |SELECT m.test_id, m.train_id,
        | round(n_match::DOUBLE / n_sh, 4) AS containment
        |FROM m JOIN denom USING (test_id)
        |WHERE round(n_match::DOUBLE / n_sh, 4) >= 0.5
        |ORDER BY test_id, train_id""".stripMargin,
    "text_token_budget" ->
      """SELECT doc_id, lang, n_tokens, cum_tokens FROM (
        | SELECT doc_id, lang,
        |  len(regexp_extract_all(text, '\w+|[^\w\s]')) AS n_tokens,
        |  CAST(sum(len(regexp_extract_all(text, '\w+|[^\w\s]')))
        |    OVER (PARTITION BY lang ORDER BY doc_id) AS BIGINT) AS cum_tokens
        | FROM documents)
        |WHERE cum_tokens <= 2500 ORDER BY lang, doc_id""".stripMargin,
    "dedup_ngram_jaccard" ->
      """WITH d AS (SELECT doc_id, lang, n_chars, list_distinct(string_split(text,' ')) AS wset FROM documents)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        | round(len(list_intersect(a.wset, b.wset))::DOUBLE /
        |       len(list_distinct(list_concat(a.wset, b.wset))), 4) AS jaccard
        |FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id
        | AND abs(a.n_chars - b.n_chars) <= 3
        |WHERE round(len(list_intersect(a.wset, b.wset))::DOUBLE /
        |       len(list_distinct(list_concat(a.wset, b.wset))), 4) >= 0.3
        |ORDER BY id_a, id_b""".stripMargin,
    // the quadratic threshold-join semantics the prefix filter equals;
    // the size prefilter is lossless (J >= 1/2 forces max <= 2*min)
    "dedup_jaccard_prefix" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        | d AS (SELECT doc_id, list_distinct(list_transform(
        |   range(1, greatest(len(ws) - 2, 1) + 1),
        |   i -> array_to_string(ws[i:i+2], ' '))) AS wset FROM w),
        | s AS (SELECT doc_id, wset, len(wset) AS sz FROM d)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        | round(len(list_intersect(a.wset, b.wset))::DOUBLE /
        |       len(list_distinct(list_concat(a.wset, b.wset))), 4) AS jaccard
        |FROM s a JOIN s b ON a.doc_id < b.doc_id
        | AND a.sz <= 2 * b.sz AND b.sz <= 2 * a.sz
        |WHERE len(list_intersect(a.wset, b.wset))::DOUBLE /
        |      len(list_distinct(list_concat(a.wset, b.wset))) >= 0.5
        |ORDER BY id_a, id_b""".stripMargin,
    "graph_triangle_stats" ->
      """WITH d AS (SELECT doc_id, lang, n_chars,
        |   list_distinct(string_split(text,' ')) AS wset FROM documents),
        | e AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |   FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id
        |    AND abs(a.n_chars - b.n_chars) <= 3
        |   WHERE round(len(list_intersect(a.wset, b.wset))::DOUBLE /
        |     len(list_distinct(list_concat(a.wset, b.wset))), 4) >= 0.3),
        | ne AS (SELECT count(*) AS n_edges FROM e),
        | wd AS (SELECT CAST(sum(dg * (dg - 1) / 2) AS BIGINT) AS n_wedges FROM (
        |   SELECT v, count(*) AS dg FROM (
        |     SELECT id_a AS v FROM e UNION ALL SELECT id_b AS v FROM e) GROUP BY v)),
        | tr AS (SELECT count(*) AS n_triangles FROM e e1
        |   JOIN e e2 ON e1.id_b = e2.id_a
        |   JOIN e e3 ON e1.id_a = e3.id_a AND e2.id_b = e3.id_b)
        |SELECT n_edges, n_wedges, n_triangles,
        | round(CASE WHEN n_wedges = 0 THEN 0.0
        |   ELSE 3.0 * n_triangles / n_wedges END, 4) AS global_cc
        |FROM ne CROSS JOIN wd CROSS JOIN tr""".stripMargin,
  )
}
