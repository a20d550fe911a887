package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.io.Sources

/** Operator-level invariants not covered by the DuckDB oracle (the oracle
  * checks values; these check semantic properties and the approximate
  * operators).
  */
class OpsSpec extends SparkSpec {

  "cosine" should "be 1.0 for identical vectors and symmetric" in {
    val s = spark
    import s.implicits._
    val df = Seq((Array(1.0f, 2.0f, 3.0f), Array(3.0f, 2.0f, 1.0f))).toDF("a", "b")
    val out = df.select(
      Similarity.cosine(col("a"), col("a")).as("self"),
      Similarity.cosine(col("a"), col("b")).as("ab"),
      Similarity.cosine(col("b"), col("a")).as("ba")).collect()(0)
    out.getDouble(0) shouldBe 1.0 +- 1e-9
    out.getDouble(1) shouldBe out.getDouble(2)
    out.getDouble(1) shouldBe (10.0 / 14.0) +- 1e-9
  }

  /** Exact nearest neighbor per vector via the O(n²) scan — the shared
    * oracle for both ANN tests; computed once per suite.
    */
  private lazy val exactNeighbors: Seq[(Long, Long, Double)] = {
    val emb = Sources.embeddings(spark, sfDir)
    val a = emb.select(col("vec_id").as("id_a"), col("embedding").as("emb_a"))
    val b = emb.select(col("vec_id").as("id_b"), col("embedding").as("emb_b"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id_a").orderBy(col("cos").desc, col("id_b"))
    a.join(b, col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(expr("cosine_sim(emb_a, emb_b)"), 4).as("cos"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
  }

  "annLshTopNeighbor" should "obey the subset-search bound vs the exact NN" in {
    val nn = Similarity.annLshTopNeighbor(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    nn should not be empty
    // LSH searches a subset of the corpus, so its best neighbor can never
    // beat the exhaustive scan's (equality exactly when it found the NN)
    val exactCos = exactNeighbors.map(t => t._1 -> t._3).toMap
    nn.foreach { case (id, c) => c should be <= exactCos(id) + 1e-9 }
  }

  "ivfTopNeighbor" should "partition vectors into cells and recover most exact neighbors" in {
    val emb = Sources.embeddings(spark, sfDir)
    val n = emb.count()
    // assignment is a partition: every vector lands in exactly one cell
    val assigned = Similarity.ivfAssign(emb)
    assigned.count() shouldBe n
    assigned.select("vec_id").distinct().count() shouldBe n

    // recall@1 vs the exact nearest neighbor. The fixture embeddings are
    // deliberately unclustered (only 7% of exact NNs share a label; mean
    // NN cosine 0.37) — a near-worst-case corpus for cell-based ANN — so
    // the bound is modest; on clustered real-world embeddings recall
    // rises with cluster purity.
    val ivfRows = Similarity.ivfTopNeighbor(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val ivf = ivfRows.map(t => t._1 -> t._2).toMap
    val ivfCos = ivfRows.map(t => t._1 -> t._3).toMap
    val exact = exactNeighbors.map(t => t._1 -> t._2).toMap
    val exactCos = exactNeighbors.map(t => t._1 -> t._3).toMap
    val recall = exact.count { case (id, nn) => ivf.get(id).contains(nn) }.toDouble / exact.size
    recall should be > 0.3

    // subset-search invariant: IVF can never find a BETTER neighbor than
    // the exhaustive scan (equality exactly when it found the true NN)
    ivfCos.foreach { case (id, c) => c should be <= exactCos(id) + 1e-9 }
  }

  "assignCells" should "produce bit-identical cells via the literal and joined paths" in {
    val emb = Sources.embeddings(spark, sfDir)
    val model = Similarity.trainQuantizer(emb, iters = 1, k = 16)
    def cellsOf(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[(Double, Int)]] =
      df.select("vec_id", "cells").collect()
        .map(r => r.getLong(0) ->
          r.getSeq[org.apache.spark.sql.Row](1).map(c => (c.getDouble(0), c.getInt(1))).toSeq)
        .toMap
    // same floats in, same cosine expression, same ordering rule — the two
    // plan shapes must agree bitwise, not just approximately
    val viaLiteral = cellsOf(Similarity.assignCellsLiteral(emb, model, 2))
    val viaJoin = cellsOf(Similarity.assignCellsJoined(emb, model, 2))
    viaJoin shouldBe viaLiteral
  }

  it should "agree across paths on NaN and zero-norm embeddings (shared total order)" in {
    val s = spark
    import s.implicits._
    // NaN-element embedding → cosine_sim NaN against every centroid;
    // zero-norm embedding → 0.0 against every centroid. Both are total
    // ties, so both paths must fall back to the same cent_id-asc rule —
    // the Spark SQL total order (NaN = NaN, NaN above everything).
    val emb = Seq(
      (1L, Array(Float.NaN, 1.0f, 0.0f)),
      (2L, Array(0.0f, 0.0f, 0.0f)),
      (3L, Array(1.0f, 2.0f, 3.0f))).toDF("vec_id", "embedding")
    val model = Seq(
      (0, Array(1.0f, 0.0f, 0.0f)),
      (1, Array(0.0f, 1.0f, 0.0f)),
      (2, Array(0.0f, 0.0f, 1.0f)))
    def cells(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[(Double, Int)]] =
      df.select("vec_id", "cells").collect()
        .map(r => r.getLong(0) ->
          r.getSeq[org.apache.spark.sql.Row](1).map(c => (c.getDouble(0), c.getInt(1))).toSeq)
        .toMap
    val viaLiteral = cells(Similarity.assignCellsLiteral(emb, model, 2))
    val viaJoin = cells(Similarity.assignCellsJoined(emb, model, 2))
    // sanity on the tie semantics themselves, then cross-path equality
    viaLiteral(1L).map(_._2) shouldBe Seq(0, 1)
    viaLiteral(1L).foreach(_._1.isNaN shouldBe true)
    viaLiteral(2L) shouldBe Seq((0.0, 0), (0.0, 1))
    (viaJoin.keySet ++ viaLiteral.keySet).foreach { id =>
      val (l, j) = (viaLiteral(id), viaJoin(id))
      l.map(_._2) shouldBe j.map(_._2)
      l.zip(j).foreach { case ((lc, _), (jc, _)) =>
        java.lang.Double.compare(lc, jc) shouldBe 0
      }
    }
  }

  "assignCellsJoined" should "partition the corpus at k past the literal-plan ceiling" in {
    val emb = Sources.embeddings(spark, sfDir)
    val n = emb.count()
    // k > literalAssignMaxK: trainQuantizer + assignment both dispatch to
    // the broadcast-join path; assignment must still be a partition
    val model = Similarity.trainQuantizer(emb, iters = 1,
      k = Similarity.literalAssignMaxK + 44)
    model.size should be > 1
    val assigned = Similarity.assignCellsJoined(emb, model, 1)
    assigned.count() shouldBe n
    assigned.select("vec_id").distinct().count() shouldBe n
    // nprobe=1: exactly one cell per vector, drawn from the model
    val cellIds = model.map(_._1).toSet
    val hit = assigned.select(explode(col("cells")).as("c"))
      .select(col("c.cent_id")).collect().map(_.getInt(0))
    hit.length shouldBe n
    all(hit.map(cellIds.contains(_))) shouldBe true
  }

  "trainQuantizer" should "honor an explicit k with sampled-vector seeding" in {
    val emb = Sources.embeddings(spark, sfDir)
    val model = Similarity.trainQuantizer(emb, iters = 2, k = 16)
    model.size should be <= 16
    model.size should be > 1 // seeds are spread, Lloyd must not collapse
    model.map(_._1).distinct.size shouldBe model.size
    all(model.map(_._2.length)) shouldBe 64
  }

  "dedupEmbeddingCosine" should "equal the exact all-pairs result (cell blocking is lossless)" in {
    val emb = Sources.embeddings(spark, sfDir)
    val a = emb.select(col("vec_id").as("id_a"), col("embedding").as("emb_a"))
    val b = emb.select(col("vec_id").as("id_b"), col("embedding").as("emb_b"))
    val exact = a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(expr("cosine_sim(emb_a, emb_b)"), 4).as("cos"))
      .filter(col("cos") >= 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val blocked = Similarity.dedupEmbeddingCosine(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // triangle-inequality blocking must lose nothing: same pairs, same cos
    blocked shouldBe exact
  }

  "similarity queries" should "leave no cached RDDs behind in a shared session" in {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Similarity.ivfTopNeighbor(spark, sfDir).count()
    Similarity.dedupEmbeddingCosine(spark, sfDir).count()
    Similarity.annLshTopNeighbor(spark, sfDir).count()
    val after = spark.sparkContext.getPersistentRDDs.keySet
    (after -- before) shouldBe empty
  }

  "aggApproxDistinct" should "be within the configured 2% rsd of exact" in {
    val approx = Relational.aggApproxDistinct(spark, sfDir)
      .select("l_returnflag", "approx_orders").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = Sources.lineitem(spark, sfDir)
      .groupBy("l_returnflag").agg(countDistinct("l_orderkey").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    approx.keySet shouldBe exact.keySet
    exact.foreach { case (k, n) =>
      approx(k).toDouble shouldBe n.toDouble +- math.max(10.0, n * 0.1)
    }
  }

  "aggApproxPercentile" should "land near the exact percentile" in {
    val approx = Relational.aggApproxPercentile(spark, sfDir)
      .select("event_type", "approx_median").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val exact = Sources.events(spark, sfDir)
      .groupBy("event_type").agg(expr("percentile(value, 0.5)").as("m"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    exact.foreach { case (k, m) =>
      approx(k) shouldBe m +- math.max(2.0, m * 0.1)
    }
  }

  "dedupMinHashLsh" should "report each candidate pair once, ordered" in {
    val pairs = dedupPairs()
    pairs.foreach { case (a, b) => a should be < b }
    pairs.distinct.length shouldBe pairs.length
  }

  private def dedupPairs(): Seq[(Long, Long)] =
    TextOps.dedupMinHashLsh(spark, sfDir).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

  "textFingerprint" should "be deterministic across runs" in {
    val a = TextOps.textFingerprint(spark, sfDir).collect().map(_.toSeq)
    val b = TextOps.textFingerprint(spark, sfDir).collect().map(_.toSeq)
    a shouldBe b
  }

  "multimodal decode" should "recover the planted pixels from genuine BMP bytes" in {
    val feats = Multimodal.decodeFeatures(spark, Sources.documents(spark, sfDir))
    val n = Sources.documents(spark, sfDir).count()
    feats.count() shouldBe n
    // driver-side reference: re-derive every feature from the pixel
    // contract (never from the bytes) and demand the decoder recovered
    // exactly that from its byte-level parse
    val dims = Sources.documents(spark, sfDir).select("doc_id", "n_chars")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    feats.collect().foreach { f =>
      val nc = dims(f.doc_id)
      val w = (4 + nc % 13).toInt; val h = (3 + nc % 7).toInt
      f.width shouldBe w
      f.height shouldBe h
      f.n_bytes shouldBe 54L + h * ((w * 3 + 3) / 4 * 4)
      var sum = 0L; var wsum = 0L
      for (p <- 0L until w.toLong * h) {
        val (r, g, b) = Multimodal.pixel(f.doc_id, p)
        sum += r + g + b; wsum += (p + 1) * (r + g + b)
      }
      f.pix_sum shouldBe sum
      f.pix_wsum shouldBe wsum
    }
  }

  it should "reject bytes that are not the format they claim" in {
    val good = Multimodal.encodeBmp(7L, 100L)
    val badMagic = good.clone(); badMagic(0) = 'X'
    val truncated = good.dropRight(4) // header/payload size mismatch
    val bad16 = good.clone(); bad16(28) = 16 // unsupported bit depth
    val negH = good.clone() // height -1: no pixel array to walk
    java.nio.ByteBuffer.wrap(negH).order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(22, -1)
    // the brightness and the channel decode share one header parse
    for (bad <- Seq(badMagic, truncated, bad16, negH)) {
      an[IllegalArgumentException] should be thrownBy Multimodal.decodeBmp(bad)
      an[IllegalArgumentException] should be thrownBy Multimodal.bmpChannels(bad)
    }
  }

  "Multimodal.resizePool" should "floor-average 2x2 blocks incl. partial edge blocks" in {
    val got = Multimodal.resizePool(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    got.length should be > 100
    // independent replay from the pixel contract (never through the codec)
    got.foreach { case (id, w, h, ow, oh, poolSum, poolWsum) =>
      ow shouldBe (w + 1) / 2
      oh shouldBe (h + 1) / 2
      var es = 0L; var ews = 0L
      for (oy <- 0L until oh; ox <- 0L until ow) {
        val cells = for {
          dy <- 0 to 1; dx <- 0 to 1
          x = 2 * ox + dx; y = 2 * oy + dy
          if x < w && y < h
        } yield {
          val (r, g, b) = Multimodal.pixel(id, y * w + x)
          (r + g + b).toLong
        }
        val av = cells.sum / cells.length
        es += av; ews += (oy * ow + ox + 1) * av
      }
      poolSum shouldBe es
      poolWsum shouldBe ews
    }
    // the fixture exercises odd widths AND odd heights (partial blocks)
    got.exists(_._2 % 2 == 1) shouldBe true
    got.exists(_._3 % 2 == 1) shouldBe true
  }

  "Multimodal.audioFrameRms" should "match a whole-stream replay framed in test code" in {
    val expected = Sources.documents(spark, sfDir)
      .select("doc_id", "n_chars").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .flatMap { case (id, nc) =>
        val n = (50 + nc % 101).toInt
        val amps = (0 until n).map(t => Multimodal.ampAt(id, t.toLong))
        amps.grouped(50).zipWithIndex.map { case (fr, fi) =>
          val sq = fr.map(v => v.toLong * v).sum
          (id, fi.toLong, fr.length.toLong, sq, fr.map(v => math.abs(v).toLong).max,
            BigDecimal(math.sqrt(sq.toDouble / fr.length))
              .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
        }
      }.sortBy(t => (t._1, t._2))
    val got = Multimodal.audioFrameRms(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    got.toSeq shouldBe expected.toSeq
    // framing covers every stream: 50..150 samples -> 2 or 3 frames each
    got.groupBy(_._1).values.foreach { frames =>
      frames.map(_._3).sum should (be >= 50L and be <= 150L)
      frames.length should (be >= 1 and be <= 3)
    }
  }

  "WAV decode" should "recover the planted samples through the RIFF chunk walk" in {
    // id 9 plants the LIST chunk (9 % 3 == 0) — the walker must skip it
    for (id <- Seq(7L, 9L)) {
      val wav = Multimodal.encodeWav(id, 123L)
      val f = Multimodal.decodeWav(wav)
      val n = 50 + 123 % 101
      f.n_samples shouldBe n
      f.sample_rate shouldBe 8000 + 1000 * (id % 5)
      val amps = (0 until n).map(t => Multimodal.ampAt(id, t.toLong))
      f.amp_sum shouldBe amps.map(_.toLong).sum
      f.amp_abs_sum shouldBe amps.map(a => math.abs(a).toLong).sum
      f.peak shouldBe amps.map(a => math.abs(a).toLong).max
      f.zero_crossings shouldBe amps.sliding(2).count(w => w(0).toLong * w(1) < 0)
      wav.length shouldBe 44 + (if (id % 3 == 0) 20 else 0) + 2 * n
    }
    // rejection: bad magic, truncation, non-PCM fmt
    val good = Multimodal.encodeWav(4L, 60L)
    val badMagic = good.clone(); badMagic(0) = 'X'
    an[IllegalArgumentException] should be thrownBy Multimodal.decodeWav(badMagic)
    an[IllegalArgumentException] should be thrownBy Multimodal.decodeWav(good.dropRight(2))
    val badFmt = good.clone(); badFmt(20) = 2 // format tag != PCM
    an[IllegalArgumentException] should be thrownBy Multimodal.decodeWav(badFmt)
  }

  "mu-law compand" should "satisfy the G.711 quantization-ladder properties" in {
    // decode(encode(x)) must be sign-preserving, monotone in |x|, and
    // within the segment's quantization step of x (exact G.711 bounds)
    val probes = Seq(0, 1, 7, 31, 95, 131, 132, 255, 256, 1000, 4095, 8158,
      16000, 32635, 33000, 40000) // past the clip rail too
    for (x0 <- probes; sign <- Seq(1, -1)) {
      val x = x0 * sign
      val b = Multimodal.ulawEncode(x)
      b should (be >= 0 and be <= 255)
      val y = Multimodal.ulawDecode(b)
      y.toLong * x should be >= 0L // sign-preserving (0 compatible with either)
      val cx = math.min(math.abs(x), 32635)
      // error bound: half the segment step (step = 2^(e+4) at v=cx+132)
      val e = (7 to 0 by -1).find(e => cx + 132 >= (1 << (e + 7))).getOrElse(0)
      math.abs(math.abs(y) - cx) should be <= (1 << (e + 3))
    }
    // monotone over the positive ramp
    val decs = (0 to 33000 by 37).map(x =>
      Multimodal.ulawDecode(Multimodal.ulawEncode(x)))
    decs.sliding(2).foreach { case Seq(a, b) => b should be >= a; case _ => () }
    // all 256 code points round-trip: encode(decode(b)) == b
    (0 to 255).foreach { b =>
      val s = Multimodal.ulawDecode(b)
      // ulaw has two zero codes (+0/-0); skip the negative-zero alias
      if (s != 0 || b == 0xff)
        withClue(s"code $b (sample $s)") {
          Multimodal.ulawEncode(s) shouldBe b
        }
    }
  }

  "mu-law WAV decode" should "recover the companded samples through the format-7 walk" in {
    for (id <- Seq(3L, 4L); nc <- Seq(60L, 123L)) { // odd and even n: pad rule
      val wav = Multimodal.encodeUlawWav(id, nc)
      val (sr, samples) = Multimodal.ulawSamples(wav)
      val n = (50 + nc % 101).toInt
      samples.length shouldBe n
      sr shouldBe 8000 + 1000 * (id % 5)
      wav.length shouldBe 46 + n + n % 2
      val want = (0 until n).map(t =>
        Multimodal.ulawDecode(Multimodal.ulawEncode(Multimodal.ampAt(id, t.toLong) * 33)))
      samples.toSeq shouldBe want
    }
    val good = Multimodal.encodeUlawWav(4L, 60L)
    val badFmt = good.clone(); badFmt(20) = 1 // PCM fmt into the mu-law walker
    an[IllegalArgumentException] should be thrownBy Multimodal.ulawSamples(badFmt)
    an[IllegalArgumentException] should be thrownBy Multimodal.ulawSamples(good.dropRight(3))
  }

  "video container decode" should "sample every second frame and decode it with the BMP codec" in {
    val id = 11L; val nc = 200L
    val rows = Multimodal.decodeVideoSampled(id, Multimodal.encodeVideo(id, nc))
    val nf = (2 + nc % 7).toInt
    rows.map(_.frame_idx) shouldBe (0 until nf).filter(_ % 2 == 0).map(_.toLong)
    rows.foreach { r =>
      r.width shouldBe 4 + nc % 13
      r.height shouldBe 3 + nc % 7
      // frame pixels come from the frame-keyed formula, not the doc key
      val fk = id + 1000003L * r.frame_idx
      var sum = 0L
      for (p <- 0L until r.width * r.height) {
        val (pr, pg, pb) = Multimodal.pixel(fk, p)
        sum += pr + pg + pb
      }
      r.pix_sum shouldBe sum
    }
    // a corrupted frame-length header must not decode
    val v = Multimodal.encodeVideo(id, nc)
    v(8) = (v(8) + 1).toByte // first frame's declared length off by one
    an[IllegalArgumentException] should be thrownBy Multimodal.decodeVideoSampled(id, v)
    // the frame walk every video query shares: whole frames in order,
    // a bad magic and a trailing byte rejected
    val good = Multimodal.encodeVideo(id, nc)
    Multimodal.gvidFrames(good).map(_.index).toSeq shouldBe (0 until nf)
    val badMagic = good.clone(); badMagic(0) = 'X'
    an[IllegalArgumentException] should be thrownBy Multimodal.gvidFrames(badMagic)
    an[IllegalArgumentException] should be thrownBy Multimodal.gvidFrames(good :+ 0.toByte)
  }

  "dot_product (native expression)" should "be bit-identical to the HOF composition" in {
    val emb = Sources.embeddings(spark, sfDir).limit(100)
    val paired = emb.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(emb.filter(col("vec_id") < 4)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))))
    val both = paired.select(
      expr("dot_product(embedding, q_emb)").as("native"),
      Similarity.dot(col("embedding"), col("q_emb")).as("hof"))
      .collect()
    both.length should be > 0
    both.foreach(r => r.getDouble(0) shouldBe r.getDouble(1)) // same fold order ⇒ identical
  }

  "Similarity.mipsAugmented" should "make cosine ranking reproduce inner-product ranking" in {
    val (augC, augQ) = Similarity.mipsAugmented(spark, sfDir)
    val corpus = augC.collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
    val queries = augQ.collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
    // every augmented corpus vector has the same norm M (the reduction's core)
    val norms = corpus.map { case (_, v) => math.sqrt(v.map(x => x * x).sum) }
    norms.max shouldBe norms.min +- 1e-6
    // top-5 by augmented cosine == top-5 by raw inner product, per query
    val mips = Similarity.mipsTopK(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    queries.foreach { case (qid, qv) =>
      val byCos = corpus.map { case (id, v) => (cos(v, qv), id) }
        .sortBy { case (c, id) => (-c, id) }.take(5).map(_._2).toSet
      val byIp = (1L to 5L).map(rn => mips((qid, rn))).toSet
      byCos shouldBe byIp
    }
  }

  "Multimodal.frameOverlapPairs" should "match brute-force position-aligned frame overlap" in {
    val texts = Sources.documents(spark, sfDir).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toSeq
    def frames(t: String): Map[Long, String] =
      (0L to (t.length - 1) / 16).filter(_ % 4 == 0)
        .map(i => i -> t.slice((i * 16).toInt, (i * 16 + 16).toInt)).toMap
    val perDoc = texts.map { case (id, t) => id -> frames(t) }
    // df cap: drop (frame_id, frame) keys appearing in > 50 docs
    val df = perDoc.flatMap { case (_, fs) => fs.toSeq }
      .groupBy(identity).view.mapValues(_.size).toMap
    val expected = (for {
      (a, fa) <- perDoc
      (b, fb) <- perDoc if a < b
      shared = fa.toSeq.count { case (i, f) => df((i, f)) <= 50 && fb.get(i).contains(f) }
      if shared > 0
      overlap = BigDecimal(shared.toDouble / math.min(fa.size, fb.size))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      if overlap >= 0.5
    } yield (a, b) -> ((shared.toLong, overlap))).toMap
    val got = Multimodal.frameOverlapPairs(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getDouble(3)))).toMap
    got shouldBe expected
    got.size should be > 0 // the near-dup families must surface
  }

  "Similarity.binaryHamming" should "match a brute-force sign-bit popcount replay" in {
    val vecs = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def pack(e: Array[Float], lo: Int): Long =
      (0 until 32).foldLeft(0L)((acc, i) =>
        if (e(lo + i) > 0f) acc + (1L << i) else acc)
    val words = vecs.map { case (id, e) => (id, pack(e, 0), pack(e, 32)) }
    val probes = words.filter(_._1 < 8)
    val corpus = words.filter(_._1 >= 8)
    val expected = probes.flatMap { case (q, qw0, qw1) =>
      corpus.map { case (c, w0, w1) =>
        (q, c, (java.lang.Long.bitCount(w0 ^ qw0) +
          java.lang.Long.bitCount(w1 ^ qw1)).toLong)
      }.sortBy(p => (p._3, p._2)).take(5).zipWithIndex
        .map { case ((qq, c, h), i) => (qq, i + 1L, c, h) }
    }.sortBy(p => (p._1, p._2)).toSeq
    val got = Similarity.binaryHamming(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    got shouldBe expected
    // sanity: a vector's own sign words are 0 bits away from themselves
    expected should have size (probes.length * 5L).toInt
  }

  "Multimodal.audioPitch" should "match a direct autocorrelation over the sample formula" in {
    val rows = Multimodal.audioPitch(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    rows should not be empty
    val nChars = spark.read.parquet(s"$sfDir/documents.parquet")
      .selectExpr("doc_id", "CAST(n_chars AS LONG)").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    rows.take(50).foreach { case (id, n, energy, bestLag, bestCorr) =>
      val m = (50 + nChars(id) % 101).toInt
      n shouldBe m.toLong
      val sm = Array.tabulate(m)(t => Multimodal.ampAt(id, t.toLong).toLong)
      energy shouldBe sm.map(v => v * v).sum
      val corrs = (1 to 40).map(l =>
        l.toLong -> (0 until m - l).map(i => sm(i) * sm(i + l)).sum)
      val (wantLag, wantCorr) = corrs.maxBy { case (l, c) => (c, -l) }
      (bestLag, bestCorr) shouldBe ((wantLag, wantCorr))
    }
    // structural bounds: lag in range, |r(l)| <= r(0) (Cauchy-Schwarz
    // on the truncated windows). Lags do NOT vary on this fixture —
    // every doc is the same slope-7 sawtooth shifted by id, so the
    // argmax landing on one lag corpus-wide is the CORRECT answer,
    // not a degenerate detector (the per-doc replay above is the
    // correctness evidence).
    rows.foreach { case (_, _, energy, bestLag, bestCorr) =>
      bestLag should (be >= 1L and be <= 40L)
      math.abs(bestCorr) should be <= energy
    }
  }

  "Multimodal.imageSobel (r13)" should "match a literal 3x3 convolution replay" in {
    // driver-side: pixel formula -> Sobel over interior, doc 0..30
    def rgb(id: Long, p: Long): Long =
      (31 * id + 7 * p + 11) % 256 + (17 * id + 13 * p + 23) % 256 +
        (29 * id + 19 * p + 31) % 256
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .selectExpr("doc_id", "CAST(n_chars AS LONG) AS nc")
      .orderBy("doc_id").limit(30).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val want = docs.map { case (id, nc) =>
      val w = (4 + nc % 13).toInt
      val h = (3 + nc % 7).toInt
      def g(x: Int, y: Int): Long = rgb(id, y.toLong * w + x)
      var sum = 0L; var mx = 0L; var n = 0L
      for (y <- 1 until h - 1; x <- 1 until w - 1) {
        val gx = -g(x - 1, y - 1) + g(x + 1, y - 1) - 2 * g(x - 1, y) +
          2 * g(x + 1, y) - g(x - 1, y + 1) + g(x + 1, y + 1)
        val gy = -g(x - 1, y - 1) - 2 * g(x, y - 1) - g(x + 1, y - 1) +
          g(x - 1, y + 1) + 2 * g(x, y + 1) + g(x + 1, y + 1)
        val m = math.abs(gx) + math.abs(gy)
        sum += m; if (m > mx) mx = m; n += 1
      }
      (id, w.toLong, h.toLong, n, sum, mx)
    }.toSeq
    val got = Multimodal.imageSobel(spark, sfDir).orderBy("doc_id").limit(30)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    got shouldBe want
    got.map(_._5).max should be > 0L // edges genuinely present
  }

  "Multimodal.imageHistogram (r13)" should "census every pixel exactly once" in {
    val got = Multimodal.imageHistogram(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    got.map(_._2).max should be <= 15L
    got.map(_._2).min should be >= 0L
    val perDoc = got.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val dims = spark.read.parquet(s"$sfDir/documents.parquet")
      .selectExpr("doc_id", "CAST((4 + n_chars % 13) * (3 + n_chars % 7) AS LONG) AS np")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    perDoc shouldBe dims
  }

  "Multimodal.imageUpsample (r13)" should "replay midpoint bilinear on the x4 lattice from the pixel formula" in {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .selectExpr("doc_id", "CAST(n_chars AS LONG) AS nc")
      .orderBy("doc_id").limit(30)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    def bright(id: Long, p: Long): Long =
      (31 * id + 7 * p + 11) % 256 + (17 * id + 13 * p + 23) % 256 +
        (29 * id + 19 * p + 31) % 256
    val want = docs.map { case (id, nc) =>
      val w = (4 + nc % 13).toInt
      val h = (3 + nc % 7).toInt
      val ow = 2 * w - 1
      val oh = 2 * h - 1
      def v(x: Int, y: Int): Long = bright(id, y.toLong * w + x)
      var sum = 0L; var mx = 0L; var chk = 0L
      for (yy <- 0 until oh; xx <- 0 until ow) {
        val x = xx / 2; val y = yy / 2
        val u = (xx % 2, yy % 2) match {
          case (0, 0) => 4 * v(x, y)
          case (1, 0) => 2 * (v(x, y) + v(x + 1, y))
          case (0, 1) => 2 * (v(x, y) + v(x, y + 1))
          case _      => v(x, y) + v(x + 1, y) + v(x + 1, y + 1) + v(x, y + 1)
        }
        sum += u; if (u > mx) mx = u
        chk += u * ((yy.toLong * ow + xx) % 97)
      }
      (id, ow.toLong, oh.toLong, sum, mx, chk)
    }.toSeq
    val got = Multimodal.imageUpsample(spark, sfDir).orderBy("doc_id").limit(30)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    got shouldBe want
    got.foreach(_._5 should be <= 4L * 765L) // x4 lattice bound
  }

  "Multimodal.videoSceneCuts (r13)" should "replay the lag-diff census from the pixel formula" in {
    def bright(fk: Long, p: Long): Long =
      (31 * fk + 7 * p + 11) % 256 + (17 * fk + 13 * p + 23) % 256 +
        (29 * fk + 19 * p + 31) % 256
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .selectExpr("doc_id", "CAST(n_chars AS LONG) AS nc")
      .orderBy("doc_id").limit(40)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val want = docs.map { case (id, nc) =>
      val w = (4 + nc % 13).toInt; val h = (3 + nc % 7).toInt
      val nf = (2 + nc % 7).toInt
      val sums = (0 until nf).map { f =>
        val fk = id + 1000003L * f
        (0 until w * h).map(p => bright(fk, p)).sum
      }
      val diffs = sums.zip(sums.tail).map { case (a, b) => math.abs(b - a) }
      (id, nf.toLong, diffs.count(_ > 900).toLong,
        if (diffs.isEmpty) 0L else diffs.max, diffs.sum)
    }.toSeq
    val got = Multimodal.videoSceneCuts(spark, sfDir).orderBy("doc_id")
      .limit(40).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    got shouldBe want
    // the published threshold genuinely separates on the fixture
    got.count(_._3 > 0) should (be > 0 and be < got.size)
  }

  "Multimodal.videoMotionEnergy (r13)" should "replay per-channel frame deltas from the pixel formula" in {
    def chans(fk: Long, p: Long): Seq[Long] = Seq(
      (31 * fk + 7 * p + 11) % 256, (17 * fk + 13 * p + 23) % 256,
      (29 * fk + 19 * p + 31) % 256)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .selectExpr("doc_id", "CAST(n_chars AS LONG) AS nc")
      .orderBy("doc_id").limit(40)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val want = docs.map { case (id, nc) =>
      val w = (4 + nc % 13).toInt; val h = (3 + nc % 7).toInt
      val nf = (2 + nc % 7).toInt
      val mds = (1 until nf).map { f =>
        val (fk, pk) = (id + 1000003L * f, id + 1000003L * (f - 1))
        (0 until w * h).map { p =>
          chans(fk, p).zip(chans(pk, p)).map(t => math.abs(t._1 - t._2)).sum
        }.sum
      }
      (id, nf.toLong, mds.length.toLong, mds.sum, mds.max, mds.min)
    }.toSeq
    val got = Multimodal.videoMotionEnergy(spark, sfDir).orderBy("doc_id")
      .limit(40).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    got shouldBe want
    // motion is genuinely nonzero (frames differ) and bounded by the
    // full-swing ceiling 3*255 per pixel
    got.foreach { case (_, _, pairs, sum, mx, mn) =>
      pairs should be >= 1L
      mn should be > 0L
      mx should be <= 3L * 255L * (16L * 9L)
      sum should be >= mx
    }
  }

  "Multimodal.audioClipping (r13)" should "replay the clipped-run census from the amp formula" in {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .selectExpr("doc_id", "CAST(n_chars AS LONG) AS nc")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val want = docs.sortBy(_._1).map { case (id, nc) =>
      val nS = (50 + nc % 101).toInt
      val flags = (0 until nS).map(t =>
        math.abs((13 * id + 7 * t + 3) % 2001 - 1000) >= 990)
      var nClip = 0L; var longest = 0L; var run = 0L; var first = -1L
      flags.zipWithIndex.foreach { case (f, t) =>
        if (f) {
          nClip += 1; run += 1
          if (run > longest) longest = run
          if (first < 0) first = t.toLong
        } else run = 0
      }
      (id, nS.toLong, nClip, longest, first)
    }.toSeq
    val got = Multimodal.audioClipping(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    got shouldBe want
    // both outcomes bind: some clips are clean, some clip
    got.count(_._3 == 0) should be > 0
    got.count(_._3 > 0) should be > 0
  }

  "Multimodal.imageQuantize (r13)" should "replay the 3-3-2 palette census" in {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .selectExpr("doc_id", "CAST(n_chars AS LONG) AS nc")
      .orderBy("doc_id").limit(40)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val want = docs.map { case (id, nc) =>
      val w = (4 + nc % 13).toInt; val h = (3 + nc % 7).toInt
      val px = (0 until w * h).map { p =>
        ((31 * id + 7 * p + 11) % 256, (17 * id + 13 * p + 23) % 256,
          (29 * id + 19 * p + 31) % 256)
      }
      val qs = px.map { case (r, g, b) => 32 * (r / 32) + 4 * (g / 32) + b / 64 }
      val err = px.map { case (r, g, b) =>
        math.abs(r - (32 * (r / 32) + 16)) + math.abs(g - (32 * (g / 32) + 16)) +
          math.abs(b - (64 * (b / 64) + 32))
      }.sum
      val byQ = qs.groupBy(identity).view.mapValues(_.length.toLong).toMap
      val (topQ, topC) = byQ.toSeq.minBy(t => (-t._2, t._1))
      (id, (w * h).toLong, byQ.size.toLong, topQ, topC, err)
    }.toSeq
    val got = Multimodal.imageQuantize(spark, sfDir).orderBy("doc_id")
      .limit(40).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    got shouldBe want
    // quantization genuinely compresses (fewer colors than pixels) and
    // the midpoint error is bounded by the cell half-widths
    got.foreach { case (_, np, nc2, _, _, err) =>
      nc2 should be <= np
      err should be <= np * (16L + 16L + 32L)
    }
  }

  "Multimodal.audioTrim (r13)" should "replay head/tail silent runs from the amp formula" in {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .selectExpr("doc_id", "CAST(n_chars AS LONG) AS nc")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val want = docs.map { case (id, nc) =>
      val n = (50 + nc % 101).toInt
      val amps = (0 until n).map(t => ((13 * id + 7 * t + 3) % 2001 - 1000))
      val loud = amps.indices.filter(t => math.abs(amps(t)) >= 100)
      if (loud.isEmpty) (id, n.toLong, n.toLong, 0L, 0L, 0L)
      else {
        val kept = amps.slice(loud.head, loud.last + 1)
        (id, n.toLong, loud.head.toLong, (n - 1 - loud.last).toLong,
          kept.length.toLong, kept.map(v => math.abs(v).toLong).sum)
      }
    }.sortBy(_._1).toSeq
    val got = Multimodal.audioTrim(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    got shouldBe want
    // trims bind on the fixture at both ends
    got.count(_._3 > 0) should be > 0
    got.count(_._4 > 0) should be > 0
  }

  "Multimodal.decodeFuzz (r13)" should "prove the decoder throws and recovers per contract" in {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .selectExpr("doc_id", "CAST(n_chars AS LONG) AS nc")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // closed-form pixel-flip delta: |255 - 2v| on a channel byte,
    // 0 on stride padding
    val wantDelta = docs.map { case (id, nc) =>
      val w = (4 + nc % 13).toInt; val h = (3 + nc % 7).toInt
      val stride = (w * 3 + 3) / 4 * 4
      val rel = h * stride / 7
      val inrow = rel % stride
      if (inrow >= w * 3) 0L
      else {
        val rfb = rel / stride
        val p = (h - 1 - rfb) * w + inrow / 3
        val v = inrow % 3 match {
          case 0 => (29 * id + 19 * p + 31) % 256
          case 1 => (17 * id + 13 * p + 23) % 256
          case _ => (31 * id + 7 * p + 11) % 256
        }
        math.abs(255 - 2 * v)
      }
    }.sum
    val got = Multimodal.decodeFuzz(spark, sfDir).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val nd = docs.length.toLong
    got("magic") shouldBe ((nd, nd, 0L, 0L))
    got("bounds") shouldBe ((nd, nd, 0L, 0L))
    got("pixel") shouldBe ((nd, 0L, nd, wantDelta))
    // the pixel class genuinely perturbs most documents
    wantDelta should be > nd
  }

  "Multimodal.videoSsim (r13)" should "replay the five power sums and the mirrored SSIM" in {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .selectExpr("doc_id", "CAST(n_chars AS LONG) AS nc")
      .orderBy("doc_id").limit(30)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val want = docs.flatMap { case (id, nc) =>
      val w = (4 + nc % 13).toInt; val h = (3 + nc % 7).toInt
      val nf = (2 + nc % 7).toInt
      def frame(f: Int): Array[Long] = {
        val fk = id + 1000003L * f
        Array.tabulate(w * h)(p =>
          (31 * fk + 7 * p + 11) % 256 + (17 * fk + 13 * p + 23) % 256 +
            (29 * fk + 19 * p + 31) % 256)
      }
      (0 until nf - 1).map { f =>
        val (a, b) = (frame(f), frame(f + 1))
        val n = (w * h).toLong
        val s1 = a.sum; val s2 = b.sum
        val q1 = a.map(x => x * x).sum; val q2 = b.map(x => x * x).sum
        val p = a.zip(b).map(t => t._1 * t._2).sum
        val m1 = s1.toDouble / n; val m2 = s2.toDouble / n
        val v1 = q1.toDouble / n - m1 * m1; val v2 = q2.toDouble / n - m2 * m2
        val cov = p.toDouble / n - m1 * m2
        val ssim = (2 * m1 * m2 + 58.5225) * (2 * cov + 526.7025) /
          ((m1 * m1 + m2 * m2 + 58.5225) * (v1 + v2 + 526.7025))
        (id, f.toLong, n, s1, s2, q1, q2, p,
          math.round(ssim * 1e6) / 1e6)
      }
    }.toSeq
    val got = Multimodal.videoSsim(spark, sfDir).orderBy("doc_id", "f_idx")
      .limit(want.length).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7),
        math.round(r.getDouble(8) * 1e6) / 1e6)).toSeq
    got shouldBe want
    // SSIM is a bounded similarity: inside [-1, 1], rarely 1 exactly
    // (consecutive frames genuinely differ)
    got.foreach(_._9 should (be >= -1.0 and be <= 1.0))
    got.exists(_._9 < 0.999) shouldBe true
  }

  "Multimodal.imageDhash (r13)" should "replay the 4x3 pooled gradient-sign hash" in {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .selectExpr("doc_id", "CAST(n_chars AS LONG) AS nc")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val want = docs.sortBy(_._1).map { case (id, nc) =>
      val w = (4 + nc % 13).toInt; val h = (3 + nc % 7).toInt
      val sums = Array.ofDim[Long](4, 3); val cnts = Array.ofDim[Long](4, 3)
      for (p <- 0 until w * h) {
        val b = (31 * id + 7 * p + 11) % 256 + (17 * id + 13 * p + 23) % 256 +
          (29 * id + 19 * p + 31) % 256
        sums((p % w) * 4 / w)((p / w) * 3 / h) += b
        cnts((p % w) * 4 / w)((p / w) * 3 / h) += 1
      }
      val avg = Array.tabulate(4, 3)((x, y) => sums(x)(y) / cnts(x)(y))
      var dh = 0L
      for (gy <- 0 until 3; gx <- 0 until 3)
        if (avg(gx + 1)(gy) > avg(gx)(gy)) dh |= 1L << (gy * 3 + gx)
      for (gy <- 0 until 2; gx <- 0 until 4)
        if (avg(gx)(gy + 1) > avg(gx)(gy)) dh |= 1L << (9 + gy * 4 + gx)
      (id, w.toLong, h.toLong, dh, avg.map(_.sum).sum)
    }.toSeq
    val got = Multimodal.imageDhash(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    got shouldBe want
    // hashes live in the 17-bit space and genuinely discriminate
    got.foreach(_._4 should (be >= 0L and be < (1L << 17)))
    got.map(_._4).distinct.length should be > got.length / 4
  }

  "Multimodal.videoKeyframes (r13)" should "replay scene segmentation and the argmax election" in {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .selectExpr("doc_id", "CAST(n_chars AS LONG) AS nc")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val want = docs.sortBy(_._1).flatMap { case (id, nc) =>
      val w = (4 + nc % 13).toInt; val h = (3 + nc % 7).toInt
      val nf = (2 + nc % 7).toInt
      val sums = (0 until nf).map { f =>
        val fk = id + 1000003L * f
        (0 until w * h).map { p =>
          (31 * fk + 7 * p + 11) % 256 + (17 * fk + 13 * p + 23) % 256 +
            (29 * fk + 19 * p + 31) % 256
        }.sum
      }
      val sceneOf = sums.indices.map { f =>
        sums.take(f + 1).indices.count(g =>
          g > 0 && math.abs(sums(g) - sums(g - 1)) > 900L)
      }
      sceneOf.distinct.map { sc =>
        val fs = sums.indices.filter(sceneOf(_) == sc)
        val keyPs = fs.map(sums).max
        (id, sc.toLong, fs.head.toLong, fs.length.toLong,
          fs.filter(f => sums(f) == keyPs).head.toLong, keyPs)
      }
    }.toSeq
    val got = Multimodal.videoKeyframes(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    got shouldBe want
    // multi-scene clips exist and keyframes sit inside their scene
    got.exists(_._2 >= 1L) shouldBe true
    got.foreach { case (_, _, st, cnt, kf, _) =>
      kf should (be >= st and be < st + cnt)
    }
  }

  "Multimodal.imageBlobs (r13)" should "match a brute-force BFS labeling on every image" in {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .selectExpr("doc_id", "CAST(n_chars AS LONG) AS nc")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val want = docs.sortBy(_._1).map { case (id, nc) =>
      val w = (4 + nc % 13).toInt; val h = (3 + nc % 7).toInt
      val fg = (0 until w * h).map { p =>
        ((31 * id + 7 * p + 11) % 256 + (17 * id + 13 * p + 23) % 256 +
          (29 * id + 19 * p + 31) % 256) >= 384
      }
      val seen = Array.fill(w * h)(false)
      var blobs = List.empty[(Long, Long)] // (minIdx, size)
      for (start <- 0 until w * h if fg(start) && !seen(start)) {
        var queue = List(start); seen(start) = true
        var members = List.empty[Int]
        while (queue.nonEmpty) {
          val p = queue.head; queue = queue.tail; members ::= p
          val x = p % w; val y = p / w
          for ((nx, ny) <- Seq((x - 1, y), (x + 1, y), (x, y - 1), (x, y + 1))
               if nx >= 0 && nx < w && ny >= 0 && ny < h) {
            val q = ny * w + nx
            if (fg(q) && !seen(q)) { seen(q) = true; queue ::= q }
          }
        }
        blobs ::= ((members.min.toLong, members.length.toLong))
      }
      (id, w.toLong, h.toLong, fg.count(identity).toLong, blobs.length.toLong,
        if (blobs.isEmpty) 0L else blobs.map(_._2).max,
        blobs.map(_._1).sum)
    }.toSeq
    val got = Multimodal.imageBlobs(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    got shouldBe want
    // segmentation is non-trivial: multiple blobs exist somewhere, and
    // no blob exceeds its image's foreground census
    got.map(_._5).max should be > 1L
    got.foreach { case (_, _, _, nFg, nB, mx, _) =>
      if (nFg > 0) { nB should be >= 1L; mx should be <= nFg }
      else { nB shouldBe 0L; mx shouldBe 0L }
    }
  }

  "Multimodal.imageDitherBayer (r13)" should "replay the 4x4 ordered-dither census" in {
    val bayer = Array(0, 8, 2, 10, 12, 4, 14, 6, 3, 11, 1, 9, 15, 7, 13, 5)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .selectExpr("doc_id", "CAST(n_chars AS LONG) AS nc")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val want = docs.sortBy(_._1).map { case (id, nc) =>
      val w = (4 + nc % 13).toInt; val h = (3 + nc % 7).toInt
      var nOn = 0L; var wsum = 0L
      for (p <- 0 until w * h) {
        val v = (31 * id + 7 * p + 11) % 256 + (17 * id + 13 * p + 23) % 256 +
          (29 * id + 19 * p + 31) % 256
        val m = bayer((p / w % 4) * 4 + p % w % 4)
        if (32L * v > (2L * m + 1L) * 765L) { nOn += 1; wsum += p + 1L }
      }
      (id, (w * h).toLong, nOn, wsum)
    }.toSeq
    val got = Multimodal.imageDitherBayer(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    got shouldBe want
    // dithering preserves mean brightness to first order: the global
    // on-rate tracks the global brightness fraction within 10 points
    val onRate = got.map(_._3).sum.toDouble / got.map(_._2).sum
    onRate should (be > 0.3 and be < 0.7)
  }

  "Multimodal.audioDownsample (r13)" should "replay the shifted floor-average decimation" in {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .selectExpr("doc_id", "CAST(n_chars AS LONG) AS nc")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val want = docs.sortBy(_._1).map { case (id, nc) =>
      val n = (50 + nc % 101).toInt
      def amp(t: Int): Long = (13 * id + 7 * t + 3) % 2001 - 1000
      val out = (0 until (n + 1) / 2).map { k =>
        if (2 * k + 1 < n) {
          val s = amp(2 * k) + amp(2 * k + 1) + 4000L
          s / 2L - 2000L // s >= 2000: floor == truncate by construction
        } else amp(2 * k)
      }
      (id, (8000L + 1000L * (id % 5)) / 2L, n.toLong, out.length.toLong,
        out.map(math.abs).sum, out.map(math.abs).max,
        out.zipWithIndex.map { case (v, k) => (k + 1) * v }.sum)
    }.toSeq
    val got = Multimodal.audioDownsample(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    got shouldBe want
    // averaging attenuates: downsampled peak never exceeds full scale,
    // and odd-length clips pass the trailing sample through untouched
    got.foreach(_._6 should be <= 1000L)
    got.count(t => t._3 % 2 == 1) should be > 0
  }

  "Multimodal.imageHough (r13)" should "replay the integer voting accumulator" in {
    val docs = graft.io.Sources.documents(spark, sfDir)
      .select("doc_id", "n_chars").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val angles = Seq((0, 10000L, 0L), (1, 9239L, 3827L), (2, 7071L, 7071L),
      (3, 3827L, 9239L), (4, 0L, 10000L), (5, -3827L, 9239L),
      (6, -7071L, 7071L), (7, -9239L, 3827L))
    val votes = scala.collection.mutable.Map[(Int, Long), Long]()
    docs.foreach { case (id, nc) =>
      val w = (4 + nc % 13).toInt
      val h = (3 + nc % 7).toInt
      for (p <- 0 until w * h) {
        val b = (31 * id + 7 * p + 11) % 256 + (17 * id + 13 * p + 23) % 256 +
          (29 * id + 19 * p + 31) % 256
        if (b >= 400) {
          val x = (p % w).toLong
          val y = (p / w).toLong
          angles.foreach { case (k, c, sn) =>
            val key = (k, (x * c + y * sn + 205000L) / 10000L)
            votes(key) = votes.getOrElse(key, 0L) + 1L
          }
        }
      }
    }
    val want = angles.map(_._1).map { k =>
      val bins = votes.collect { case ((`k`, rho), n) => (rho, n) }.toSeq
      val mx = bins.map(_._2).max
      (k.toLong, bins.map(_._2).sum, bins.size.toLong, mx,
        bins.filter(_._2 == mx).map(_._1).min)
    }
    val got = Multimodal.imageHough(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    got shouldBe want
    // every edge pixel votes exactly once per angle: equal mass per k
    got.map(_._2).distinct.size shouldBe 1
    // the accumulator genuinely concentrates: some bin beats uniform
    got.foreach(t => t._4 * t._3 should be >= t._2)
  }

  "Multimodal.videoMotionVectors (r13)" should "replay the interior-SAD argmin" in {
    val docs = graft.io.Sources.documents(spark, sfDir)
      .select("doc_id", "n_chars").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    def b(fid: Long, p: Long): Long =
      (31 * fid + 7 * p + 11) % 256 + (17 * fid + 13 * p + 23) % 256 +
        (29 * fid + 19 * p + 31) % 256
    val picks = docs.flatMap { case (id, nc) =>
      val w = 4 + nc % 13
      val h = 3 + nc % 7
      val nf = 2 + nc % 7
      (1L until nf).map { f =>
        val cands = for (dy <- -1 to 1; dx <- -1 to 1) yield {
          var sad = 0L
          for (y <- 1L until h - 1; x <- 1L until w - 1)
            sad += math.abs(b(id + 1000003L * f, y * w + x) -
              b(id + 1000003L * (f - 1), (y + dy) * w + (x + dx)))
          (sad, dy.toLong, dx.toLong)
        }
        cands.minBy(t => (t._1, t._2, t._3))
      }
    }
    val want = picks.groupBy(t => (t._2, t._3)).toSeq
      .map { case ((dy, dx), g) => (dy, dx, g.size.toLong, g.map(_._1).sum) }
      .sortBy(t => (t._1, t._2))
    val got = Multimodal.videoMotionVectors(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    got shouldBe want
    // hash-noise frames have no coherent motion: the zero vector need
    // not win, but every pick's SAD is bounded by the interior mass
    got.foreach { t =>
      t._2 should (be >= -1L and be <= 1L)
      t._1 should (be >= -1L and be <= 1L)
    }
    got.map(_._3).sum shouldBe picks.length.toLong
  }

  "Multimodal.audioVad (r13)" should "replay the hangover state machine" in {
    val docs = graft.io.Sources.documents(spark, sfDir)
      .select("doc_id", "n_chars").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    var (nf, nar, nad, nseg, sig) = (0L, 0L, 0L, 0L, 0L)
    docs.foreach { case (id, nc) =>
      val n = (50 + nc % 101).toInt
      val amps = (0 until n).map(t => (13 * id + 7 * t + 3) % 2001 - 1000)
      val frames = amps.grouped(50).toSeq
      val act = frames.map(fr =>
        if (fr.map(v => v * v).sum >= 250000L * fr.length) 1 else 0)
      val dil = act.indices.map { i =>
        val lo = math.max(0, i - 1)
        val hi = math.min(act.length - 1, i + 1)
        (lo to hi).map(act).max
      }
      nf += act.length
      nar += act.sum
      nad += dil.sum
      dil.indices.foreach { i =>
        if (dil(i) == 1 && (i == 0 || dil(i - 1) == 0)) {
          nseg += 1; sig += id
        }
      }
    }
    val got = Multimodal.audioVad(spark, sfDir).head()
    got.getLong(0) shouldBe docs.length.toLong
    (got.getLong(1), got.getLong(2), got.getLong(3)) shouldBe ((nf, nar, nad))
    (got.getLong(4), got.getLong(5)) shouldBe ((nseg, sig))
    // dilation only grows activity; segments need active mass
    nad should be >= nar
    nseg should be > 0L
  }
}
