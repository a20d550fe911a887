package graft.ops

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets
import javax.imageio.ImageIO
import javax.imageio.stream.{MemoryCacheImageInputStream, MemoryCacheImageOutputStream}

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Sources

/** Multimodal column plumbing (SURVEY §2.13): media as opaque `binary`
  * columns with typed metadata, batch-shaped decode / feature-extract.
  *
  * The fixtures carry no media files, so the image assets are DERIVED:
  * a deterministic generator (the stand-in for the source system's
  * ingest) renders each document as a genuine 24-bit uncompressed BMP —
  * a real public file format with a magic number, little-endian header
  * fields, bottom-up pixel rows and 4-byte row-stride padding — and the
  * DECODE step is a real codec: it validates the magic, parses the
  * header, walks the padded bottom-up pixel array and emits true
  * decoded width/height plus pixel statistics. Decoded values are
  * oracle-checked end to end: the pixel formula is pure integer
  * arithmetic, so DuckDB predicts every feature the decoder must
  * recover from the bytes — a mis-parsed stride, offset or row order
  * hash-fails. The same discipline covers all three modalities: image
  * (24-bit BMP), audio (RIFF/WAVE PCM16 with a chunk walk past planted
  * metadata chunks), and video (a length-prefixed multi-frame container
  * whose sampled frames run through the real BMP codec). Compressed
  * codecs (JPEG/MP3/H.264) aren't in this container; these three carry
  * the full byte-level decode discipline with zero dependencies.
  * The Spark shape is the batch-codec one throughout: `mapPartitions`
  * (the JVM analog of `mapInPandas`: one iterator per partition,
  * amortized per-partition codec setup), binary stays map-side only.
  *
  * At 100 TB: binary payloads dominate row size, so operators project the
  * binary column away as early as possible (metadata-only plans never read
  * the blob pages in Parquet thanks to column pruning), and decode
  * parallelism = partition count, tuned with `maxPartitionBytes`.
  */
object Multimodal {

  /** One generated media asset: a genuine BMP file in a binary column. */
  final case class MediaAsset(doc_id: Long, media: Array[Byte])

  /** Decoded-feature record produced by the BMP decoder. Every field
    * after doc_id is recovered FROM THE BYTES: file length, header
    * width/height, and two pixel statistics over the top-down raster
    * order (`pix_wsum` weights each pixel by its 1-based raster index,
    * so a decoder that got the bottom-up row order wrong cannot pass).
    */
  final case class MediaFeatures(
      doc_id: Long,
      n_bytes: Long,
      width: Int,
      height: Int,
      pix_sum: Long,
      pix_wsum: Long,
  )

  /** Deterministic pixel formula — the contract between the generator
    * and the oracle: pixel p (0-based, top-down raster order) of
    * document `id` has channels
    * r=(31·id+7·p+11)%256, g=(17·id+13·p+23)%256, b=(29·id+19·p+31)%256.
    * Image dims derive from the document: w = 4 + n_chars%13,
    * h = 3 + n_chars%7 (small on the fixtures; the codec logic is
    * size-independent).
    */
  private[ops] def pixel(id: Long, p: Long): (Int, Int, Int) = (
    ((31 * id + 7 * p + 11) % 256).toInt,
    ((17 * id + 13 * p + 23) % 256).toInt,
    ((29 * id + 19 * p + 31) % 256).toInt)

  /** Little-endian view of a byte array: the byte order of every
    * container header this object writes and parses (BMP, RIFF, GVID).
    */
  private def le(bytes: Array[Byte]): ByteBuffer =
    ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)

  /** The four ASCII bytes at `off` — a RIFF chunk id or a magic number. */
  private def fourcc(bytes: Array[Byte], off: Int): String =
    new String(bytes, off, 4, StandardCharsets.US_ASCII)

  private def asciiBytes(s: String): Array[Byte] = s.getBytes(StandardCharsets.US_ASCII)

  /** Render a genuine 24-bit BMP (BITMAPINFOHEADER, bottom-up rows,
    * 4-byte stride padding) for a document.
    */
  private[ops] def encodeBmp(id: Long, nChars: Long): Array[Byte] = {
    val w = (4 + nChars % 13).toInt
    val h = (3 + nChars % 7).toInt
    val stride = (w * 3 + 3) / 4 * 4
    val size = 54 + h * stride
    val out = new Array[Byte](size)
    out(0) = 'B'; out(1) = 'M'
    le(out)
      .putInt(2, size).putInt(10, 54) // file size, pixel-array offset
      .putInt(14, 40).putInt(18, w).putInt(22, h) // DIB size, width, height
      .putShort(26, 1).putShort(28, 24) // planes, bits-per-pixel
      .putInt(30, 0).putInt(34, h * stride) // BI_RGB, image size
      .putInt(38, 2835).putInt(42, 2835) // 72 DPI
    var y = 0
    while (y < h) { // y = top-down image row; BMP stores rows bottom-up
      val rowOff = 54 + (h - 1 - y) * stride
      var x = 0
      while (x < w) {
        val (r, g, b) = pixel(id, y.toLong * w + x)
        out(rowOff + x * 3) = b.toByte // BMP channel order is B,G,R
        out(rowOff + x * 3 + 1) = g.toByte
        out(rowOff + x * 3 + 2) = r.toByte
        x += 1
      }
      y += 1
    }
    out
  }

  /** Parse a 24-bit BMP: validate magic/offsets, read the little-endian
    * header dims, walk the padded bottom-up pixel array in TOP-DOWN
    * raster order. Throws on anything that isn't the format it claims —
    * a decoder that silently "succeeds" on garbage is worse than one
    * that fails loudly.
    */
  private[ops] def decodeBmp(bytes: Array[Byte]): (Int, Int, Long, Long) = {
    val (w, h, px) = bmpPixels(bytes)
    var sum = 0L; var wsum = 0L
    var p = 0
    while (p < px.length) {
      sum += px(p); wsum += (p + 1).toLong * px(p)
      p += 1
    }
    (w, h, sum, wsum)
  }

  /** The validated header of a 24-bit BMP: dims, pixel-array offset and
    * padded row stride.
    */
  private final case class BmpHeader(w: Int, h: Int, pixOff: Int, stride: Int) {
    /** Byte offset of top-down row `y`: BMP stores rows bottom-up. */
    def rowOff(y: Int): Int = pixOff + (h - 1 - y) * stride
  }

  /** The one BMP header parse: magic, declared file size, uncompressed
    * 24-bit format, positive dims, and a pixel array inside the payload.
    */
  private def bmpHeader(bytes: Array[Byte]): BmpHeader = {
    require(bytes.length >= 54 && bytes(0) == 'B' && bytes(1) == 'M',
      "not a BMP: bad magic or truncated header")
    val hdr = le(bytes)
    require(hdr.getInt(2) == bytes.length, "BMP header size != payload size")
    require(hdr.getShort(28) == 24 && hdr.getInt(30) == 0,
      "decoder handles uncompressed 24-bit BMP")
    val pixOff = hdr.getInt(10); val w = hdr.getInt(18); val h = hdr.getInt(22)
    require(pixOff >= 54 && w > 0 && h > 0, "bad pixel-array offset or dims")
    val stride = (w.toLong * 3 + 3) / 4 * 4
    require(pixOff + h * stride <= bytes.length, "pixel array out of bounds")
    BmpHeader(w, h, pixOff, stride.toInt)
  }

  /** Decode a 24-bit BMP to per-pixel brightness: (w, h, r+g+b of each
    * pixel in TOP-DOWN raster order).
    */
  private[ops] def bmpPixels(bytes: Array[Byte]): (Int, Int, Array[Int]) = {
    val hd = bmpHeader(bytes)
    val w = hd.w; val h = hd.h
    val px = new Array[Int](w * h)
    var y = 0
    while (y < h) {
      val rowOff = hd.rowOff(y)
      var x = 0
      while (x < w) {
        px(y * w + x) = (bytes(rowOff + x * 3) & 0xff) +
          (bytes(rowOff + x * 3 + 1) & 0xff) + (bytes(rowOff + x * 3 + 2) & 0xff)
        x += 1
      }
      y += 1
    }
    (w, h, px)
  }

  /** Decode a 24-bit BMP to per-channel values in top-down raster order:
    * out(3p) = B, out(3p+1) = G, out(3p+2) = R for pixel p — the
    * channel-level decode that [[bmpPixels]]' brightness sum collapses.
    */
  private[ops] def bmpChannels(bytes: Array[Byte]): (Int, Int, Array[Int]) = {
    val hd = bmpHeader(bytes)
    val w = hd.w; val h = hd.h
    val out = new Array[Int](w * h * 3)
    var y = 0
    while (y < h) {
      val rowOff = hd.rowOff(y)
      var x = 0
      while (x < w) {
        val p = (y * w + x) * 3
        out(p) = bytes(rowOff + x * 3) & 0xff
        out(p + 1) = bytes(rowOff + x * 3 + 1) & 0xff
        out(p + 2) = bytes(rowOff + x * 3 + 2) & 0xff
        x += 1
      }
      y += 1
    }
    (w, h, out)
  }

  /** One pooled (resized) image summary — dims and the integer
    * checksums over the floor-averaged 2×2 cells.
    */
  final case class ResizedImage(
      doc_id: Long, width: Long, height: Long, out_w: Long, out_h: Long,
      pool_sum: Long, pool_wsum: Long)

  /** Image resize as 2×2 average pooling (`mm_resize_pool`) — the
    * missing verb of the decode / feature-extract / RESIZE /
    * frame-sample quartet: decode the real BMP bytes, floor-average
    * each 2×2 pixel block (odd edges keep their 1-or-2-pixel partial
    * blocks — ceil-div output dims, the standard behavior), and ship
    * the pooled dims plus two integer checksums over the pooled cells
    * (raster-weighted, so a transposed or edge-mishandled pool cannot
    * hash-match). Pooling happens INSIDE the codec `mapPartitions`
    * pass — per-pixel rows never leave the task, the op's whole point
    * at 100 TB (a resize that exploded pixels through a shuffle would
    * move 256× the data it returns). Integer-exact end-to-end: cell
    * value = Σ(r+g+b) div count, and the oracle replays the identical
    * floor arithmetic from the pixel contract.
    */
  def resizePool(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Sources.documents(s, d)
      .select(col("doc_id"), col("n_chars").cast("long"))
      .as[(Long, Long)]
      .mapPartitions { it =>
        it.map { case (id, nc) =>
          val (w, h, px) = bmpPixels(encodeBmp(id, nc))
          val ow = (w + 1) / 2; val oh = (h + 1) / 2
          var sum = 0L; var wsum = 0L
          var oy = 0
          while (oy < oh) {
            var ox = 0
            while (ox < ow) {
              var s0 = 0L; var cnt = 0L
              var dy = 0
              while (dy < 2) {
                val y = 2 * oy + dy
                var dx = 0
                while (dx < 2) {
                  val x = 2 * ox + dx
                  if (x < w && y < h) { s0 += px(y * w + x); cnt += 1 }
                  dx += 1
                }
                dy += 1
              }
              val av = s0 / cnt // floor: s0, cnt > 0
              val cid1 = oy.toLong * ow + ox + 1
              sum += av; wsum += cid1 * av
              ox += 1
            }
            oy += 1
          }
          ResizedImage(id, w.toLong, h.toLong, ow.toLong, oh.toLong, sum, wsum)
        }
      }
      .toDF()
      .orderBy("doc_id")
  }

  /** The derived media-asset table: one real BMP per document, built in
    * the batched `mapPartitions` shape (per-partition generator init,
    * iterator in / iterator out) — the stand-in for the source system
    * that would deliver blobs at ingest.
    */
  def bmpAssets(spark: SparkSession, docs: DataFrame): Dataset[MediaAsset] = {
    import spark.implicits._
    docs.select(col("doc_id"), col("n_chars").cast("long"))
      .as[(Long, Long)]
      .mapPartitions(_.map { case (id, nc) => MediaAsset(id, encodeBmp(id, nc)) })
  }

  /** Decoded-audio record produced by the WAV decoder — every field
    * after doc_id recovered FROM THE BYTES: file length, the fmt-chunk
    * sample rate, and four integer statistics over the PCM samples
    * (`zero_crossings` counts strict sign flips, so a decoder that
    * mis-read the signed little-endian int16s cannot pass).
    */
  final case class AudioFeatures(
      doc_id: Long,
      n_bytes: Long,
      sample_rate: Long,
      n_samples: Long,
      amp_sum: Long,
      amp_abs_sum: Long,
      peak: Long,
      zero_crossings: Long,
  )

  /** Deterministic sample formula — the generator↔oracle contract:
    * sample t (0-based) of document `id` is
    * amp = ((13·id + 7·t + 3) % 2001) − 1000 ∈ [−1000, 1000] (int16-safe);
    * n_samples = 50 + n_chars % 101; sample_rate = 8000 + 1000·(id % 5).
    */
  private[ops] def ampAt(id: Long, t: Long): Int =
    (((13 * id + 7 * t + 3) % 2001) - 1000).toInt

  /** Render a genuine RIFF/WAVE file (PCM, mono, 16-bit little-endian).
    * Every third document gets a harmless `LIST` chunk between `fmt ` and
    * `data` — real WAV files carry metadata chunks there, and the
    * decoder must WALK chunks, not assume `data` at byte 36.
    */
  private[ops] def encodeWav(id: Long, nChars: Long): Array[Byte] = {
    val n = (50 + nChars % 101).toInt
    val sr = (8000 + 1000 * (id % 5)).toInt
    val listExtra = if (id % 3 == 0) 20 else 0 // 8-byte header + 12-byte payload
    val size = 44 + listExtra + 2 * n
    val out = new Array[Byte](size)
    val buf = le(out)
    buf.put(asciiBytes("RIFF")).putInt(size - 8).put(asciiBytes("WAVE"))
    buf.put(asciiBytes("fmt ")).putInt(16)
      .putShort(1).putShort(1) // PCM, mono
      .putInt(sr).putInt(sr * 2) // sample rate, byte rate
      .putShort(2).putShort(16) // block align, bits per sample
    if (listExtra > 0) buf.put(asciiBytes("LIST")).putInt(12).put(asciiBytes("x" * 12))
    buf.put(asciiBytes("data")).putInt(2 * n)
    var t = 0
    while (t < n) { buf.putShort(ampAt(id, t).toShort); t += 1 }
    out
  }

  /** Parse a RIFF/WAVE file: validate the RIFF/WAVE magics and the
    * declared size, WALK the chunk list (skipping unknown chunks, with
    * the RIFF odd-length pad rule), require PCM/mono/16-bit from the
    * `fmt ` chunk, then read the signed little-endian int16 samples and
    * reduce them to the integer statistics. Throws on malformed input.
    */
  private[ops] def decodeWav(bytes: Array[Byte]): AudioFeaturesRaw = {
    val (sampleRate, samples) = wavSamples(bytes)
    audioStats(sampleRate, samples)
  }

  /** The integer statistics over decoded samples, shared by [[decodeWav]]
    * and the µ-law decode: sum, absolute sum, peak magnitude and strict
    * sign flips between neighbours.
    */
  private def audioStats(sampleRate: Long, samples: Array[Int]): AudioFeaturesRaw = {
    var sum = 0L; var absSum = 0L; var peak = 0L; var zc = 0L
    var prev = 0; var t = 0
    while (t < samples.length) {
      val v = samples(t)
      sum += v; absSum += math.abs(v).toLong
      if (math.abs(v) > peak) peak = math.abs(v).toLong
      if (t > 0 && prev.toLong * v < 0) zc += 1
      prev = v; t += 1
    }
    AudioFeaturesRaw(sampleRate, samples.length.toLong, sum, absSum, peak, zc)
  }

  /** The one RIFF/WAVE chunk walk: validate the RIFF/WAVE magics and
    * the declared size, walk the chunks (odd-length pad rule, unknown
    * chunks such as `LIST` skipped), require a mono `fmt ` chunk in
    * format code `format` at `bits` bits per sample, and return (sample
    * rate, data offset, data length in bytes). Throws on malformed input.
    */
  private def riffData(bytes: Array[Byte], format: Int, bits: Int): (Int, Int, Int) = {
    require(bytes.length >= 44 && fourcc(bytes, 0) == "RIFF" && fourcc(bytes, 8) == "WAVE",
      "not a WAV: bad RIFF/WAVE magic or truncated header")
    val buf = le(bytes)
    require(buf.getInt(4) == bytes.length - 8, "RIFF size != payload size")
    var off = 12
    var sampleRate = -1
    var dataOff = -1; var dataLen = -1
    while (off + 8 <= bytes.length && (sampleRate < 0 || dataOff < 0)) {
      val chunk = fourcc(bytes, off); val len = buf.getInt(off + 4)
      require(len >= 0 && off + 8L + len <= bytes.length, s"chunk $chunk overruns the file")
      chunk match {
        case "fmt " =>
          require(len >= 16 && buf.getShort(off + 8) == format &&
            buf.getShort(off + 10) == 1 && buf.getShort(off + 22) == bits,
            s"decoder handles format $format mono $bits-bit")
          sampleRate = buf.getInt(off + 12)
        case "data" => dataOff = off + 8; dataLen = len
        case _      => // skip unknown chunks (LIST, cue, ...)
      }
      off += 8 + len + (len & 1) // RIFF pads odd-length chunks
    }
    require(sampleRate > 0 && dataOff >= 0, "missing fmt or data chunk")
    require(dataLen % (bits / 8) == 0, s"data is not whole $bits-bit samples")
    (sampleRate, dataOff, dataLen)
  }

  /** PCM/mono/16-bit WAV samples, shared by [[decodeWav]] and the framed
    * [[audioFrameRms]] pass: (sample rate, signed int16 samples).
    */
  private[ops] def wavSamples(bytes: Array[Byte]): (Long, Array[Int]) = {
    val (sampleRate, dataOff, dataLen) = riffData(bytes, 1, 16)
    val pcm = le(bytes)
    val samples = new Array[Int](dataLen / 2)
    var t = 0
    while (t < samples.length) { samples(t) = pcm.getShort(dataOff + 2 * t); t += 1 }
    (sampleRate.toLong, samples)
  }

  /** What [[decodeWav]] recovers from one file (doc key attached later). */
  final case class AudioFeaturesRaw(
      sample_rate: Long, n_samples: Long, amp_sum: Long,
      amp_abs_sum: Long, peak: Long, zero_crossings: Long) {
    def withDoc(docId: Long, nBytes: Long): AudioFeatures = AudioFeatures(docId, nBytes,
      sample_rate, n_samples, amp_sum, amp_abs_sum, peak, zero_crossings)
  }

  /** What the pitch pass recovers from one file. */
  final case class PitchFeatures(
      doc_id: Long, n_samples: Long, energy: Long,
      best_lag: Long, best_corr: Long)

  /** Autocorrelation pitch estimate (`mm_audio_pitch`): the classic
    * time-domain pitch detector — r(ℓ) = Σ_t s[t]·s[t+ℓ] over lags
    * 1..40, best lag = argmax (ties to the SMALLER lag) — computed on
    * the decoded int16 samples INSIDE the codec `mapPartitions` pass,
    * exact 64-bit integers end-to-end (|s| ≤ 1000, n ≤ 150 ⇒ |r| ≤
    * 1.5e8; at real corpus scale int16² · n fits BIGINT to ~2×10⁹
    * samples per clip). No FFT: spectral methods need irrational
    * twiddles that no integer oracle can replay — the O(n·L) direct
    * form is exact, and L is a constant (the 200-400 Hz pitch band at
    * these sample rates). The oracle replays r(ℓ) from the shared
    * sample formula with a t→t+ℓ self-join, so the hash gate covers
    * the full decode + feature-extract chain.
    */
  def audioPitch(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Sources.documents(s, d)
      .select(col("doc_id"), col("n_chars").cast("long"))
      .as[(Long, Long)]
      .mapPartitions(_.map { case (id, nc) =>
        val (_, sm) = wavSamples(encodeWav(id, nc))
        var energy = 0L
        var t = 0
        while (t < sm.length) { energy += sm(t).toLong * sm(t); t += 1 }
        var bestLag = 0L
        var bestCorr = Long.MinValue
        var lag = 1
        while (lag <= 40) {
          var r = 0L
          var i = 0
          while (i + lag < sm.length) { r += sm(i).toLong * sm(i + lag); i += 1 }
          if (r > bestCorr) { bestCorr = r; bestLag = lag.toLong }
          lag += 1
        }
        PitchFeatures(id, sm.length.toLong, energy, bestLag, bestCorr)
      })
      .toDF().orderBy("doc_id")
  }

  /** The real audio-decode pipeline as a query (`mm_decode_wav`):
    * generate a genuine PCM WAV per document, then DECODE the bytes in
    * the batched `mapPartitions` shape and ship what the decoder
    * recovered. The oracle predicts every column from the sample
    * contract alone, so the hash check certifies the RIFF chunk walk
    * (the planted `LIST` chunk breaks any fixed-offset reader), the
    * little-endian fmt parse, and the signed-int16 sample decode.
    */
  def mediaDecodeWav(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Sources.documents(s, d)
      .select(col("doc_id"), col("n_chars").cast("long"))
      .as[(Long, Long)]
      .mapPartitions { it =>
        // per-partition init happens here (a real codec opens once)
        it.map { case (id, nc) =>
          val wav = encodeWav(id, nc)
          decodeWav(wav).withDoc(id, wav.length.toLong)
        }
      }
      .toDF()
      .orderBy("doc_id")
  }

  /** One 50-sample analysis frame of a decoded PCM stream. */
  final case class AudioFrame(
      doc_id: Long, frame_idx: Long, n_samples: Long, sq_sum: Long, peak: Long)

  /** Framed audio energy (`mm_audio_rms`): decode each document's PCM16
    * stream and reduce it to per-50-sample-frame RMS energy + peak —
    * the feature every audio curation pipeline extracts first (silence
    * trimming, clipping detection, VAD pre-filtering). The frame
    * aggregates (Σv², max|v|, count) are computed INSIDE the codec pass
    * and only frame rows leave `mapPartitions` — per-sample rows never
    * touch a shuffle, so the exchange carries n/50 rows (at 100 TB the
    * decode is the bottleneck and the map-side reduction is the whole
    * design; the trailing partial frame keeps its true count). Σv² is
    * exact: |v| ≤ 1000 on this fixture ⇒ a frame sum ≤ 5·10⁷, and even
    * full-scale int16 audio caps a 50-sample frame at 5.4·10¹⁰ — Long
    * territory. The one float op, √(Σv²/n), runs identically in both
    * engines on identical integers.
    */
  def audioFrameRms(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val frameLen = 50
    Sources.documents(s, d)
      .select(col("doc_id"), col("n_chars").cast("long"))
      .as[(Long, Long)]
      .mapPartitions { it =>
        it.flatMap { case (id, nc) =>
          val (_, samples) = wavSamples(encodeWav(id, nc))
          samples.grouped(frameLen).zipWithIndex.map { case (fr, fi) =>
            var sq = 0L; var peak = 0L
            fr.foreach { v =>
              sq += v.toLong * v
              if (math.abs(v) > peak) peak = math.abs(v).toLong
            }
            AudioFrame(id, fi.toLong, fr.length.toLong, sq, peak)
          }
        }
      }
      .toDF()
      .select(col("doc_id"), col("frame_idx"), col("n_samples"),
        col("sq_sum"), col("peak"),
        graft.functions.Num.roundNorm(
          sqrt(col("sq_sum").cast("double") / col("n_samples").cast("double")), 4)
          .as("rms"))
      .orderBy("doc_id", "frame_idx")
  }

  /** Energy VAD with hangover (`mm_audio_vad`, r13): the
    * voice-activity front door of every speech pipeline — frames whose
    * energy clears a threshold are active, a ±1-frame dilation (the
    * "hangover" that bridges short dips so one utterance doesn't
    * shatter), then segments = runs of dilated-active frames. Exact
    * shape: the activity test is the INTEGER inequality Σx² ≥
    * 250000·n (mean-square ≥ 250000 with the division cleared — no
    * rational leaves the lattice; frame mean-squares span ~1e2..7e5
    * on this fixture, so the published threshold genuinely splits),
    * dilation is a per-DOC ±1-row window max, segment starts a per-doc
    * lag — never an unpartitioned window. Census: corpus totals plus
    * a Σ doc_id·starts signature that pins segment ATTRIBUTION, not
    * just the count. Frame energies come from the same codec
    * `mapPartitions` pass as [[audioFrameRms]].
    */
  def audioVad(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val frameLen = 50
    val frames = Sources.documents(s, d)
      .select(col("doc_id"), col("n_chars").cast("long"))
      .as[(Long, Long)]
      .mapPartitions { it =>
        it.flatMap { case (id, nc) =>
          val (_, samples) = wavSamples(encodeWav(id, nc))
          samples.grouped(frameLen).zipWithIndex.map { case (fr, fi) =>
            var sq = 0L
            fr.foreach(v => sq += v.toLong * v)
            (id, fi.toLong, fr.length.toLong, sq)
          }
        }
      }
      .toDF("doc_id", "frame_idx", "n_samples", "sq_sum")
      .withColumn("active",
        when(col("sq_sum") >= lit(250000L) * col("n_samples"), 1L)
          .otherwise(0L))
    val wD = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("frame_idx")
    val dil = frames
      .withColumn("act_d", max("active").over(wD.rowsBetween(-1, 1)))
      .withColumn("start", when(col("act_d") === 1 &&
        coalesce(lag("act_d", 1).over(wD), lit(0L)) === 0, 1L)
        .otherwise(0L))
    dil.agg(countDistinct("doc_id").as("n_docs"),
      count(lit(1)).as("n_frames"), sum("active").as("n_active_raw"),
      sum("act_d").as("n_active"), sum("start").as("n_segments"),
      sum(col("doc_id") * col("start")).as("seg_doc_sig"))
  }

  // ---- G.711 µ-law companded audio (r12) ------------------------------

  /** Encode one 16-bit sample to a µ-law byte — the G.711 standard
    * algorithm (bias 0x84, clip 32635, 3-bit exponent segment + 4-bit
    * mantissa, ones-complement output).
    */
  private[ops] def ulawEncode(pcm: Int): Int = {
    val sign = if (pcm < 0) 0x80 else 0
    var v = math.min(math.abs(pcm), 32635) + 0x84
    // segment e: v in [2^(e+7), 2^(e+8)) for e = 0..7 (v >= 132 > 2^7)
    var e = 7
    while (e > 0 && v < (1 << (e + 7))) e -= 1
    val m = (v >> (e + 3)) & 0x0f
    ~(sign | (e << 4) | m) & 0xff
  }

  /** Expand a µ-law byte back to its 16-bit sample. */
  private[ops] def ulawDecode(b: Int): Int = {
    val u = ~b & 0xff
    val e = (u >> 4) & 7
    val m = u & 0x0f
    val mag = (((m << 3) + 0x84) << e) - 0x84
    if ((u & 0x80) != 0) -mag else mag
  }

  /** Render a genuine RIFF/WAVE file in format 7 (µ-law, mono, 8-bit),
    * fmt chunk with the non-PCM 18-byte layout (cbSize = 0), data padded
    * per the RIFF odd-length rule. Samples are the shared formula
    * scaled ×33 (range ±33 000) so the encode exercises BOTH the clip
    * rail and all eight exponent segments.
    */
  private[ops] def encodeUlawWav(id: Long, nChars: Long): Array[Byte] = {
    val n = (50 + nChars % 101).toInt
    val sr = (8000 + 1000 * (id % 5)).toInt
    val pad = n & 1
    val size = 12 + (8 + 18) + 8 + n + pad
    val out = new Array[Byte](size)
    val buf = le(out)
    buf.put(asciiBytes("RIFF")).putInt(size - 8).put(asciiBytes("WAVE"))
    buf.put(asciiBytes("fmt ")).putInt(18)
      .putShort(7).putShort(1) // µ-law, mono
      .putInt(sr).putInt(sr) // sample rate, byte rate (1 byte/sample)
      .putShort(1).putShort(8) // block align, bits per sample
      .putShort(0) // cbSize (non-PCM fmt extension length)
    buf.put(asciiBytes("data")).putInt(n)
    var t = 0
    while (t < n) { buf.put(ulawEncode(ampAt(id, t) * 33).toByte); t += 1 }
    // `pad` trailing zero byte left in place when n is odd (RIFF rule)
    out
  }

  /** Parse a format-7 WAV and expand the µ-law samples: the
    * [[riffData]] walk requiring µ-law/mono/8-bit (the fmt chunk has
    * the 18-byte non-PCM layout, the data chunk the odd-length pad).
    */
  private[ops] def ulawSamples(bytes: Array[Byte]): (Long, Array[Int]) = {
    val (sampleRate, dataOff, dataLen) = riffData(bytes, 7, 8)
    val samples = new Array[Int](dataLen)
    var t = 0
    while (t < dataLen) { samples(t) = ulawDecode(bytes(dataOff + t) & 0xff); t += 1 }
    (sampleRate.toLong, samples)
  }

  /** Companded-audio decode as a query (`mm_decode_ulaw`): each
    * document rendered as a genuine G.711 µ-law WAV, decoded back, and
    * reduced to integer statistics over the EXPANDED samples. The
    * oracle replays the full compand cycle in SQL — clip, bias, an
    * 8-branch exponent-segment CASE, mantissa shift, expansion — so the
    * hash gate certifies the lossy quantization ladder bit-for-bit,
    * not just the container walk (which the planted odd-length pad and
    * 18-byte fmt layout also exercise). Same batched `mapPartitions`
    * codec shape; per-sample rows never shuffle.
    */
  def mediaDecodeUlaw(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Sources.documents(s, d)
      .select(col("doc_id"), col("n_chars").cast("long"))
      .as[(Long, Long)]
      .mapPartitions(_.map { case (id, nc) =>
        val wav = encodeUlawWav(id, nc)
        val (sr, samples) = ulawSamples(wav)
        audioStats(sr, samples).withDoc(id, wav.length.toLong)
      })
      .toDF()
      .orderBy("doc_id")
  }

  /** Render a multi-frame video container: `GVID` magic + u32 frame
    * count + per frame (u32 length + a genuine BMP). Frame `f` of
    * document `id` is [[encodeBmp]] keyed by `id + 1000003·f` — same
    * dimensions every frame (dims derive from the document), distinct
    * pixels per frame. n_frames = 2 + n_chars % 7.
    */
  private[ops] def encodeVideo(id: Long, nChars: Long): Array[Byte] = {
    val nf = (2 + nChars % 7).toInt
    val frames = (0 until nf).map(f => encodeBmp(id + 1000003L * f, nChars))
    val out = new Array[Byte](8 + frames.map(_.length + 4).sum)
    val buf = le(out).put(asciiBytes("GVID")).putInt(nf)
    frames.foreach(fb => buf.putInt(fb.length).put(fb))
    out
  }

  /** One frame of a `GVID` container: its index and the byte range of
    * its BMP payload inside the container.
    */
  private[ops] final case class GvidFrame(index: Int, offset: Int, length: Int) {
    /** The frame's BMP bytes, copied out of `container`. */
    def bmp(container: Array[Byte]): Array[Byte] =
      java.util.Arrays.copyOfRange(container, offset, offset + length)
  }

  /** The one `GVID` frame walk: validate the magic, the frame count, each
    * frame header and declared length against the container (the walker
    * must honor each length to even FIND the next frame), and that the
    * last frame ends the container. Returns the frames in order; every
    * video query reaches frame bytes through this walk.
    */
  private[ops] def gvidFrames(bytes: Array[Byte]): Array[GvidFrame] = {
    require(bytes.length >= 8 && fourcc(bytes, 0) == "GVID", "not a GVID container")
    val buf = le(bytes)
    val nf = buf.getInt(4)
    require(nf >= 0 && nf <= (bytes.length - 8) / 4, "frame count overruns the container")
    val frames = new Array[GvidFrame](nf)
    var off = 8
    var f = 0
    while (f < nf) {
      require(off + 4 <= bytes.length, s"frame $f header overruns the container")
      val len = buf.getInt(off)
      require(len >= 0 && off + 4L + len <= bytes.length, s"frame $f overruns the container")
      frames(f) = GvidFrame(f, off + 4, len)
      off += 4 + len
      f += 1
    }
    require(off == bytes.length, "trailing garbage after the last frame")
    frames
  }

  /** One decoded sampled frame of a video container. */
  final case class VideoFrameFeatures(
      doc_id: Long, frame_idx: Long, width: Long, height: Long,
      pix_sum: Long, pix_wsum: Long)

  /** Walk a `GVID` container and decode EVERY SECOND frame via
    * [[decodeBmp]] — the video frame-sampling shape over real bytes:
    * skipped frames are never pixel-decoded (the point of sampling: at
    * 100 TB the codec cost is the bottleneck, so the stride divides it,
    * not just the output).
    */
  private[ops] def decodeVideoSampled(id: Long, bytes: Array[Byte]): Seq[VideoFrameFeatures] =
    gvidFrames(bytes).toSeq.filter(_.index % 2 == 0).map { fr =>
      val (w, h, sum, wsum) = decodeBmp(fr.bmp(bytes))
      VideoFrameFeatures(id, fr.index.toLong, w.toLong, h.toLong, sum, wsum)
    }

  /** The video frame-sampling pipeline as a query (`mm_video_frames`):
    * build a real multi-frame container per document, walk it, decode
    * every second frame with the real BMP codec, one output row per
    * sampled frame. Oracle-checked end to end from the pixel contract.
    */
  def videoFrames(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Sources.documents(s, d)
      .select(col("doc_id"), col("n_chars").cast("long"))
      .as[(Long, Long)]
      .mapPartitions(_.flatMap { case (id, nc) =>
        decodeVideoSampled(id, encodeVideo(id, nc))
      })
      .toDF()
      .orderBy("doc_id", "frame_idx")
  }

  /** Attach a fake binary "media" column + metadata struct to documents —
    * the multimodal table shape (text + binary + typed metadata in one
    * row).
    */
  def withMediaColumns(docs: DataFrame): DataFrame =
    docs
      .withColumn("media", col("text").cast("binary"))
      .withColumn("media_meta", struct(
        length(col("text").cast("binary")).cast("long").as("n_bytes"),
        lit("fake/raw").as("mime"),
        (col("doc_id") % 4).cast("int").as("channel")))

  /** Batched per-partition decode over the REAL BMP assets: iterator
    * in, iterator out, per-partition codec init — every output field
    * recovered from the bytes by [[decodeBmp]], nothing carried along
    * from the document row except the key.
    */
  def decodeFeatures(spark: SparkSession, docs: DataFrame): Dataset[MediaFeatures] = {
    import spark.implicits._
    bmpAssets(spark, docs)
      .mapPartitions { it =>
        // per-partition init happens here (a real codec opens once)
        it.map { a =>
          val (w, h, sum, wsum) = decodeBmp(a.media)
          MediaFeatures(a.doc_id, a.media.length.toLong, w, h, sum, wsum)
        }
      }
  }

  /** Oracle-checkable metadata projection: byte length and first byte of
    * the binary column (ASCII fixture text ⇒ octet_length == length).
    */
  def mediaMeta(s: SparkSession, d: String): DataFrame =
    withMediaColumns(Sources.documents(s, d))
      .select(
        col("doc_id"),
        length(col("media")).cast("long").as("n_bytes"),
        ascii(substring(col("text"), 1, 1)).cast("long").as("first_byte"),
        col("media_meta.channel").cast("long").as("channel"),
      )
      .orderBy("doc_id")

  /** The real decode pipeline as a query (`mm_decode_bmp`): encode each
    * document as a genuine BMP, then DECODE the bytes and ship what the
    * decoder recovered. The oracle predicts every column from the pixel
    * contract alone (header arithmetic + integer pixel formula), so the
    * hash check certifies the byte-level parse: file length, little-
    * endian header dims, stride padding, and — via the raster-weighted
    * `pix_wsum` — the bottom-up row un-flip.
    */
  def mediaDecodeBmp(s: SparkSession, d: String): DataFrame = {
    val ds = decodeFeatures(s, Sources.documents(s, d))
    ds.toDF()
      .select(col("doc_id"), col("n_bytes"),
        col("width").cast("long").as("width"), col("height").cast("long").as("height"),
        col("pix_sum"), col("pix_wsum"))
      .orderBy("doc_id")
  }

  /** Frame sampling over a media blob: treat the payload as fixed-width
    * 16-byte "frames", keep every 4th, fingerprint each kept frame — the
    * plan shape of video frame-sampling (explode positions → slice bytes →
    * per-frame feature). A real decoder swaps the substring for codec
    * frame extraction; the distribution story is identical: one generator
    * per row, output rows ∝ sampled frames, no driver involvement. ASCII
    * fixture text ⇒ bytes == characters, which keeps it oracle-checkable.
    */
  def frameSample(s: SparkSession, d: String): DataFrame =
    Sources.documents(s, d)
      .select(col("doc_id"), col("text"),
        explode(expr("sequence(0L, (length(text) - 1) div 16)")).as("frame_id"))
      .filter(col("frame_id") % 4 === 0)
      .withColumn("frame", expr("substring(text, cast(frame_id * 16 + 1 as int), 16)"))
      .select(col("doc_id"), col("frame_id"),
        length(col("frame")).cast("long").as("frame_bytes"),
        aggregate(split(col("frame"), ""), lit(0L),
          (acc, c) => (acc * 31 + ascii(c)) % 1000000007L).as("frame_fp"))
      .orderBy("doc_id", "frame_id")

  /** Media near-dup via sampled-frame fingerprint overlap — the video/
    * audio dedup shape: two assets are candidate duplicates when a large
    * fraction of their sampled frames fingerprint identically (tolerant
    * of local edits, since only the touched frames change). Candidates
    * come from an INVERTED-INDEX equi-join on the frame fingerprint —
    * never an asset×asset comparison; fingerprints shared by more than
    * `dfCap` assets are boilerplate (intros, silence, black frames) and
    * are dropped from the index, exactly like the df cap in text
    * decontamination. Overlap = shared / min(frames), on exact integers.
    */
  def frameOverlapPairs(s: SparkSession, d: String): DataFrame = {
    val dfCap = 50
    // (doc_id, frame_id) is unique by construction; matching keys on
    // (frame_id, frame_fp) makes the overlap POSITION-ALIGNED, the
    // standard temporal-alignment assumption of video dedup
    val frames = frameSample(s, d)
      .select(col("doc_id"), col("frame_id"), col("frame_fp"))
    val counts = frames.groupBy("doc_id")
      .agg(count(lit(1)).as("n_frames"))
    val rare = frames.join(
      frames.groupBy("frame_id", "frame_fp").agg(count(lit(1)).as("df"))
        .filter(col("df") <= dfCap),
      Seq("frame_id", "frame_fp"))
    val shared = rare.select(col("doc_id").as("id_a"), col("frame_id"), col("frame_fp"))
      .join(rare.select(col("doc_id").as("id_b"), col("frame_id"), col("frame_fp")),
        Seq("frame_id", "frame_fp"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_shared"))
    shared
      .join(counts.select(col("doc_id").as("id_a"), col("n_frames").as("nf_a")), "id_a")
      .join(counts.select(col("doc_id").as("id_b"), col("n_frames").as("nf_b")), "id_b")
      .withColumn("overlap", round(col("n_shared").cast("double") /
        least(col("nf_a"), col("nf_b")).cast("double"), 4))
      .filter(col("overlap") >= 0.5)
      .select("id_a", "id_b", "n_shared", "overlap")
      .orderBy("id_a", "id_b")
  }

  /** One decoded image summary: dims plus the two raster-weighted
    * r+g+b statistics, every field recovered from the bytes.
    */
  final case class PngFeatures(
      doc_id: Long, width: Long, height: Long, pix_sum: Long, pix_wsum: Long)

  /** Render a document's [[pixel]] raster (dims from the shared media
    * contract: w = 4 + n_chars%13, h = 3 + n_chars%7) as an 8-bit
    * truecolor PNG through ImageIO's PNG writer.
    */
  private[ops] def encodePng(id: Long, nChars: Long): Array[Byte] = {
    val w = (4 + nChars % 13).toInt
    val h = (3 + nChars % 7).toInt
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    var p = 0
    while (p < w * h) {
      val (r, g, b) = pixel(id, p.toLong)
      img.setRGB(p % w, p / w, (r << 16) | (g << 8) | b)
      p += 1
    }
    val bytes = new ByteArrayOutputStream()
    val out = new MemoryCacheImageOutputStream(bytes)
    try require(ImageIO.write(img, "png", out), "no ImageIO PNG writer")
    finally out.close()
    bytes.toByteArray
  }

  /** Decode image bytes with `javax.imageio` to (w, h, pix_sum,
    * pix_wsum): per-pixel r+g+b in raster order, `pix_wsum` weighting
    * each pixel by its 1-based index. The stream is memory-cached, so
    * no temp file and no JVM-global ImageIO setting is involved. Throws
    * on bytes no reader accepts (naming the doc) and, as ImageIO's
    * `IIOException`, on a stream cut short. ImageIO does not verify PNG
    * chunk CRCs; the bytes here are always the engine's own.
    */
  private[ops] def imageFeatures(id: Long, bytes: Array[Byte]): (Int, Int, Long, Long) = {
    // read() closes the stream itself, except when it returns null
    val in = new MemoryCacheImageInputStream(new ByteArrayInputStream(bytes))
    val img = ImageIO.read(in)
    if (img == null) {
      in.close()
      throw new IllegalArgumentException(s"doc $id: no ImageIO reader accepts the image bytes")
    }
    val w = img.getWidth
    val h = img.getHeight
    val argb = img.getRGB(0, 0, w, h, null, 0, w)
    var sum = 0L; var wsum = 0L
    var p = 0
    while (p < argb.length) {
      val v = argb(p)
      val rgb = ((v >> 16) & 0xff) + ((v >> 8) & 0xff) + (v & 0xff)
      sum += rgb; wsum += (p + 1).toLong * rgb
      p += 1
    }
    (w, h, sum, wsum)
  }

  /** PNG decode as a query (`mm_decode_png`): render each document's
    * [[pixel]] raster as a PNG ([[encodePng]]) and decode the bytes with
    * [[imageFeatures]]. The oracle predicts the dims and both
    * raster-weighted pixel statistics from the pixel contract alone, so
    * the hash check certifies the lossless deflate round trip. Same
    * batched `mapPartitions` codec shape as the BMP/WAV passes:
    * per-pixel rows never leave the task.
    */
  def mediaDecodePng(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Sources.documents(s, d)
      .select(col("doc_id"), col("n_chars").cast("long"))
      .as[(Long, Long)]
      .mapPartitions(_.map { case (id, nc) =>
        val (w, h, sum, wsum) = imageFeatures(id, encodePng(id, nc))
        PngFeatures(id, w.toLong, h.toLong, sum, wsum)
      })
      .toDF().orderBy("doc_id")
  }

  /** GIF decode as a query (`mm_decode_gif`): encode each document as a
    * GIF87a with [[GifCodec]] (256-entry global color table,
    * variable-width LZW with mid-stream dictionary resets, ≤255-byte
    * sub-block framing) and decode it with [[imageFeatures]]. The
    * oracle predicts dims and pixel sums from the index/palette
    * formulas alone; the decoded values pass THROUGH the file's color
    * table, so a palette slip or a one-code LZW slip in the encoder
    * cannot hash-match.
    */
  def mediaDecodeGif(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Sources.documents(s, d)
      .select(col("doc_id"), col("n_chars").cast("long"))
      .as[(Long, Long)]
      .mapPartitions(_.map { case (id, nc) =>
        val (w, h, sum, wsum) = imageFeatures(id, GifCodec.encodeGif(id, nc))
        PngFeatures(id, w.toLong, h.toLong, sum, wsum)
      })
      .toDF().orderBy("doc_id")
  }

  /** Transform-coder decode as a query (`mm_decode_jpeg`): encode each
    * document as a DC-only baseline JFIF (real Annex K Huffman
    * streams, DRI=3 restart markers, 0xFF00 stuffing, planted COM
    * junk) and DECODE it with [[JpegCodec]]. The oracle predicts dims
    * and the gray sums from the per-block formula alone — constant
    * blocks make the DCT round trip exact (S₀₀ = 8·(g−128), quantizer
    * 8), so the hash gate certifies the full marker walk + MSB-first
    * magnitude-category Huffman decode + predictor resets. Third
    * entropy-coder family next to PNG (Huffman+LZ77) and GIF (LZW).
    */
  def mediaDecodeJpeg(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Sources.documents(s, d)
      .select(col("doc_id"), col("n_chars").cast("long"))
      .as[(Long, Long)]
      .mapPartitions(_.map { case (id, nc) =>
        val (w, h, sum, wsum) = JpegCodec.decodeJpeg(JpegCodec.encodeJpeg(id, nc))
        PngFeatures(id, w.toLong, h.toLong, sum, wsum)
      })
      .toDF().orderBy("doc_id")
  }

  /** Full-baseline JPEG decode with AC coefficients
    * (`mm_decode_jpeg_ac`, r13 — closing the r12 DC-only asterisk):
    * encode each document with REAL run-length/magnitude AC entropy
    * coding ([[JpegCodec.encodeJpegAc]] — ZRL, EOB, categories 1–5
    * both signs, DRI=3 restarts, stuffing) and decode through the
    * parsed Annex K tables plus the PUBLISHED fixed-point integer IDCT
    * ([[JpegCodec.idctBlock]]: T = round(2¹⁰·C(u)/2·cos), floor((Σ +
    * 2¹⁹)/2²⁰), clamp). The oracle recomputes the quantized
    * coefficients from the published zigzag-space formula and replays
    * the identical integer IDCT — no irrational ever leaves the
    * lattice, so the hash gate certifies the complete baseline entropy
    * decode AND the transform, not just markers.
    */
  def mediaDecodeJpegAc(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Sources.documents(s, d)
      .select(col("doc_id"), col("n_chars").cast("long"))
      .as[(Long, Long)]
      .mapPartitions(_.map { case (id, nc) =>
        val (w, h, sum, wsum) = JpegCodec.decodeJpegAc(JpegCodec.encodeJpegAc(id, nc))
        PngFeatures(id, w.toLong, h.toLong, sum, wsum)
      })
      .toDF().orderBy("doc_id")
  }

  /** Published fixed-point DFT basis, 16-phase: for bin k (k/16 cycles
    * per sample), c_k(p) = round(2¹⁰·cos(2πkp/16)) and
    * s_k(p) = round(2¹⁰·sin(2πkp/16)) — the [[JpegCodec.idctT]]
    * discipline applied to spectral analysis: both engines share the
    * 128 integer constants verbatim, so the bin energies are exact
    * BIGINTs end-to-end.
    */
  private[ops] val dftCos: Map[Int, Array[Long]] = Map(
    1 -> Array(1024L, 946, 724, 392, 0, -392, -724, -946, -1024, -946, -724, -392, 0, 392, 724, 946),
    2 -> Array(1024L, 724, 0, -724, -1024, -724, 0, 724, 1024, 724, 0, -724, -1024, -724, 0, 724),
    3 -> Array(1024L, 392, -724, -946, 0, 946, 724, -392, -1024, -392, 724, 946, 0, -946, -724, 392),
    4 -> Array(1024L, 0, -1024, 0, 1024, 0, -1024, 0, 1024, 0, -1024, 0, 1024, 0, -1024, 0))

  private[ops] val dftSin: Map[Int, Array[Long]] = Map(
    1 -> Array(0L, 392, 724, 946, 1024, 946, 724, 392, 0, -392, -724, -946, -1024, -946, -724, -392),
    2 -> Array(0L, 724, 1024, 724, 0, -724, -1024, -724, 0, 724, 1024, 724, 0, -724, -1024, -724),
    3 -> Array(0L, 946, 724, -392, -1024, -392, 724, 946, 0, -946, -724, 392, 1024, 392, -724, -946),
    4 -> Array(0L, 1024, 0, -1024, 0, 1024, 0, -1024, 0, 1024, 0, -1024, 0, 1024, 0, -1024))

  final case class DftBins(
      doc_id: Long, n_samples: Long,
      re1: Long, im1: Long, e1: Long, re2: Long, im2: Long, e2: Long,
      re3: Long, im3: Long, e3: Long, re4: Long, im4: Long, e4: Long)

  /** Fixed-point spectral bin energies (`mm_audio_dft_bins`, r13): the
    * Goertzel/DFT feature every audio triage pass wants (tone vs
    * noise, hum detection, bandwidth probes) — four bins at k/16
    * cycles per sample over the REAL decoded WAV container (chunk
    * walk, LIST skip, PCM16), re_k = Σ x_t·c_k(t mod 16), im_k with
    * the sine table, energy = re² + im² — exact BIGINTs (|x| ≤ 1000,
    * |c| ≤ 1024, n ≤ 150 ⇒ |re| ≤ 1.5e8, e ≤ 4.7e16). The oracle
    * replays from the amplitude FORMULA + the same published tables;
    * it never sees the RIFF container, so a hash-PASS certifies the
    * chunk walk and the spectral reduction together. Same
    * one-codec-pass mapPartitions shape as the other decoders.
    */
  def audioDftBins(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Sources.documents(s, d)
      .select(col("doc_id"), col("n_chars").cast("long"))
      .as[(Long, Long)]
      .mapPartitions(_.map { case (id, nc) =>
        val (_, xs) = wavSamples(encodeWav(id, nc))
        def bin(k: Int): (Long, Long, Long) = {
          val c = dftCos(k); val sn = dftSin(k)
          var re = 0L; var im = 0L; var t = 0
          while (t < xs.length) {
            re += xs(t).toLong * c(t % 16)
            im += xs(t).toLong * sn(t % 16)
            t += 1
          }
          (re, im, re * re + im * im)
        }
        val (r1, i1, e1) = bin(1); val (r2, i2, e2) = bin(2)
        val (r3, i3, e3) = bin(3); val (r4, i4, e4) = bin(4)
        DftBins(id, xs.length.toLong, r1, i1, e1, r2, i2, e2, r3, i3, e3, r4, i4, e4)
      })
      .toDF().orderBy("doc_id")
  }

  /** 16-bin brightness histogram (`mm_image_histogram`, r13): per
    * decoded BMP, the pixel census over bins of the rgb-sum (div 48 —
    * max 765 ⇒ bins 0..15) — the first feature an image-curation
    * triage computes (black-frame / blown-out / low-contrast
    * detection). Long-format output (one row per non-empty bin), exact
    * integers; the oracle replays the pixel formula and never sees the
    * container.
    */
  def imageHistogram(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Sources.documents(s, d)
      .select(col("doc_id"), col("n_chars").cast("long"))
      .as[(Long, Long)]
      .mapPartitions(_.flatMap { case (id, nc) =>
        val (_, _, px) = bmpPixels(encodeBmp(id, nc))
        px.groupBy(_ / 48).toSeq.sortBy(_._1).map { case (bin, vs) =>
          (id, bin.toLong, vs.length.toLong)
        }
      })
      .toDF("doc_id", "bin", "n_pixels")
      .orderBy("doc_id", "bin")
  }

  /** Published (cos, sin)·1e4 table for the 8 Hough angles θ = k·π/8 —
    * integer constants in BOTH engines, so the accumulator is exact.
    */
  private[ops] val houghAngles: Seq[(Int, Long, Long)] = Seq(
    (0, 10000L, 0L), (1, 9239L, 3827L), (2, 7071L, 7071L),
    (3, 3827L, 9239L), (4, 0L, 10000L), (5, -3827L, 9239L),
    (6, -7071L, 7071L), (7, -9239L, 3827L))

  /** Hough line-transform census (`mm_image_hough`, r13): the classic
    * ρ = x·cosθ + y·sinθ voting accumulator (Duda & Hart 1972) over
    * the decoded images' edge pixels (brightness ≥ 400 of the 765
    * max), at 8 published angles — the structure-detection primitive
    * behind deskewing and layout analysis in document-image pipelines.
    * Exact-integer shape: the angle table is published as (cos, sin)
    * ·1e4 integer constants, and the ρ bin is ((x·cos_e4 + y·sin_e4 +
    * 205000) div 10000) — the +205000 offset keeps the dividend
    * POSITIVE at every representable coordinate, because Spark's `div`
    * truncates toward zero while DuckDB's `//` floors: on a negative
    * dividend the two engines would disagree by one bin (the
    * agg_bowley_skew divergence class, dodged by construction instead
    * of by a mirrored round — no doubles needed anywhere). Votes
    * accumulate per (angle, ρ) across the corpus; the per-angle census
    * releases the bin count, the winning bin (max votes, min-ρ ties —
    * a two-pass hash-agg argmax, never a window over the accumulator)
    * and its vote mass. Per-doc vote emission stays inside the codec
    * `mapPartitions` pass; only (angle, ρ, count) partials leave.
    */
  def imageHough(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val votes = Sources.documents(s, d)
      .select(col("doc_id"), col("n_chars").cast("long"))
      .as[(Long, Long)]
      .mapPartitions { it =>
        val acc = scala.collection.mutable.Map[(Int, Long), Long]()
        it.foreach { case (id, nc) =>
          val (w, h, px) = bmpPixels(encodeBmp(id, nc))
          var p = 0
          while (p < w * h) {
            if (px(p) >= 400) {
              val x = (p % w).toLong
              val y = (p / w).toLong
              houghAngles.foreach { case (k, c, sn) =>
                val rho = (x * c + y * sn + 205000L) / 10000L
                val key = (k, rho)
                acc(key) = acc.getOrElse(key, 0L) + 1L
              }
            }
            p += 1
          }
        }
        acc.iterator.map { case ((k, rho), n) => (k.toLong, rho, n) }
      }
      .toDF("k", "rho", "n")
      .groupBy("k", "rho").agg(sum("n").as("votes"))
    val pinned = graft.io.Checkpoints.pin(votes, eager = false)
    val mx = pinned.groupBy("k").agg(max("votes").as("votes"))
    val top = pinned.join(broadcast(mx), Seq("k", "votes"))
      .groupBy("k", "votes").agg(min("rho").as("top_rho"))
    pinned.groupBy("k")
      .agg(sum("votes").as("n_edge_votes"), count(lit(1)).as("n_bins"))
      .join(top.select(col("k"), col("votes").as("max_votes"),
        col("top_rho")), "k")
      .orderBy("k")
  }

  /** Sobel gradient energy (`mm_image_sobel`, r13): the 3×3 integer
    * Sobel kernels over the decoded brightness grid — gradient
    * magnitude as |Gx| + |Gy| (the L1 form: stays an exact integer;
    * the L2 form would need a sqrt), summed and maxed over the
    * INTERIOR pixels (the border has no 3×3 neighborhood — excluded
    * identically by both engines). Blur/edge-density screening is the
    * standard image-quality triage next to the histogram. Everything
    * BIGINT; the oracle replays the pixel formula + the same kernels
    * via a 9-row offset join.
    */
  def imageSobel(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Sources.documents(s, d)
      .select(col("doc_id"), col("n_chars").cast("long"))
      .as[(Long, Long)]
      .mapPartitions(_.map { case (id, nc) =>
        val (w, h, px) = bmpPixels(encodeBmp(id, nc))
        def g(x: Int, y: Int): Long = px(y * w + x).toLong
        var gradSum = 0L
        var gradMax = 0L
        var n = 0L
        var y = 1
        while (y < h - 1) {
          var x = 1
          while (x < w - 1) {
            val gx = -g(x - 1, y - 1) + g(x + 1, y - 1) - 2 * g(x - 1, y) +
              2 * g(x + 1, y) - g(x - 1, y + 1) + g(x + 1, y + 1)
            val gy = -g(x - 1, y - 1) - 2 * g(x, y - 1) - g(x + 1, y - 1) +
              g(x - 1, y + 1) + 2 * g(x, y + 1) + g(x + 1, y + 1)
            val m = math.abs(gx) + math.abs(gy)
            gradSum += m
            if (m > gradMax) gradMax = m
            n += 1
            x += 1
          }
          y += 1
        }
        (id, w.toLong, h.toLong, n, gradSum, gradMax)
      })
      .toDF("doc_id", "width", "height", "n_interior", "grad_sum", "grad_max")
      .orderBy("doc_id")
  }

  /** Fixed-point 2× bilinear upsample (`mm_image_upsample`, r13): the
    * resize direction [[resizePool]]'s 2×2 average pool can't cover —
    * super-resolution preprocessing (thumbnail → model input size)
    * upsamples. Midpoint bilinear on the brightness grid (rgb-sum) at
    * the ×4 fixed-point lattice, so every output sample is an exact
    * integer: on the (2w−1)×(2h−1) grid, even/even = 4·v, odd/even =
    * 2·(left+right), even/odd = 2·(top+bottom), odd/odd = the 4-corner
    * sum — the standard separable bilinear weights (1, ½, ¼) with the
    * denominator published instead of divided away (the codec family's
    * no-irrationals discipline). Ships per-doc aggregates (sum, max,
    * and a position-weighted mod-97 checksum that pins every sample to
    * its coordinate); the batched mapPartitions decode keeps the
    * per-row work allocation-free, the plan a single corpus scan.
    */
  def imageUpsample(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Sources.documents(s, d)
      .select(col("doc_id"), col("n_chars").cast("long"))
      .as[(Long, Long)]
      .mapPartitions(_.map { case (id, nc) =>
        val (w, h, px) = bmpPixels(encodeBmp(id, nc))
        val ow = 2 * w - 1
        val oh = 2 * h - 1
        def v(x: Int, y: Int): Long = px(y * w + x).toLong
        var sum = 0L
        var max = 0L
        var chk = 0L
        var yy = 0
        while (yy < oh) {
          var xx = 0
          while (xx < ow) {
            val (x, y) = (xx / 2, yy / 2)
            val u =
              if (xx % 2 == 0 && yy % 2 == 0) 4L * v(x, y)
              else if (yy % 2 == 0) 2L * (v(x, y) + v(x + 1, y))
              else if (xx % 2 == 0) 2L * (v(x, y) + v(x, y + 1))
              else v(x, y) + v(x + 1, y) + v(x + 1, y + 1) + v(x, y + 1)
            sum += u
            if (u > max) max = u
            chk += u * ((yy.toLong * ow + xx) % 97L)
            xx += 1
          }
          yy += 1
        }
        (id, ow.toLong, oh.toLong, sum, max, chk)
      })
      .toDF("doc_id", "out_w", "out_h", "sum_u4", "max_u4", "chk_u4")
      .orderBy("doc_id")
  }

  /** Scene-cut detection (`mm_video_scene_cuts`, r13): walk the GVID
    * container, decode EVERY frame's brightness sum with the real BMP
    * codec, and flag a cut wherever the absolute frame-to-frame
    * brightness delta exceeds the published threshold 900 — the
    * first-pass shot segmentation every video-curation pipeline runs
    * before sampling keyframes (cuts, not uniform stride, decide what
    * a caption model sees). Unlike [[decodeVideoSampled]] this pass
    * must decode every frame (a cut needs both neighbors) — the honest
    * cost, noted against the sampled walker. Per-doc exact integers:
    * frame count, cut count, max/sum of deltas.
    */
  def videoSceneCuts(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cutT = 900L
    Sources.documents(s, d)
      .select(col("doc_id"), col("n_chars").cast("long"))
      .as[(Long, Long)]
      .mapPartitions(_.map { case (id, nc) =>
        val bytes = encodeVideo(id, nc)
        val frames = gvidFrames(bytes)
        var prev = -1L
        var nCuts = 0L; var maxD = 0L; var sumD = 0L
        frames.foreach { fr =>
          val (_, _, pixSum, _) = decodeBmp(fr.bmp(bytes))
          if (prev >= 0) {
            val dd = math.abs(pixSum - prev)
            if (dd > cutT) nCuts += 1
            if (dd > maxD) maxD = dd
            sumD += dd
          }
          prev = pixSum
        }
        (id, frames.length.toLong, nCuts, maxD, sumD)
      })
      .toDF("doc_id", "n_frames", "n_cuts", "max_diff", "sum_diff")
      .orderBy("doc_id")
  }

  /** Motion energy (`mm_video_motion_energy`, r13): per-PIXEL
    * per-CHANNEL absolute frame deltas over the real GVID container —
    * the motion statistic [[videoSceneCuts]]' brightness-sum delta
    * cannot express (equal-brightness frames with moved content score 0
    * there; here every channel change counts — the shot-boundary /
    * static-clip triage a video-curation pipeline runs before sampling
    * training frames). Decodes EVERY frame's raw B,G,R raster (honest
    * all-frames cost, like the scene-cut walker) inside the codec
    * `mapPartitions` pass; per consecutive pair md = Σ_p Σ_ch |c−c′|,
    * shipping sum/max/min over pairs — all exact BIGINTs, so the
    * oracle replays the pixel formula per channel. Per-pixel rows
    * never shuffle (the framed-RMS discipline).
    */
  def videoMotionEnergy(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Sources.documents(s, d)
      .select(col("doc_id"), col("n_chars").cast("long"))
      .as[(Long, Long)]
      .mapPartitions(_.map { case (id, nc) =>
        val bytes = encodeVideo(id, nc)
        val frames = gvidFrames(bytes)
        var prev: Array[Int] = null
        var sumM = 0L; var maxM = 0L; var minM = Long.MaxValue
        var pairs = 0L
        frames.foreach { fr =>
          val cur = bmpChannels(fr.bmp(bytes))._3
          if (prev != null) {
            var md = 0L
            var i = 0
            while (i < cur.length) {
              md += math.abs(cur(i) - prev(i)); i += 1
            }
            sumM += md; if (md > maxM) maxM = md; if (md < minM) minM = md
            pairs += 1
          }
          prev = cur
        }
        (id, frames.length.toLong, pairs, sumM, maxM, if (pairs == 0) 0L else minM)
      })
      .toDF("doc_id", "n_frames", "n_pairs", "motion_sum", "motion_max",
        "motion_min")
      .orderBy("doc_id")
  }

  /** 3-3-2 palette quantization (`mm_image_quantize`, r13): collapse
    * each decoded pixel to the uniform 256-color RRRGGGBB palette
    * (q = 32·(r div 32) + 4·(g div 32) + (b div 64)) and reconstruct at
    * the published cell midpoints (r' = 32·(r div 32) + 16, b' at +32)
    * — the thumbnail/dedup-preprocessing color reduction, with the
    * quantization-error census (Σ|c − c'| per doc, exact BIGINT) as
    * the quality audit and the dominant palette cell (max count, min
    * index) as the cheap color signature. All integer; the oracle
    * replays the pixel formula through the identical div lattice. Runs
    * over REAL decoded containers inside the codec `mapPartitions`
    * pass — per-pixel rows never shuffle.
    */
  def imageQuantize(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Sources.documents(s, d)
      .select(col("doc_id"), col("n_chars").cast("long"))
      .as[(Long, Long)]
      .mapPartitions(_.map { case (id, nc) =>
        val (w, h, ch) = bmpChannels(encodeBmp(id, nc))
        val counts = new Array[Long](256)
        var err = 0L
        var p = 0
        while (p < w * h) {
          val b = ch(3 * p); val g = ch(3 * p + 1); val r = ch(3 * p + 2)
          val q = 32 * (r / 32) + 4 * (g / 32) + (b / 64)
          counts(q) += 1
          err += math.abs(r - (32 * (r / 32) + 16)) +
            math.abs(g - (32 * (g / 32) + 16)) +
            math.abs(b - (64 * (b / 64) + 32))
          p += 1
        }
        val nColors = counts.count(_ > 0).toLong
        var topQ = 0; var topC = -1L
        var i = 0
        while (i < 256) {
          if (counts(i) > topC) { topC = counts(i); topQ = i }
          i += 1
        }
        (id, (w * h).toLong, nColors, topQ.toLong, topC, err)
      })
      .toDF("doc_id", "n_pixels", "n_colors", "top_q", "top_count", "err_sum")
      .orderBy("doc_id")
  }

  /** Clipping census (`mm_audio_clipping`, r13): per clip, how many
    * samples sit at or above the published 99 %-of-full-scale floor
    * (|v| ≥ 990 on the ±1000 fixture scale), the LONGEST consecutive
    * clipped run, and the first clipped sample index (−1 sentinel when
    * clean) — the recording-quality triage an ASR pipeline runs before
    * wasting GPU on saturated audio (isolated peaks are fine; long
    * clipped runs mean irrecoverable distortion). Decodes the real
    * RIFF bytes in the codec `mapPartitions` pass; the sequential
    * run-length scan is per-clip local, and the oracle replays it as
    * per-doc gaps-and-islands over the amplitude formula. All exact
    * integers.
    */
  def audioClipping(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Sources.documents(s, d)
      .select(col("doc_id"), col("n_chars").cast("long"))
      .as[(Long, Long)]
      .mapPartitions(_.map { case (id, nc) =>
        val (_, samples) = wavSamples(encodeWav(id, nc))
        var nClip = 0L; var longest = 0L; var run = 0L; var first = -1L
        var t = 0
        while (t < samples.length) {
          if (math.abs(samples(t)) >= 990) {
            nClip += 1; run += 1
            if (run > longest) longest = run
            if (first < 0) first = t.toLong
          } else run = 0
          t += 1
        }
        (id, samples.length.toLong, nClip, longest, first)
      })
      .toDF("doc_id", "n_samples", "n_clipped", "longest_run", "first_clip")
      .orderBy("doc_id")
  }

  /** Silence trimming (`mm_audio_trim`, r13): the head/tail silence
    * strip every ASR ingest runs before windowing — decode the real
    * RIFF/WAVE bytes (chunk walk, LIST skip), classify samples silent
    * at |v| < 100 (published), and report the leading/trailing silent
    * runs plus the kept segment's census. All exact integers; the
    * all-silent edge collapses to (lead = n, tail = 0, kept = 0) by
    * published convention, mirrored in the oracle's coalesce.
    */
  def audioTrim(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Sources.documents(s, d)
      .select(col("doc_id"), col("n_chars").cast("long"))
      .as[(Long, Long)]
      .mapPartitions(_.map { case (id, nc) =>
        val (_, samples) = wavSamples(encodeWav(id, nc))
        val n = samples.length
        val loud = samples.indices.filter(t => math.abs(samples(t)) >= 100)
        if (loud.isEmpty) (id, n.toLong, n.toLong, 0L, 0L, 0L)
        else {
          val lead = loud.head.toLong
          val tail = (n - 1 - loud.last).toLong
          val kept = samples.slice(loud.head, loud.last + 1)
          (id, n.toLong, lead, tail, kept.length.toLong,
            kept.map(v => math.abs(v).toLong).sum)
        }
      })
      .toDF("doc_id", "n_samples", "lead_trim", "tail_trim", "n_kept",
        "kept_abs_sum")
      .orderBy("doc_id")
  }

  /** Connected-component blob census (`mm_image_blobs`, r13): binary
    * segmentation — threshold the decoded brightness grid at half
    * scale (rgb-sum ≥ 384) and label the 4-adjacent foreground
    * components — the image-side instance of the pairs→groups verb the
    * engine already runs corpus-wide ([[Dedup]]'s large/small-star,
    * `geo_grid_dbscan`): object counting / mask extraction is the
    * first step of any detection-style curation filter. The crucial
    * scale point: components here are IMAGE-LOCAL, so the right plan
    * is a per-image union-find INSIDE the codec `mapPartitions` pass
    * (one array pass, min-root union keeps labels deterministic =
    * each blob's minimum pixel index), NOT a corpus-wide edge shuffle
    * — a 100 TB image corpus is millions of independent small CC
    * problems, embarrassingly parallel per row, and per-pixel rows
    * never leave the task. The corpus-wide CC machinery stays for
    * graphs that genuinely span rows. Ships per-doc: foreground
    * census, blob count, largest blob, and Σ(min pixel index) which
    * pins the full labeling under the hash gate; the DuckDB oracle
    * replays the pixel formula and closes the same 4-adjacency with a
    * recursive CTE — transitive-closure reachability per image, blob
    * id = min reachable index, proving the union-find agrees with the
    * declarative fixpoint on every image.
    */
  def imageBlobs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Sources.documents(s, d)
      .select(col("doc_id"), col("n_chars").cast("long"))
      .as[(Long, Long)]
      .mapPartitions(_.map { case (id, nc) =>
        val (w, h, px) = bmpPixels(encodeBmp(id, nc))
        val n = w * h
        val fg = new Array[Boolean](n)
        var i = 0
        while (i < n) { fg(i) = px(i) >= 384; i += 1 }
        val parent = Array.tabulate(n)(identity)
        def find(a: Int): Int = {
          var x = a
          while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
          x
        }
        def union(a: Int, b: Int): Unit = {
          val ra = find(a); val rb = find(b)
          if (ra != rb) { // min root wins → final root = min index of blob
            if (ra < rb) parent(rb) = ra else parent(ra) = rb
          }
        }
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val p = y * w + x
            if (fg(p)) {
              if (x + 1 < w && fg(p + 1)) union(p, p + 1)
              if (y + 1 < h && fg(p + w)) union(p, p + w)
            }
            x += 1
          }
          y += 1
        }
        val sizes = scala.collection.mutable.HashMap.empty[Int, Long]
        var nFg = 0L
        i = 0
        while (i < n) {
          if (fg(i)) { nFg += 1; val r = find(i); sizes(r) = sizes.getOrElse(r, 0L) + 1L }
          i += 1
        }
        (id, w.toLong, h.toLong, nFg, sizes.size.toLong,
          if (sizes.isEmpty) 0L else sizes.values.max,
          sizes.keysIterator.map(_.toLong).sum)
      })
      .toDF("doc_id", "width", "height", "n_fg", "n_blobs", "max_blob",
        "sum_min_idx")
      .orderBy("doc_id")
  }

  /** Ordered (Bayer 4×4) dithering census (`mm_image_dither_bayer`,
    * r13): the halftoning verb — reduce the decoded brightness grid to
    * 1 bit/pixel through the published index-4 Bayer matrix, the
    * classic spatially-stable binarization (used for thumbnail
    * sketches and perceptual prefilters; unlike Floyd-Steinberg
    * error diffusion it has NO sequential dependency, so it is
    * per-pixel parallel — exactly why it is the variant a distributed
    * engine ships). Pixel (x, y) fires iff 32·v > (2·M(x%4, y%4)+1)·765
    * — the exact-integer cross-multiplication of v/765 > (M+½)/16, so
    * no rational ever leaves the lattice. Ships the on-census and the
    * position-weighted sum that pins every fired pixel to its
    * coordinate; oracle replays matrix and comparison verbatim from a
    * 16-row VALUES table.
    */
  def imageDitherBayer(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val bayer = Array(0, 8, 2, 10, 12, 4, 14, 6, 3, 11, 1, 9, 15, 7, 13, 5)
    Sources.documents(s, d)
      .select(col("doc_id"), col("n_chars").cast("long"))
      .as[(Long, Long)]
      .mapPartitions(_.map { case (id, nc) =>
        val (w, h, px) = bmpPixels(encodeBmp(id, nc))
        var nOn = 0L
        var wsum = 0L
        var p = 0
        while (p < px.length) {
          val m = bayer((p / w % 4) * 4 + p % w % 4)
          if (32L * px(p) > (2L * m + 1L) * 765L) {
            nOn += 1; wsum += (p + 1).toLong
          }
          p += 1
        }
        (id, px.length.toLong, nOn, wsum)
      })
      .toDF("doc_id", "n_pixels", "n_on", "on_wsum")
      .orderBy("doc_id")
  }

  /** Integer ×2 decimation (`mm_audio_downsample`, r13): sample-rate
    * conversion — the audio twin of [[resizePool]]'s image downscale
    * and the normalization step every speech pipeline runs before
    * batching mixed-rate corpora. Adjacent sample pairs floor-average
    * on the +4000-shifted lattice (out = (s₀+s₁+4000) div 2 − 2000 —
    * the shift keeps the floored numerator nonnegative so Spark's
    * truncating `div` and DuckDB's flooring `//` agree, the
    * `sample_pps_systematic` rule); an odd trailing sample passes
    * through unaveraged (published convention). Decodes the REAL RIFF
    * container (chunk walk, LIST skip) inside the codec
    * `mapPartitions` pass — per-sample rows never shuffle; ships the
    * halved rate, output census, abs-sum/peak, and the
    * position-weighted checksum pinning every output sample.
    */
  def audioDownsample(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Sources.documents(s, d)
      .select(col("doc_id"), col("n_chars").cast("long"))
      .as[(Long, Long)]
      .mapPartitions(_.map { case (id, nc) =>
        val (sr, samples) = wavSamples(encodeWav(id, nc))
        val n = samples.length
        val nOut = (n + 1) / 2
        var absSum = 0L; var peak = 0L; var wsum = 0L
        var k = 0
        while (k < nOut) {
          val v: Long =
            if (2 * k + 1 < n)
              (samples(2 * k).toLong + samples(2 * k + 1).toLong + 4000L) / 2L - 2000L
            else samples(2 * k).toLong
          absSum += math.abs(v)
          if (math.abs(v) > peak) peak = math.abs(v)
          wsum += (k + 1).toLong * v
          k += 1
        }
        (id, sr.toLong / 2L, n.toLong, nOut.toLong, absSum, peak, wsum)
      })
      .toDF("doc_id", "sr_out", "n_in", "n_out", "abs_sum", "peak", "wsum")
      .orderBy("doc_id")
  }

  /** Keyframe selection (`mm_video_keyframes`, r13): the step AFTER
    * [[videoSceneCuts]] — segment each clip into scenes at the
    * published brightness-delta threshold (a cut with diff > 900
    * STARTS a new scene), then elect one representative frame per
    * scene: the brightest (max pix_sum, ties to the earliest frame —
    * a deterministic published convention). This is the
    * training-frame sampling policy a video-curation pipeline
    * actually ships: one frame per shot instead of a fixed stride
    * ([[decodeVideoSampled]]'s every-2nd), so long static shots stop
    * dominating the sample. Scene structure is clip-LOCAL — the
    * sequential walk lives inside the codec `mapPartitions` pass and
    * only scene rows leave the task; the oracle rebuilds scenes
    * declaratively (cumulative cut-flag sum over the frame window)
    * and elects the same argmax via a max-join, proving the two
    * formulations agree frame-for-frame.
    */
  def videoKeyframes(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cutT = 900L
    Sources.documents(s, d)
      .select(col("doc_id"), col("n_chars").cast("long"))
      .as[(Long, Long)]
      .mapPartitions(_.flatMap { case (id, nc) =>
        val bytes = encodeVideo(id, nc)
        val sums = gvidFrames(bytes).map(fr => decodeBmp(fr.bmp(bytes))._3)
        val nf = sums.length
        val rows = scala.collection.mutable.ArrayBuffer
          .empty[(Long, Long, Long, Long, Long, Long)]
        var scene = -1L
        var start = 0; var keyF = 0; var keyPs = -1L; var cnt = 0L
        def flush(): Unit = if (cnt > 0) {
          rows += ((id, scene, start.toLong, cnt, keyF.toLong, keyPs))
        }
        var f = 0
        while (f < nf) {
          if (f == 0 || math.abs(sums(f) - sums(f - 1)) > cutT) {
            flush()
            scene += 1; start = f; keyF = f; keyPs = sums(f); cnt = 0L
          }
          if (sums(f) > keyPs) { keyPs = sums(f); keyF = f }
          cnt += 1
          f += 1
        }
        flush()
        rows
      })
      .toDF("doc_id", "scene_id", "start_frame", "n_frames", "key_frame",
        "key_pixsum")
      .orderBy("doc_id", "scene_id")
  }

  /** Decoder fault-injection audit (`mm_decode_fuzz`, r13): corrupt
    * every BMP at three PUBLISHED byte positions and census how the
    * decoder responds — the contract [[decodeBmp]]' scaladoc claims
    * ("throws on anything that isn't the format it claims") made
    * measurable: 'magic' (byte 0 flipped) and 'bounds' (declared
    * height +100, pushing the pixel array past the payload) MUST
    * throw on every document; 'pixel' (the byte at 54 + (len−54) div
    * 7 flipped) MUST decode — pixel-region damage is not structural —
    * and the summed |Δ brightness| it induces is CLOSED-FORM (a flip
    * maps channel value v to 255−v, so Δ = |255−2v| when the byte is
    * a channel and 0 when it lands on stride padding), which is what
    * the oracle replays from the pixel formula without running any
    * decoder. A hash PASS therefore proves the engine's decode paths
    * fail and recover exactly where the format spec says they should.
    * Per-doc corruption + re-decode stays in the codec
    * `mapPartitions` pass; only 3 census rows leave.
    */
  def decodeFuzz(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Sources.documents(s, d)
      .select(col("doc_id"), col("n_chars").cast("long"))
      .as[(Long, Long)]
      .mapPartitions(_.flatMap { case (id, nc) =>
        val orig = encodeBmp(id, nc)
        val (_, _, origSum, _) = decodeBmp(orig)
        val h = (3 + nc % 7).toInt
        def attempt(cls: String, mutate: Array[Byte] => Unit) = {
          val b = orig.clone()
          mutate(b)
          try {
            val (_, _, sum2, _) = decodeBmp(b)
            (cls, 0L, 1L, math.abs(sum2 - origSum))
          } catch {
            case _: IllegalArgumentException => (cls, 1L, 0L, 0L)
          }
        }
        Seq(
          attempt("magic", b => b(0) = (b(0) ^ 0xff).toByte),
          attempt("bounds", b => le(b).putInt(22, h + 100)),
          attempt("pixel", { b =>
            val pos = 54 + (b.length - 54) / 7
            b(pos) = (b(pos) ^ 0xff).toByte
          }))
      })
      .toDF("corruption", "thrown", "ok", "delta")
      .groupBy("corruption")
      .agg(count(lit(1)).as("n_docs"), sum("thrown").as("n_throw"),
        sum("ok").as("n_ok"), sum("delta").as("sum_abs_delta"))
      .orderBy("corruption")
  }

  /** Global motion estimation (`mm_video_motion_vectors`, r13): the
    * block-matching core of every P-frame encoder — for each
    * consecutive frame pair, the shift (dx, dy) ∈ {−1,0,1}² whose SAD
    * (sum of absolute brightness differences) over the frame INTERIOR
    * is minimal, ties broken on (sad, dy, dx). Comparing over the
    * interior (x, y ∈ 1..dim−2) keeps the pixel count IDENTICAL for
    * every candidate shift, so raw integer SADs compare fairly — no
    * per-shift normalization, no doubles anywhere. Complements
    * [[videoMotionEnergy]] (which measures THAT pixels changed; this
    * estimates WHERE they went). Census per winning vector: picks and
    * SAD mass across all clips' frame pairs — 9 possible rows, the
    * motion-vector histogram a codec tuner reads. Per-pair work stays
    * in the codec mapPartitions pass; only (dy, dx, sad) rows leave.
    */
  def videoMotionVectors(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Sources.documents(s, d)
      .select(col("doc_id"), col("n_chars").cast("long"))
      .as[(Long, Long)]
      .mapPartitions(_.flatMap { case (id, nc) =>
        val bytes = encodeVideo(id, nc)
        var prev: Array[Int] = null
        var pw = 0
        val rows = scala.collection.mutable.ArrayBuffer
          .empty[(Long, Long, Long)]
        gvidFrames(bytes).foreach { fr =>
          val (w, h, px) = bmpPixels(fr.bmp(bytes))
          if (prev != null) {
            var best = Long.MaxValue
            var bdy = 0L
            var bdx = 0L
            var dy = -1
            while (dy <= 1) {
              var dx = -1
              while (dx <= 1) {
                var sad = 0L
                var y = 1
                while (y < h - 1) {
                  var x = 1
                  while (x < w - 1) {
                    sad += math.abs(px(y * w + x).toLong -
                      prev((y + dy) * pw + (x + dx)).toLong)
                    x += 1
                  }
                  y += 1
                }
                if (sad < best || (sad == best &&
                  (dy < bdy || (dy == bdy && dx < bdx)))) {
                  best = sad; bdy = dy; bdx = dx
                }
                dx += 1
              }
              dy += 1
            }
            rows += ((bdy, bdx, best))
          }
          prev = px
          pw = w
        }
        rows.iterator
      })
      .toDF("dy", "dx", "sad")
      .groupBy("dy", "dx")
      .agg(count(lit(1)).as("n_picks"), sum("sad").as("sum_sad"))
      .orderBy("dy", "dx")
  }

  /** Frame-pair SSIM (`mm_video_ssim`, r13): the structural-similarity
    * index between CONSECUTIVE frames of each clip — the standard
    * perceptual quality/change metric (Wang et al. 2004), here in its
    * global-frame form over the brightness grid: SSIM =
    * (2μ₁μ₂+C₁)(2σ₁₂+C₂) / ((μ₁²+μ₂²+C₁)(σ₁²+σ₂²+C₂)) with the
    * published constants C₁ = (0.01·765)², C₂ = (0.03·765)² (L = 765,
    * the rgb-sum range). Scene-cut deltas say how MUCH total
    * brightness moved; SSIM says whether the STRUCTURE changed
    * (luminance/contrast/covariance decomposition) — the pair is the
    * shot-boundary detector literature's baseline feature set. Per
    * frame pair the five power sums (S₁, S₂, Q₁, Q₂, P) accumulate as
    * exact BIGINTs inside the codec `mapPartitions` walk; SSIM is ONE
    * mirrored double per pair off those integers, rounded 6. Only
    * pair rows leave the task.
    */
  def videoSsim(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Sources.documents(s, d)
      .select(col("doc_id"), col("n_chars").cast("long"))
      .as[(Long, Long)]
      .mapPartitions(_.flatMap { case (id, nc) =>
        val bytes = encodeVideo(id, nc)
        var prev: Array[Int] = null
        val rows = scala.collection.mutable.ArrayBuffer
          .empty[(Long, Long, Long, Long, Long, Long, Long, Long)]
        gvidFrames(bytes).foreach { fr =>
          val (_, _, px) = bmpPixels(fr.bmp(bytes))
          if (prev != null) {
            var s1 = 0L; var s2 = 0L; var q1 = 0L; var q2 = 0L; var p = 0L
            var i = 0
            while (i < px.length) {
              val x = prev(i).toLong; val y = px(i).toLong
              s1 += x; s2 += y; q1 += x * x; q2 += y * y; p += x * y
              i += 1
            }
            rows += ((id, (fr.index - 1).toLong, px.length.toLong, s1, s2, q1, q2, p))
          }
          prev = px
        }
        rows
      })
      .toDF("doc_id", "f_idx", "n_px", "s1", "s2", "q1", "q2", "p")
      .withColumn("ssim", {
        def D(c: Column): Column = c.cast("double")
        val c1 = lit(58.5225); val c2 = lit(526.7025)
        val n = D(col("n_px"))
        val m1 = D(col("s1")) / n; val m2 = D(col("s2")) / n
        val v1 = D(col("q1")) / n - m1 * m1
        val v2 = D(col("q2")) / n - m2 * m2
        val cov = D(col("p")) / n - m1 * m2
        graft.functions.Num.roundNorm(
          (lit(2.0) * m1 * m2 + c1) * (lit(2.0) * cov + c2) /
            ((m1 * m1 + m2 * m2 + c1) * (v1 + v2 + c2)), 6)
      })
      .select("doc_id", "f_idx", "n_px", "s1", "s2", "q1", "q2", "p", "ssim")
      .orderBy("doc_id", "f_idx")
  }

  /** Perceptual difference hash (`mm_image_dhash`, r13): the dHash
    * image fingerprint — pool the decoded brightness grid onto a 4×3
    * integer cell lattice (cell membership gx = 4x div w, gy = 3y div
    * h — every cell is non-empty because the fixture dims are ≥ 4×3
    * and the maps are monotone onto; cell value = floor-average), then
    * one bit per ADJACENT-cell comparison: 9 horizontal (right >
    * left) + 8 vertical (down > up) gradient signs packed into one
    * 17-bit BIGINT. Gradient signs survive brightness/contrast shifts
    * that break exact byte hashes — this is the image twin of SimHash
    * in the dedup family (near-dup candidates = equal or
    * Hamming-adjacent dhash, the `dedup_simhash` banding). Per-pixel
    * work stays in the codec `mapPartitions` pass; ships the hash plus
    * the pooled-cell checksum that pins every cell average.
    */
  def imageDhash(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Sources.documents(s, d)
      .select(col("doc_id"), col("n_chars").cast("long"))
      .as[(Long, Long)]
      .mapPartitions(_.map { case (id, nc) =>
        val (w, h, px) = bmpPixels(encodeBmp(id, nc))
        val sums = Array.ofDim[Long](4, 3)
        val cnts = Array.ofDim[Long](4, 3)
        var p = 0
        while (p < px.length) {
          val gx = (p % w) * 4 / w
          val gy = (p / w) * 3 / h
          sums(gx)(gy) += px(p); cnts(gx)(gy) += 1
          p += 1
        }
        val avg = Array.tabulate(4, 3)((gx, gy) => sums(gx)(gy) / cnts(gx)(gy))
        var dhash = 0L
        for (gy <- 0 until 3; gx <- 0 until 3)
          if (avg(gx + 1)(gy) > avg(gx)(gy)) dhash |= 1L << (gy * 3 + gx)
        for (gy <- 0 until 2; gx <- 0 until 4)
          if (avg(gx)(gy + 1) > avg(gx)(gy)) dhash |= 1L << (9 + gy * 4 + gx)
        val chk = avg.map(_.sum).sum
        (id, w.toLong, h.toLong, dhash, chk)
      })
      .toDF("doc_id", "width", "height", "dhash", "cell_chk")
      .orderBy("doc_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mm_image_dhash" -> (imageDhash _),
    "mm_video_ssim" -> (videoSsim _),
    "mm_decode_fuzz" -> (decodeFuzz _),
    "mm_video_keyframes" -> (videoKeyframes _),
    "mm_image_blobs" -> (imageBlobs _),
    "mm_image_dither_bayer" -> (imageDitherBayer _),
    "mm_audio_downsample" -> (audioDownsample _),
    "mm_video_scene_cuts" -> (videoSceneCuts _),
    "mm_audio_trim" -> (audioTrim _),
    "mm_image_upsample" -> (imageUpsample _),
    "mm_image_histogram" -> (imageHistogram _),
    "mm_image_sobel" -> (imageSobel _),
    "mm_image_hough" -> (imageHough _),
    "mm_video_motion_vectors" -> (videoMotionVectors _),
    "mm_audio_vad" -> (audioVad _),
    "mm_audio_dft_bins" -> (audioDftBins _),
    "mm_decode_jpeg_ac" -> (mediaDecodeJpegAc _),
    "mm_shard_plan" -> (shardPlan _),
    "mm_media_meta" -> (mediaMeta _),
    "mm_decode_bmp" -> (mediaDecodeBmp _),
    "mm_decode_png" -> (mediaDecodePng _),
    "mm_decode_gif" -> (mediaDecodeGif _),
    "mm_decode_jpeg" -> (mediaDecodeJpeg _),
    "mm_decode_wav" -> (mediaDecodeWav _),
    "mm_decode_ulaw" -> (mediaDecodeUlaw _),
    "mm_audio_rms" -> (audioFrameRms _),
    "mm_audio_pitch" -> (audioPitch _),
    "mm_resize_pool" -> (resizePool _),
    "mm_video_frames" -> (videoFrames _),
    "mm_video_motion_energy" -> (videoMotionEnergy _),
    "mm_image_quantize" -> (imageQuantize _),
    "mm_audio_clipping" -> (audioClipping _),
    "mm_frame_sample" -> (frameSample _),
    "mm_frame_overlap" -> (frameOverlapPairs _),
  )

  /** Inference shard planning (`mm_shard_plan`): within each modality
    * channel, media rows pack in doc-id order into ≤4 KiB shards by
    * exclusive running byte count — the size-balanced batch layout a
    * GPU decode/embed stage consumes (too-big batches OOM the
    * accelerator, too-small ones waste it). The running sum is a
    * PARTITIONED window (per channel), so the plan scales with channel
    * cardinality; shard id = exclusive-prefix-bytes div budget, exact
    * integers; one keyed rollup emits the per-shard manifest.
    */
  def shardPlan(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("channel").orderBy("doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    withMediaColumns(Sources.documents(s, d))
      .select(col("doc_id"), col("media_meta.channel").cast("long").as("channel"),
        length(col("media")).cast("long").as("n_bytes"))
      .withColumn("prev_bytes", coalesce(sum("n_bytes").over(w), lit(0L)))
      .withColumn("shard", expr("prev_bytes div 4096"))
      .groupBy("channel", "shard")
      .agg(count(lit(1)).as("n_items"), sum("n_bytes").as("bytes"),
        min("doc_id").as("min_doc"), max("doc_id").as("max_doc"))
      .orderBy("channel", "shard")
  }

  /** Generated from [[dftCos]]/[[dftSin]] so the published tables
    * cannot drift from their oracle.
    */
  private def dftBinsOracle: String = {
    val rows = (1 to 4).flatMap { k =>
      (0 until 16).map(p => s"($k, $p, ${dftCos(k)(p)}, ${dftSin(k)(p)})")
    }.mkString(", ")
    def wide(col: String, k: Int) =
      s"CAST(max(CASE WHEN k = $k THEN $col END) AS BIGINT)"
    val cols = (1 to 4).flatMap { k =>
      Seq(s"${wide("re", k)} AS re$k", s"${wide("im", k)} AS im$k",
        s"${wide("re", k)} * ${wide("re", k)} + ${wide("im", k)} * ${wide("im", k)} AS e$k")
    }.mkString(",\n ")
    s"""WITH d AS (SELECT doc_id, 50 + n_chars % 101 AS n FROM documents),
       | tt AS (SELECT doc_id, n, unnest(range(0, n)) AS t FROM d),
       | x AS (SELECT doc_id, n, t,
       |    (13 * doc_id + 7 * t + 3) % 2001 - 1000 AS amp FROM tt),
       | b AS (SELECT doc_id, any_value(n) AS n, k,
       |    CAST(sum(amp * c) AS BIGINT) AS re,
       |    CAST(sum(amp * s) AS BIGINT) AS im
       |  FROM x JOIN (VALUES $rows) AS tab(k, p, c, s) ON tab.p = x.t % 16
       |  GROUP BY doc_id, k)
       |SELECT doc_id, CAST(any_value(n) AS BIGINT) AS n_samples,
       | $cols
       |FROM b GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    // the decoder contract in closed form: structural corruptions
    // throw everywhere, the pixel flip decodes with |255-2v| deltas
    // (0 on stride padding) replayed from the formula
    "mm_decode_fuzz" ->
      """WITH d AS (SELECT doc_id, 4 + n_chars % 13 AS w,
        |    3 + n_chars % 7 AS h FROM documents),
        | g AS (SELECT doc_id, w, h, (w * 3 + 3) // 4 * 4 AS stride
        |  FROM d),
        | px AS (SELECT doc_id, w, h, stride,
        |   (h * stride) // 7 AS rel FROM g),
        | loc AS (SELECT doc_id, w, h, stride, rel,
        |   rel // stride AS rfb, rel % stride AS inrow FROM px),
        | delta AS (SELECT doc_id,
        |   CASE WHEN inrow >= w * 3 THEN 0 ELSE
        |     abs(255 - 2 * (CASE inrow % 3
        |       WHEN 0 THEN (29 * doc_id + 19 * ((h - 1 - rfb) * w
        |         + inrow // 3) + 31) % 256
        |       WHEN 1 THEN (17 * doc_id + 13 * ((h - 1 - rfb) * w
        |         + inrow // 3) + 23) % 256
        |       ELSE (31 * doc_id + 7 * ((h - 1 - rfb) * w
        |         + inrow // 3) + 11) % 256 END))
        |   END AS dlt
        |  FROM loc),
        | nn AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM documents)
        |SELECT * FROM (
        | SELECT 'bounds' AS corruption, nd AS n_docs, nd AS n_throw,
        |   CAST(0 AS BIGINT) AS n_ok, CAST(0 AS BIGINT) AS sum_abs_delta
        |  FROM nn
        | UNION ALL
        | SELECT 'magic', nd, nd, CAST(0 AS BIGINT), CAST(0 AS BIGINT)
        |  FROM nn
        | UNION ALL
        | SELECT 'pixel', nd, CAST(0 AS BIGINT), nd,
        |   (SELECT CAST(sum(dlt) AS BIGINT) FROM delta) FROM nn)
        |ORDER BY corruption""".stripMargin,
    // same five exact power sums per pair, one mirrored SSIM with
    // the published (0.01L)^2/(0.03L)^2 constants
    "mm_video_ssim" ->
      """WITH d AS (SELECT doc_id, 4 + n_chars % 13 AS w,
        |    3 + n_chars % 7 AS h, 2 + n_chars % 7 AS nf FROM documents),
        | f AS (SELECT doc_id, w, h, nf, unnest(range(0, nf)) AS fi FROM d),
        | px AS (SELECT doc_id, fi, doc_id + 1000003 * fi AS fk, w, h,
        |    unnest(range(0, w * h)) AS p FROM f),
        | v AS (SELECT doc_id, fi, p,
        |    ((31 * fk + 7 * p + 11) % 256 + (17 * fk + 13 * p + 23) % 256
        |     + (29 * fk + 19 * p + 31) % 256) AS b
        |  FROM px),
        | pr AS (SELECT a.doc_id, a.fi AS f_idx,
        |    CAST(count(*) AS BIGINT) AS n_px,
        |    CAST(sum(a.b) AS BIGINT) AS s1, CAST(sum(b.b) AS BIGINT) AS s2,
        |    CAST(sum(a.b * a.b) AS BIGINT) AS q1,
        |    CAST(sum(b.b * b.b) AS BIGINT) AS q2,
        |    CAST(sum(a.b * b.b) AS BIGINT) AS p
        |   FROM v a JOIN v b ON a.doc_id = b.doc_id AND b.fi = a.fi + 1
        |    AND a.p = b.p
        |   GROUP BY 1, 2)
        |SELECT doc_id, f_idx, n_px, s1, s2, q1, q2, p,
        | round((2.0 * (s1::DOUBLE / n_px::DOUBLE) * (s2::DOUBLE / n_px::DOUBLE)
        |     + 58.5225)
        |   * (2.0 * (p::DOUBLE / n_px::DOUBLE
        |     - (s1::DOUBLE / n_px::DOUBLE) * (s2::DOUBLE / n_px::DOUBLE))
        |     + 526.7025)
        |  / (((s1::DOUBLE / n_px::DOUBLE) * (s1::DOUBLE / n_px::DOUBLE)
        |     + (s2::DOUBLE / n_px::DOUBLE) * (s2::DOUBLE / n_px::DOUBLE)
        |     + 58.5225)
        |   * ((q1::DOUBLE / n_px::DOUBLE
        |     - (s1::DOUBLE / n_px::DOUBLE) * (s1::DOUBLE / n_px::DOUBLE))
        |    + (q2::DOUBLE / n_px::DOUBLE
        |     - (s2::DOUBLE / n_px::DOUBLE) * (s2::DOUBLE / n_px::DOUBLE))
        |    + 526.7025)), 6) + 0.0 AS ssim
        |FROM pr ORDER BY doc_id, f_idx""".stripMargin,
    // same 4x3 integer pooling, same adjacent-cell gradient bits
    "mm_image_dhash" ->
      """WITH dims AS (SELECT doc_id,
        |    4 + n_chars % 13 AS w, 3 + n_chars % 7 AS h FROM documents),
        | px AS (SELECT doc_id, w, h, unnest(range(0, w * h)) AS p FROM dims),
        | v AS (SELECT doc_id, (p % w) * 4 // w AS gx, (p // w) * 3 // h AS gy,
        |    ((31 * doc_id + 7 * p + 11) % 256
        |     + (17 * doc_id + 13 * p + 23) % 256
        |     + (29 * doc_id + 19 * p + 31) % 256) AS b
        |  FROM px),
        | cell AS (SELECT doc_id, gx, gy,
        |    CAST(sum(b) // count(*) AS BIGINT) AS avg
        |  FROM v GROUP BY 1, 2, 3),
        | hb AS (SELECT a.doc_id, CAST(coalesce(sum(CASE WHEN b.avg > a.avg
        |     THEN 1::BIGINT << (a.gy * 3 + a.gx) ELSE 0 END), 0) AS BIGINT)
        |     AS bits
        |  FROM cell a JOIN cell b ON a.doc_id = b.doc_id
        |   AND b.gx = a.gx + 1 AND b.gy = a.gy AND a.gx < 3
        |  GROUP BY 1),
        | vb AS (SELECT a.doc_id, CAST(coalesce(sum(CASE WHEN b.avg > a.avg
        |     THEN 1::BIGINT << (9 + a.gy * 4 + a.gx) ELSE 0 END), 0)
        |     AS BIGINT) AS bits
        |  FROM cell a JOIN cell b ON a.doc_id = b.doc_id
        |   AND b.gx = a.gx AND b.gy = a.gy + 1 AND a.gy < 2
        |  GROUP BY 1),
        | chk AS (SELECT doc_id, CAST(sum(avg) AS BIGINT) AS cell_chk
        |  FROM cell GROUP BY 1)
        |SELECT d.doc_id, CAST(d.w AS BIGINT) AS width,
        | CAST(d.h AS BIGINT) AS height,
        | CAST(coalesce(hb.bits, 0) + coalesce(vb.bits, 0) AS BIGINT)
        |   AS dhash,
        | chk.cell_chk
        |FROM dims d LEFT JOIN hb USING (doc_id) LEFT JOIN vb USING (doc_id)
        | JOIN chk USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // scenes rebuilt declaratively (cumulative cut-flag), keyframe
    // elected by max-join with min-fi tie-break — must equal the
    // engine's sequential walk exactly
    "mm_video_keyframes" ->
      """WITH d AS (SELECT doc_id, 4 + n_chars % 13 AS w,
        |    3 + n_chars % 7 AS h, 2 + n_chars % 7 AS nf FROM documents),
        | f AS (SELECT doc_id, w, h, nf, unnest(range(0, nf)) AS fi FROM d),
        | px AS (SELECT doc_id, fi, doc_id + 1000003 * fi AS fk, w, h,
        |    unnest(range(0, w * h)) AS p FROM f),
        | fs AS (SELECT doc_id, fi, CAST(sum(
        |     (31 * fk + 7 * p + 11) % 256 + (17 * fk + 13 * p + 23) % 256
        |     + (29 * fk + 19 * p + 31) % 256) AS BIGINT) AS ps
        |  FROM px GROUP BY 1, 2),
        | sc AS (SELECT doc_id, fi, ps,
        |    CAST(sum(CASE WHEN diff IS NULL OR diff > 900 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY fi) AS BIGINT) - 1
        |      AS scene_id
        |  FROM (SELECT doc_id, fi, ps, abs(ps - lag(ps)
        |     OVER (PARTITION BY doc_id ORDER BY fi)) AS diff FROM fs)),
        | g AS (SELECT doc_id, scene_id, CAST(min(fi) AS BIGINT)
        |     AS start_frame, CAST(count(*) AS BIGINT) AS n_frames,
        |    CAST(max(ps) AS BIGINT) AS key_pixsum
        |  FROM sc GROUP BY 1, 2)
        |SELECT g.doc_id AS doc_id, g.scene_id AS scene_id, g.start_frame,
        | g.n_frames, CAST(min(sc.fi) AS BIGINT) AS key_frame, g.key_pixsum
        |FROM g JOIN sc ON sc.doc_id = g.doc_id
        | AND sc.scene_id = g.scene_id AND sc.ps = g.key_pixsum
        |GROUP BY 1, 2, 3, 4, 6
        |ORDER BY 1, 2""".stripMargin,
    // 4-adjacency closed by a per-image recursive reachability CTE;
    // blob id = min reachable pixel index — must equal the engine's
    // min-root union-find labeling exactly
    "mm_image_blobs" ->
      """WITH RECURSIVE dims AS (SELECT doc_id,
        |    4 + n_chars % 13 AS w, 3 + n_chars % 7 AS h FROM documents),
        | px AS (SELECT doc_id, w, h, unnest(range(0, w * h)) AS p FROM dims),
        | fg AS (SELECT doc_id, w, p, p % w AS x, p // w AS y FROM px
        |  WHERE ((31 * doc_id + 7 * p + 11) % 256
        |     + (17 * doc_id + 13 * p + 23) % 256
        |     + (29 * doc_id + 19 * p + 31) % 256) >= 384),
        | e AS (SELECT a.doc_id, a.p AS src, b.p AS dst
        |  FROM fg a JOIN fg b ON a.doc_id = b.doc_id
        |   AND ((b.x = a.x + 1 AND b.y = a.y) OR (b.x = a.x AND b.y = a.y + 1))),
        | e2 AS (SELECT doc_id, src, dst FROM e
        |  UNION ALL SELECT doc_id, dst, src FROM e),
        | reach(doc_id, src, dst) AS (
        |  SELECT doc_id, p, p FROM fg
        |  UNION
        |  SELECT r.doc_id, r.src, e2.dst FROM reach r
        |   JOIN e2 ON r.doc_id = e2.doc_id AND r.dst = e2.src),
        | comp AS (SELECT doc_id, src AS p, min(dst) AS root
        |  FROM reach GROUP BY 1, 2),
        | blobs AS (SELECT doc_id, root, CAST(count(*) AS BIGINT) AS sz
        |  FROM comp GROUP BY 1, 2),
        | agg AS (SELECT doc_id, CAST(sum(sz) AS BIGINT) AS n_fg,
        |   CAST(count(*) AS BIGINT) AS n_blobs,
        |   CAST(max(sz) AS BIGINT) AS max_blob,
        |   CAST(sum(root) AS BIGINT) AS sum_min_idx
        |  FROM blobs GROUP BY 1)
        |SELECT d.doc_id, CAST(d.w AS BIGINT) AS width,
        | CAST(d.h AS BIGINT) AS height,
        | CAST(coalesce(a.n_fg, 0) AS BIGINT) AS n_fg,
        | CAST(coalesce(a.n_blobs, 0) AS BIGINT) AS n_blobs,
        | CAST(coalesce(a.max_blob, 0) AS BIGINT) AS max_blob,
        | CAST(coalesce(a.sum_min_idx, 0) AS BIGINT) AS sum_min_idx
        |FROM dims d LEFT JOIN agg a USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // published Bayer-16 matrix in a VALUES table, identical
    // 32v > (2M+1)·765 cross-multiplication
    "mm_image_dither_bayer" ->
      """WITH dims AS (SELECT doc_id,
        |    4 + n_chars % 13 AS w, 3 + n_chars % 7 AS h FROM documents),
        | px AS (SELECT doc_id, w, unnest(range(0, w * h)) AS p FROM dims),
        | m AS (SELECT * FROM (VALUES
        |    (0, 0, 0), (1, 0, 8), (2, 0, 2), (3, 0, 10),
        |    (0, 1, 12), (1, 1, 4), (2, 1, 14), (3, 1, 6),
        |    (0, 2, 3), (1, 2, 11), (2, 2, 1), (3, 2, 9),
        |    (0, 3, 15), (1, 3, 7), (2, 3, 13), (3, 3, 5))
        |   AS t(mx, my, mv)),
        | v AS (SELECT doc_id, p,
        |    ((31 * doc_id + 7 * p + 11) % 256
        |     + (17 * doc_id + 13 * p + 23) % 256
        |     + (29 * doc_id + 19 * p + 31) % 256) AS bright, mv
        |  FROM px JOIN m ON m.mx = p % w % 4 AND m.my = p // w % 4),
        | o AS (SELECT doc_id, p FROM v WHERE 32 * bright > (2 * mv + 1) * 765)
        |SELECT d.doc_id, CAST(d.w * d.h AS BIGINT) AS n_pixels,
        | CAST(coalesce(c.n_on, 0) AS BIGINT) AS n_on,
        | CAST(coalesce(c.on_wsum, 0) AS BIGINT) AS on_wsum
        |FROM dims d LEFT JOIN (SELECT doc_id,
        |   CAST(count(*) AS BIGINT) AS n_on,
        |   CAST(sum(p + 1) AS BIGINT) AS on_wsum FROM o GROUP BY 1) c
        | USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // same +4000-shifted floor average per pair, odd tail passes
    // through; position-weighted checksum pins every output sample
    "mm_audio_downsample" ->
      """WITH d AS (SELECT doc_id, 50 + n_chars % 101 AS n,
        |    8000 + 1000 * (doc_id % 5) AS sr FROM documents),
        | ks AS (SELECT doc_id, n, unnest(range(0, (n + 1) // 2)) AS k FROM d),
        | o AS (SELECT doc_id, k,
        |    CASE WHEN 2 * k + 1 < n THEN
        |      (((13 * doc_id + 7 * (2 * k) + 3) % 2001 - 1000)
        |       + ((13 * doc_id + 7 * (2 * k + 1) + 3) % 2001 - 1000)
        |       + 4000) // 2 - 2000
        |    ELSE (13 * doc_id + 7 * (2 * k) + 3) % 2001 - 1000 END AS v
        |  FROM ks)
        |SELECT d.doc_id, CAST(d.sr // 2 AS BIGINT) AS sr_out,
        | CAST(d.n AS BIGINT) AS n_in,
        | CAST((d.n + 1) // 2 AS BIGINT) AS n_out,
        | CAST(sum(abs(o.v)) AS BIGINT) AS abs_sum,
        | CAST(max(abs(o.v)) AS BIGINT) AS peak,
        | CAST(sum((o.k + 1) * o.v) AS BIGINT) AS wsum
        |FROM d JOIN o USING (doc_id)
        |GROUP BY 1, 2, 3, 4 ORDER BY doc_id""".stripMargin,
    // run lengths via per-doc gaps-and-islands over the amp formula;
    // the decoded bytes must reproduce it sample-for-sample
    "mm_audio_clipping" ->
      """WITH d AS (SELECT doc_id, 50 + n_chars % 101 AS n FROM documents),
        | x AS (SELECT doc_id, n, t,
        |    abs((13 * doc_id + 7 * t + 3) % 2001 - 1000) >= 990 AS clip
        |   FROM d, unnest(range(0, n)) tt(t)),
        | c AS (SELECT doc_id, t,
        |    t - row_number() OVER (PARTITION BY doc_id ORDER BY t) AS grp
        |   FROM x WHERE clip),
        | runs AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS run_len,
        |    CAST(min(t) AS BIGINT) AS run_start
        |   FROM c GROUP BY doc_id, grp),
        | agg AS (SELECT doc_id, CAST(sum(run_len) AS BIGINT) AS n_clipped,
        |    CAST(max(run_len) AS BIGINT) AS longest_run,
        |    CAST(min(run_start) AS BIGINT) AS first_clip
        |   FROM runs GROUP BY 1)
        |SELECT d.doc_id, CAST(d.n AS BIGINT) AS n_samples,
        | coalesce(a.n_clipped, 0) AS n_clipped,
        | coalesce(a.longest_run, 0) AS longest_run,
        | coalesce(a.first_clip, -1) AS first_clip
        |FROM d LEFT JOIN agg a ON d.doc_id = a.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    // identical div-lattice palette cells and midpoint reconstruction;
    // dominant cell by (count DESC, q ASC)
    "mm_image_quantize" ->
      """WITH d AS (SELECT doc_id, 4 + n_chars % 13 AS w, 3 + n_chars % 7 AS h
        |   FROM documents),
        | px AS (SELECT doc_id, w * h AS np,
        |    (31 * doc_id + 7 * p + 11) % 256 AS r,
        |    (17 * doc_id + 13 * p + 23) % 256 AS g,
        |    (29 * doc_id + 19 * p + 31) % 256 AS b
        |   FROM d, unnest(range(0, w * h)) t(p)),
        | q AS (SELECT doc_id, np,
        |    32 * (r // 32) + 4 * (g // 32) + (b // 64) AS q,
        |    abs(r - (32 * (r // 32) + 16)) + abs(g - (32 * (g // 32) + 16))
        |    + abs(b - (64 * (b // 64) + 32)) AS e
        |   FROM px),
        | pc AS (SELECT doc_id, np, q, CAST(count(*) AS BIGINT) AS c,
        |    CAST(sum(e) AS BIGINT) AS es FROM q GROUP BY 1, 2, 3),
        | top AS (SELECT doc_id, q AS top_q, c AS top_count FROM (
        |   SELECT *, row_number() OVER (PARTITION BY doc_id
        |     ORDER BY c DESC, q ASC) AS rk FROM pc) WHERE rk = 1)
        |SELECT pc.doc_id, CAST(max(np) AS BIGINT) AS n_pixels,
        | CAST(count(*) AS BIGINT) AS n_colors,
        | CAST(max(top_q) AS BIGINT) AS top_q,
        | CAST(max(top_count) AS BIGINT) AS top_count,
        | CAST(sum(es) AS BIGINT) AS err_sum
        |FROM pc JOIN top ON pc.doc_id = top.doc_id
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // per-pixel per-channel abs deltas between consecutive frame keys —
    // the decoded bytes must reproduce the generator formula exactly
    "mm_video_motion_energy" ->
      """WITH d AS (SELECT doc_id, 4 + n_chars % 13 AS w, 3 + n_chars % 7 AS h,
        |    2 + n_chars % 7 AS nf FROM documents),
        | f AS (SELECT doc_id, w, h, nf, unnest(range(1, nf)) AS fi FROM d),
        | px AS (SELECT doc_id, nf, fi, doc_id + 1000003 * fi AS fk,
        |    doc_id + 1000003 * (fi - 1) AS pk,
        |    unnest(range(0, w * h)) AS p FROM f),
        | ms AS (SELECT doc_id, nf, fi, CAST(sum(
        |     abs((31 * fk + 7 * p + 11) % 256 - (31 * pk + 7 * p + 11) % 256)
        |   + abs((17 * fk + 13 * p + 23) % 256 - (17 * pk + 13 * p + 23) % 256)
        |   + abs((29 * fk + 19 * p + 31) % 256 - (29 * pk + 19 * p + 31) % 256))
        |    AS BIGINT) AS md
        |  FROM px GROUP BY 1, 2, 3)
        |SELECT doc_id, CAST(max(nf) AS BIGINT) AS n_frames,
        | CAST(count(*) AS BIGINT) AS n_pairs,
        | CAST(sum(md) AS BIGINT) AS motion_sum,
        | CAST(max(md) AS BIGINT) AS motion_max,
        | CAST(min(md) AS BIGINT) AS motion_min
        |FROM ms GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // every frame's brightness sum, then a lag diff over the frame
    // order — the cut threshold is the published constant 900
    "mm_video_scene_cuts" ->
      """WITH d AS (SELECT doc_id, 4 + n_chars % 13 AS w, 3 + n_chars % 7 AS h,
        |    2 + n_chars % 7 AS nf FROM documents),
        | f AS (SELECT doc_id, w, h, nf, unnest(range(0, nf)) AS fi FROM d),
        | px AS (SELECT doc_id, nf, fi, doc_id + 1000003 * fi AS fk, w, h,
        |    unnest(range(0, w * h)) AS p FROM f),
        | fs AS (SELECT doc_id, nf, fi, CAST(sum(
        |     (31 * fk + 7 * p + 11) % 256 + (17 * fk + 13 * p + 23) % 256
        |     + (29 * fk + 19 * p + 31) % 256) AS BIGINT) AS pix_sum
        |  FROM px GROUP BY 1, 2, 3),
        | dd AS (SELECT doc_id, nf,
        |    abs(pix_sum - lag(pix_sum) OVER (PARTITION BY doc_id
        |      ORDER BY fi)) AS diff
        |  FROM fs)
        |SELECT doc_id, CAST(max(nf) AS BIGINT) AS n_frames,
        | CAST(sum(CASE WHEN diff > 900 THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_cuts,
        | CAST(coalesce(max(diff), 0) AS BIGINT) AS max_diff,
        | CAST(coalesce(sum(diff), 0) AS BIGINT) AS sum_diff
        |FROM dd GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // head/tail silent runs from the min/max loud index; the all-silent
    // convention (lead = n, tail = 0, kept = 0) mirrors the engine
    "mm_audio_trim" ->
      """WITH d AS (SELECT doc_id, 50 + n_chars % 101 AS n FROM documents),
        | t AS (SELECT doc_id, n, unnest(range(0, n)) AS t FROM d),
        | sam AS (SELECT doc_id, n, t,
        |    (13 * doc_id + 7 * t + 3) % 2001 - 1000 AS amp FROM t),
        | loud AS (SELECT doc_id, min(t) AS lo, max(t) AS hi
        |  FROM sam WHERE abs(amp) >= 100 GROUP BY 1),
        | base AS (SELECT doc_id, max(n) AS n FROM sam GROUP BY 1),
        | kept AS (SELECT sam.doc_id,
        |    CAST(count(*) AS BIGINT) AS n_kept,
        |    CAST(sum(abs(amp)) AS BIGINT) AS kept_abs_sum
        |  FROM sam JOIN loud ON sam.doc_id = loud.doc_id
        |   AND sam.t BETWEEN loud.lo AND loud.hi GROUP BY 1)
        |SELECT base.doc_id, CAST(base.n AS BIGINT) AS n_samples,
        | CAST(coalesce(loud.lo, base.n) AS BIGINT) AS lead_trim,
        | CAST(coalesce(base.n - 1 - loud.hi, 0) AS BIGINT) AS tail_trim,
        | CAST(coalesce(kept.n_kept, 0) AS BIGINT) AS n_kept,
        | CAST(coalesce(kept.kept_abs_sum, 0) AS BIGINT) AS kept_abs_sum
        |FROM base LEFT JOIN loud ON base.doc_id = loud.doc_id
        |LEFT JOIN kept ON base.doc_id = kept.doc_id
        |ORDER BY base.doc_id""".stripMargin,
    // separable axis weights (2·1{dx=0} on even coords, 1 on odd)
    // replay the 4/2/1 midpoint-bilinear lattice; clamped corner
    // indices carry weight 0, so the clamp never changes a value
    "mm_image_upsample" ->
      """WITH dims AS (SELECT doc_id,
        |    4 + n_chars % 13 AS w, 3 + n_chars % 7 AS h FROM documents),
        | og AS (SELECT doc_id, w, h, 2 * w - 1 AS ow, 2 * h - 1 AS oh
        |   FROM dims),
        | opx AS (SELECT doc_id, w, h, ow, oh, p % ow AS xx, p // ow AS yy
        |  FROM (SELECT *, unnest(range(0, ow * oh)) AS p FROM og)),
        | k AS (SELECT * FROM (VALUES (0, 0), (0, 1), (1, 0), (1, 1))
        |   t(dx, dy)),
        | cpt AS (SELECT doc_id, ow, oh, xx, yy,
        |    (CASE WHEN xx % 2 = 0 THEN CASE WHEN dx = 0 THEN 2 ELSE 0 END
        |      ELSE 1 END)
        |  * (CASE WHEN yy % 2 = 0 THEN CASE WHEN dy = 0 THEN 2 ELSE 0 END
        |      ELSE 1 END) AS wgt,
        |    least(yy // 2 + dy, h - 1) * w + least(xx // 2 + dx, w - 1) AS pp
        |  FROM opx CROSS JOIN k),
        | u AS (SELECT doc_id, ow, oh, xx, yy,
        |    CAST(sum(wgt * ((31 * doc_id + 7 * pp + 11) % 256
        |      + (17 * doc_id + 13 * pp + 23) % 256
        |      + (29 * doc_id + 19 * pp + 31) % 256)) AS BIGINT) AS u
        |  FROM cpt GROUP BY 1, 2, 3, 4, 5)
        |SELECT doc_id, CAST(max(ow) AS BIGINT) AS out_w,
        | CAST(max(oh) AS BIGINT) AS out_h,
        | CAST(sum(u) AS BIGINT) AS sum_u4, CAST(max(u) AS BIGINT) AS max_u4,
        | CAST(sum(u * ((yy * ow + xx) % 97)) AS BIGINT) AS chk_u4
        |FROM u GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "mm_image_histogram" ->
      """WITH dims AS (SELECT doc_id,
        |    4 + n_chars % 13 AS w, 3 + n_chars % 7 AS h FROM documents),
        | px AS (SELECT doc_id, unnest(range(0, w * h)) AS p FROM dims),
        | v AS (SELECT doc_id,
        |    ((31 * doc_id + 7 * p + 11) % 256
        |     + (17 * doc_id + 13 * p + 23) % 256
        |     + (29 * doc_id + 19 * p + 31) % 256) // 48 AS bin
        |  FROM px)
        |SELECT doc_id, CAST(bin AS BIGINT) AS bin,
        | CAST(count(*) AS BIGINT) AS n_pixels
        |FROM v GROUP BY doc_id, bin ORDER BY doc_id, bin""".stripMargin,
    // same frame pixel formula (frame id = doc + 1000003·f), same
    // fixed-interior SAD, same (sad, dy, dx) argmin per pair
    "mm_video_motion_vectors" -> {
      def b(fid: String, p: String): String =
        s"((31 * ($fid) + 7 * ($p) + 11) % 256" +
          s" + (17 * ($fid) + 13 * ($p) + 23) % 256" +
          s" + (29 * ($fid) + 19 * ($p) + 31) % 256)"
      val cur = b("doc_id + 1000003 * f", "y * w + x")
      val prv = b("doc_id + 1000003 * (f - 1)", "(y + dy) * w + (x + dx)")
      s"""WITH dims AS (SELECT doc_id, 4 + n_chars % 13 AS w,
        |    3 + n_chars % 7 AS h, 2 + n_chars % 7 AS nf FROM documents),
        | pairs AS (SELECT doc_id, w, h, unnest(range(1, nf)) AS f
        |   FROM dims),
        | ip AS (SELECT doc_id, w, h, f,
        |    unnest(range(0, (w - 2) * (h - 2))) AS q FROM pairs),
        | px AS (SELECT doc_id, w, h, f, 1 + q % (w - 2) AS x,
        |    1 + q // (w - 2) AS y FROM ip),
        | sh AS (SELECT * FROM (VALUES (-1, -1), (-1, 0), (-1, 1),
        |    (0, -1), (0, 0), (0, 1), (1, -1), (1, 0), (1, 1))
        |   AS t(dy, dx)),
        | sad AS (SELECT doc_id, f, dy, dx,
        |    CAST(sum(abs($cur - $prv)) AS BIGINT) AS sad
        |   FROM px CROSS JOIN sh GROUP BY 1, 2, 3, 4),
        | best AS (SELECT dy, dx, sad FROM (SELECT dy, dx, sad,
        |    row_number() OVER (PARTITION BY doc_id, f
        |      ORDER BY sad, dy, dx) AS rn FROM sad) WHERE rn = 1)
        |SELECT CAST(dy AS BIGINT) AS dy, CAST(dx AS BIGINT) AS dx,
        | CAST(count(*) AS BIGINT) AS n_picks,
        | CAST(sum(sad) AS BIGINT) AS sum_sad
        |FROM best GROUP BY 1, 2 ORDER BY dy, dx""".stripMargin
    },
    // same pixel formula, same published (cos,sin)·1e4 table, same
    // positive-offset integer rho bins and min-rho argmax
    "mm_image_hough" ->
      """WITH dims AS (SELECT doc_id,
        |    4 + n_chars % 13 AS w, 3 + n_chars % 7 AS h FROM documents),
        | px AS (SELECT doc_id, p % w AS x, p // w AS y,
        |    (31 * doc_id + 7 * p + 11) % 256
        |      + (17 * doc_id + 13 * p + 23) % 256
        |      + (29 * doc_id + 19 * p + 31) % 256 AS b
        |  FROM (SELECT doc_id, w, h, unnest(range(0, w * h)) AS p FROM dims)),
        | ed AS (SELECT x, y FROM px WHERE b >= 400),
        | ang AS (SELECT * FROM (VALUES (0, 10000, 0), (1, 9239, 3827),
        |    (2, 7071, 7071), (3, 3827, 9239), (4, 0, 10000),
        |    (5, -3827, 9239), (6, -7071, 7071), (7, -9239, 3827))
        |   AS t(k, c, sn)),
        | v AS (SELECT CAST(k AS BIGINT) AS k,
        |    CAST((x * c + y * sn + 205000) // 10000 AS BIGINT) AS rho,
        |    CAST(count(*) AS BIGINT) AS votes
        |   FROM ed CROSS JOIN ang GROUP BY 1, 2),
        | mx AS (SELECT k, max(votes) AS votes FROM v GROUP BY 1),
        | top AS (SELECT v.k, v.votes, min(v.rho) AS top_rho
        |   FROM v JOIN mx ON v.k = mx.k AND v.votes = mx.votes
        |   GROUP BY 1, 2)
        |SELECT v.k, CAST(sum(v.votes) AS BIGINT) AS n_edge_votes,
        | CAST(count(*) AS BIGINT) AS n_bins,
        | t.votes AS max_votes, t.top_rho
        |FROM v JOIN top t USING (k)
        |GROUP BY v.k, t.votes, t.top_rho ORDER BY k""".stripMargin,
    "mm_image_sobel" ->
      """WITH dims AS (SELECT doc_id,
        |    4 + n_chars % 13 AS w, 3 + n_chars % 7 AS h FROM documents),
        | inner_px AS (SELECT doc_id, w, h, p % w AS x, p // w AS y
        |  FROM (SELECT doc_id, w, h, unnest(range(0, w * h)) AS p FROM dims)
        |  WHERE p % w >= 1 AND p % w < w - 1 AND p // w >= 1 AND p // w < h - 1),
        | k AS (SELECT * FROM (VALUES
        |    (-1, -1, -1, -1), (0, -1, 0, -2), (1, -1, 1, -1),
        |    (-1, 0, -2, 0), (0, 0, 0, 0), (1, 0, 2, 0),
        |    (-1, 1, -1, 1), (0, 1, 0, 2), (1, 1, 1, 1))
        |   AS t(dx, dy, kx, ky)),
        | terms AS (SELECT i.doc_id, i.w, i.h, i.x, i.y,
        |    k.kx * ((31 * i.doc_id + 7 * ((i.y + k.dy) * i.w + i.x + k.dx) + 11) % 256
        |      + (17 * i.doc_id + 13 * ((i.y + k.dy) * i.w + i.x + k.dx) + 23) % 256
        |      + (29 * i.doc_id + 19 * ((i.y + k.dy) * i.w + i.x + k.dx) + 31) % 256)
        |      AS tx,
        |    k.ky * ((31 * i.doc_id + 7 * ((i.y + k.dy) * i.w + i.x + k.dx) + 11) % 256
        |      + (17 * i.doc_id + 13 * ((i.y + k.dy) * i.w + i.x + k.dx) + 23) % 256
        |      + (29 * i.doc_id + 19 * ((i.y + k.dy) * i.w + i.x + k.dx) + 31) % 256)
        |      AS ty
        |  FROM inner_px i CROSS JOIN k),
        | grads AS (SELECT doc_id, w, h, x, y,
        |    abs(sum(tx)) + abs(sum(ty)) AS m
        |  FROM terms GROUP BY doc_id, w, h, x, y)
        |SELECT doc_id, CAST(any_value(w) AS BIGINT) AS width,
        | CAST(any_value(h) AS BIGINT) AS height,
        | CAST(count(*) AS BIGINT) AS n_interior,
        | CAST(sum(m) AS BIGINT) AS grad_sum,
        | CAST(max(m) AS BIGINT) AS grad_max
        |FROM grads GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "mm_audio_dft_bins" -> dftBinsOracle,
    "mm_shard_plan" ->
      """WITH m AS (SELECT doc_id, doc_id % 4 AS channel,
        |   CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes FROM documents),
        | p AS (SELECT *, coalesce(sum(n_bytes) OVER
        |   (PARTITION BY channel ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev_bytes
        |  FROM m),
        | sh AS (SELECT channel, prev_bytes // 4096 AS shard, doc_id, n_bytes FROM p)
        |SELECT channel, CAST(shard AS BIGINT) AS shard, count(*) AS n_items,
        | CAST(sum(n_bytes) AS BIGINT) AS bytes,
        | CAST(min(doc_id) AS BIGINT) AS min_doc, CAST(max(doc_id) AS BIGINT) AS max_doc
        |FROM sh GROUP BY channel, shard ORDER BY channel, shard""".stripMargin,
    "mm_media_meta" ->
      """SELECT doc_id, octet_length(encode(text)) AS n_bytes,
        | CAST(ascii(substring(text, 1, 1)) AS BIGINT) AS first_byte,
        | doc_id % 4 AS channel
        |FROM documents ORDER BY doc_id""".stripMargin,
    "mm_decode_bmp" ->
      """WITH dims AS (SELECT doc_id,
        |    4 + n_chars % 13 AS w, 3 + n_chars % 7 AS h FROM documents),
        | px AS (SELECT doc_id, w, h, unnest(range(0, w * h)) AS p FROM dims),
        | v AS (SELECT doc_id, w, h, p,
        |    (31 * doc_id + 7 * p + 11) % 256
        |    + (17 * doc_id + 13 * p + 23) % 256
        |    + (29 * doc_id + 19 * p + 31) % 256 AS rgb
        |  FROM px)
        |SELECT doc_id,
        | CAST(54 + any_value(h) * ((any_value(w) * 3 + 3) // 4 * 4) AS BIGINT) AS n_bytes,
        | CAST(any_value(w) AS BIGINT) AS width,
        | CAST(any_value(h) AS BIGINT) AS height,
        | CAST(sum(rgb) AS BIGINT) AS pix_sum,
        | CAST(sum((p + 1) * rgb) AS BIGINT) AS pix_wsum
        |FROM v GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // GIF: index formula -> palette formula, summed per pixel — the
    // oracle never sees LZW; only a correct variable-width dictionary
    // code stream, read back through the file's color table,
    // reproduces these sums
    "mm_decode_gif" ->
      """WITH dims AS (SELECT doc_id,
        |    4 + n_chars % 13 AS w, 3 + n_chars % 7 AS h FROM documents),
        | px AS (SELECT doc_id, w, h, unnest(range(0, w * h)) AS p FROM dims),
        | v AS (SELECT doc_id, w, h, p,
        |    (13 * doc_id + 17 * p + 7) % 256 AS c
        |  FROM px),
        | s AS (SELECT doc_id, w, h, p,
        |    (11 * c + 3) % 256 + (7 * c + 29) % 256 + (5 * c + 17) % 256 AS rgb
        |  FROM v)
        |SELECT doc_id,
        | CAST(any_value(w) AS BIGINT) AS width,
        | CAST(any_value(h) AS BIGINT) AS height,
        | CAST(sum(rgb) AS BIGINT) AS pix_sum,
        | CAST(sum((p + 1) * rgb) AS BIGINT) AS pix_wsum
        |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // JPEG: per-8x8-block constant-gray formula — the oracle never sees
    // Huffman categories, restarts, or stuffing; only a correct T.81
    // baseline decode reproduces these sums
    "mm_decode_jpeg" ->
      """WITH dims AS (SELECT doc_id,
        |    8 * (1 + n_chars % 4) AS w, 8 * (1 + n_chars % 3) AS h
        |   FROM documents),
        | px AS (SELECT doc_id, w, h, unnest(range(0, w * h)) AS p FROM dims),
        | v AS (SELECT doc_id, w, h, p,
        |    ((p // w) // 8) * (w // 8) + (p % w) // 8 AS b FROM px),
        | g AS (SELECT doc_id, w, h, p,
        |    (23 * doc_id + 41 * b + 7 * b * b + 13) % 256 AS gray FROM v)
        |SELECT doc_id,
        | CAST(any_value(w) AS BIGINT) AS width,
        | CAST(any_value(h) AS BIGINT) AS height,
        | CAST(sum(gray) AS BIGINT) AS pix_sum,
        | CAST(sum((p + 1) * gray) AS BIGINT) AS pix_wsum
        |FROM g GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // JPEG AC profile: the oracle recomputes the published zigzag-space
    // quantized coefficients per block and replays the published
    // fixed-point integer IDCT (the same 64 T constants as
    // JpegCodec.idctT, floor((Σ+2^19)/2^20)+128, clamp) — it never sees
    // Huffman runs, ZRL, EOB, restarts, or stuffing; only a complete
    // baseline entropy decode + bit-identical IDCT reproduces the sums.
    // floor() (not //) because the engine's >>20 floors negatives while
    // DuckDB's // truncates toward zero; exact in double at |raw|<2^52.
    "mm_decode_jpeg_ac" ->
      """WITH tt AS (SELECT unnest(range(0, 64)) AS i, unnest([
        |   362,362,362,362,362,362,362,362,
        |   502,426,284,100,-100,-284,-426,-502,
        |   473,196,-196,-473,-473,-196,196,473,
        |   426,-100,-502,-284,284,502,100,-426,
        |   362,-362,-362,362,362,-362,-362,362,
        |   284,-502,100,426,-426,-100,502,-284,
        |   196,-473,473,-196,-196,473,-473,196,
        |   100,-284,426,-502,502,-426,284,-100]) AS tv),
        | dims AS (SELECT doc_id, 8 * (1 + n_chars % 4) AS w,
        |    8 * (1 + n_chars % 3) AS h FROM documents),
        | blk AS (SELECT doc_id, w, h,
        |    unnest(range(0, (w // 8) * (h // 8))) AS b FROM dims),
        | coef AS (SELECT doc_id, w, h, b, c.u, c.v,
        |    CASE WHEN c.k = 0 THEN 8 * ((23 * doc_id + 41 * b + 13) % 256 - 128)
        |         ELSE c.q * ((17 * doc_id + 29 * b + 11 * c.k) % 33 - 16) END AS s
        |  FROM blk CROSS JOIN (VALUES (0, 0, 0, 8), (1, 1, 0, 17),
        |    (2, 0, 1, 24), (3, 0, 2, 32), (6, 3, 0, 19), (10, 0, 4, 48),
        |    (20, 0, 5, 56), (40, 5, 3, 45)) AS c(k, u, v, q)),
        | m AS (SELECT doc_id, w, h, b, u, yy.y, sum(s * t1.tv) AS mv
        |  FROM coef CROSS JOIN (SELECT unnest(range(0, 8)) AS y) yy
        |  JOIN tt t1 ON t1.i = v * 8 + yy.y
        |  GROUP BY doc_id, w, h, b, u, yy.y),
        | pixel AS (SELECT doc_id, w, h, b, xx.x, y,
        |    least(255, greatest(0, CAST(floor(
        |      (sum(mv * t2.tv) + 524288) / 1048576.0) AS BIGINT) + 128)) AS gray
        |  FROM m CROSS JOIN (SELECT unnest(range(0, 8)) AS x) xx
        |  JOIN tt t2 ON t2.i = u * 8 + xx.x
        |  GROUP BY doc_id, w, h, b, xx.x, y),
        | g AS (SELECT doc_id, w, h,
        |    ((b // (w // 8)) * 8 + y) * w + (b % (w // 8)) * 8 + x AS p, gray
        |  FROM pixel)
        |SELECT doc_id,
        | CAST(any_value(w) AS BIGINT) AS width,
        | CAST(any_value(h) AS BIGINT) AS height,
        | CAST(sum(gray) AS BIGINT) AS pix_sum,
        | CAST(sum((p + 1) * gray) AS BIGINT) AS pix_wsum
        |FROM g GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // the PNG replay shares mm_decode_bmp's pixel contract — the oracle
    // knows nothing about compression; only a lossless write and read
    // of the deflate-coded container reproduces these sums
    "mm_decode_png" ->
      """WITH dims AS (SELECT doc_id,
        |    4 + n_chars % 13 AS w, 3 + n_chars % 7 AS h FROM documents),
        | px AS (SELECT doc_id, w, h, unnest(range(0, w * h)) AS p FROM dims),
        | v AS (SELECT doc_id, w, h, p,
        |    (31 * doc_id + 7 * p + 11) % 256
        |    + (17 * doc_id + 13 * p + 23) % 256
        |    + (29 * doc_id + 19 * p + 31) % 256 AS rgb
        |  FROM px)
        |SELECT doc_id,
        | CAST(any_value(w) AS BIGINT) AS width,
        | CAST(any_value(h) AS BIGINT) AS height,
        | CAST(sum(rgb) AS BIGINT) AS pix_sum,
        | CAST(sum((p + 1) * rgb) AS BIGINT) AS pix_wsum
        |FROM v GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // pooled-resize replay: same pixel contract as mm_decode_bmp,
    // cells keyed by (x div 2, y div 2), floor-averaged
    "mm_resize_pool" ->
      """WITH dims AS (SELECT doc_id,
        |    4 + n_chars % 13 AS w, 3 + n_chars % 7 AS h FROM documents),
        | px AS (SELECT doc_id, w, h, unnest(range(0, w * h)) AS p FROM dims),
        | v AS (SELECT doc_id, w, h, p % w AS x, p // w AS y,
        |    (31 * doc_id + 7 * p + 11) % 256
        |    + (17 * doc_id + 13 * p + 23) % 256
        |    + (29 * doc_id + 19 * p + 31) % 256 AS rgb
        |  FROM px),
        | c AS (SELECT doc_id, w, h, x // 2 AS ox, y // 2 AS oy,
        |    CAST(sum(rgb) AS BIGINT) AS s0, count(*) AS cnt
        |  FROM v GROUP BY 1, 2, 3, 4, 5),
        | a AS (SELECT doc_id, w, h,
        |    oy * ((w + 1) // 2) + ox + 1 AS cid1, s0 // cnt AS av FROM c)
        |SELECT doc_id, CAST(any_value(w) AS BIGINT) AS width,
        | CAST(any_value(h) AS BIGINT) AS height,
        | CAST((any_value(w) + 1) // 2 AS BIGINT) AS out_w,
        | CAST((any_value(h) + 1) // 2 AS BIGINT) AS out_h,
        | CAST(sum(av) AS BIGINT) AS pool_sum,
        | CAST(sum(cid1 * av) AS BIGINT) AS pool_wsum
        |FROM a GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // pitch replay: r(l) via a t -> t+l self-join on the shared sample
    // formula; argmax ties resolve to the smaller lag in both engines
    "mm_audio_pitch" ->
      """WITH d AS (SELECT doc_id, 50 + n_chars % 101 AS n FROM documents),
        | t AS (SELECT doc_id, n, unnest(range(0, n)) AS t FROM d),
        | sam AS (SELECT doc_id, n, t,
        |    CAST((13 * doc_id + 7 * t + 3) % 2001 - 1000 AS BIGINT) AS amp
        |   FROM t),
        | en AS (SELECT doc_id, any_value(n) AS n,
        |    CAST(sum(amp * amp) AS BIGINT) AS energy
        |   FROM sam GROUP BY doc_id),
        | lags AS (SELECT CAST(l AS BIGINT) AS lag
        |   FROM generate_series(1, 40) AS g(l)),
        | r AS (SELECT a.doc_id, lags.lag,
        |    CAST(sum(a.amp * b.amp) AS BIGINT) AS corr
        |   FROM sam a JOIN lags ON true
        |   JOIN sam b ON b.doc_id = a.doc_id AND b.t = a.t + lags.lag
        |   GROUP BY 1, 2),
        | best AS (SELECT doc_id, lag, corr, row_number() OVER (
        |    PARTITION BY doc_id ORDER BY corr DESC, lag ASC) AS rn FROM r)
        |SELECT en.doc_id, CAST(en.n AS BIGINT) AS n_samples, en.energy,
        | best.lag AS best_lag, best.corr AS best_corr
        |FROM en JOIN best ON en.doc_id = best.doc_id AND best.rn = 1
        |ORDER BY en.doc_id""".stripMargin,
    "mm_decode_wav" ->
      """WITH d AS (SELECT doc_id, 50 + n_chars % 101 AS n,
        |    8000 + 1000 * (doc_id % 5) AS sr FROM documents),
        | t AS (SELECT doc_id, n, sr, unnest(range(0, n)) AS t FROM d),
        | sam AS (SELECT doc_id, n, sr, t,
        |    (13 * doc_id + 7 * t + 3) % 2001 - 1000 AS amp FROM t),
        | l AS (SELECT *, lag(amp) OVER (PARTITION BY doc_id ORDER BY t) AS pamp
        |   FROM sam)
        |SELECT doc_id,
        | CAST(44 + CASE WHEN doc_id % 3 = 0 THEN 20 ELSE 0 END
        |   + 2 * any_value(n) AS BIGINT) AS n_bytes,
        | CAST(any_value(sr) AS BIGINT) AS sample_rate,
        | CAST(any_value(n) AS BIGINT) AS n_samples,
        | CAST(sum(amp) AS BIGINT) AS amp_sum,
        | CAST(sum(abs(amp)) AS BIGINT) AS amp_abs_sum,
        | CAST(max(abs(amp)) AS BIGINT) AS peak,
        | CAST(sum(CASE WHEN pamp IS NOT NULL AND pamp * amp < 0
        |   THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings
        |FROM l GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // µ-law replay: the ORACLE runs the full G.711 compand cycle in SQL
    // (clip, +132 bias, 8-branch exponent segment, mantissa shift,
    // expansion) over the x33-scaled sample formula — only a
    // bit-faithful encode->decode ladder reproduces these statistics
    "mm_decode_ulaw" ->
      """WITH d AS (SELECT doc_id, 50 + n_chars % 101 AS n,
        |    8000 + 1000 * (doc_id % 5) AS sr FROM documents),
        | t AS (SELECT doc_id, n, sr, unnest(range(0, n)) AS t FROM d),
        | s0 AS (SELECT doc_id, n, sr, t,
        |    ((13 * doc_id + 7 * t + 3) % 2001 - 1000) * 33 AS s FROM t),
        | enc AS (SELECT *, CASE WHEN s < 0 THEN -1 ELSE 1 END AS sgn,
        |    least(abs(s), 32635) + 132 AS v FROM s0),
        | ex AS (SELECT *, CASE WHEN v >= 16384 THEN 7 WHEN v >= 8192 THEN 6
        |     WHEN v >= 4096 THEN 5 WHEN v >= 2048 THEN 4 WHEN v >= 1024 THEN 3
        |     WHEN v >= 512 THEN 2 WHEN v >= 256 THEN 1 ELSE 0 END AS e FROM enc),
        | dec AS (SELECT doc_id, n, sr, t,
        |    sgn * ((((v >> (e + 3)) & 15) * 8 + 132) * (1 << e) - 132) AS ds
        |   FROM ex),
        | l AS (SELECT *, lag(ds) OVER (PARTITION BY doc_id ORDER BY t) AS pds
        |   FROM dec)
        |SELECT doc_id,
        | CAST(46 + any_value(n) + any_value(n) % 2 AS BIGINT) AS n_bytes,
        | CAST(any_value(sr) AS BIGINT) AS sample_rate,
        | CAST(any_value(n) AS BIGINT) AS n_samples,
        | CAST(sum(ds) AS BIGINT) AS amp_sum,
        | CAST(sum(abs(ds)) AS BIGINT) AS amp_abs_sum,
        | CAST(max(abs(ds)) AS BIGINT) AS peak,
        | CAST(sum(CASE WHEN pds IS NOT NULL AND pds * ds < 0
        |   THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings
        |FROM l GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // same integer energy threshold (division cleared), same per-doc
    // ±1 dilation window and lag-based segment starts
    "mm_audio_vad" ->
      """WITH d AS (SELECT doc_id, 50 + n_chars % 101 AS n FROM documents),
        | t AS (SELECT doc_id, unnest(range(0, n)) AS t FROM d),
        | fr AS (SELECT doc_id, t // 50 AS frame_idx,
        |    CAST(count(*) AS BIGINT) AS n_samples,
        |    CAST(sum(((13 * doc_id + 7 * t + 3) % 2001 - 1000)
        |      * ((13 * doc_id + 7 * t + 3) % 2001 - 1000)) AS BIGINT)
        |      AS sq_sum
        |   FROM t GROUP BY 1, 2),
        | act AS (SELECT doc_id, frame_idx,
        |    CASE WHEN sq_sum >= 250000 * n_samples THEN 1 ELSE 0 END
        |      AS active FROM fr),
        | dil AS (SELECT doc_id, frame_idx, active,
        |    max(active) OVER (PARTITION BY doc_id ORDER BY frame_idx
        |      ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS act_d
        |   FROM act),
        | st AS (SELECT doc_id, active, act_d,
        |    CASE WHEN act_d = 1 AND coalesce(lag(act_d) OVER
        |      (PARTITION BY doc_id ORDER BY frame_idx), 0) = 0
        |     THEN 1 ELSE 0 END AS s FROM dil)
        |SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        | CAST(count(*) AS BIGINT) AS n_frames,
        | CAST(sum(active) AS BIGINT) AS n_active_raw,
        | CAST(sum(act_d) AS BIGINT) AS n_active,
        | CAST(sum(s) AS BIGINT) AS n_segments,
        | CAST(sum(doc_id * s) AS BIGINT) AS seg_doc_sig
        |FROM st""".stripMargin,
    // frame formula replay: same amp contract as mm_decode_wav, framed
    // by t div 50 — predicts every frame aggregate without the bytes
    "mm_audio_rms" ->
      """WITH d AS (SELECT doc_id, 50 + n_chars % 101 AS n FROM documents),
        | t AS (SELECT doc_id, unnest(range(0, n)) AS t FROM d),
        | sam AS (SELECT doc_id, t // 50 AS frame_idx,
        |    (13 * doc_id + 7 * t + 3) % 2001 - 1000 AS amp FROM t)
        |SELECT doc_id, frame_idx, count(*) AS n_samples,
        | CAST(sum(amp * amp) AS BIGINT) AS sq_sum,
        | CAST(max(abs(amp)) AS BIGINT) AS peak,
        | round(sqrt(sum(amp * amp)::DOUBLE / count(*)), 4) AS rms
        |FROM sam GROUP BY 1, 2 ORDER BY doc_id, frame_idx""".stripMargin,
    "mm_video_frames" ->
      """WITH d AS (SELECT doc_id, 4 + n_chars % 13 AS w, 3 + n_chars % 7 AS h,
        |    2 + n_chars % 7 AS nf FROM documents),
        | f AS (SELECT doc_id, w, h, unnest(range(0, nf)) AS frame_idx FROM d),
        | sf AS (SELECT doc_id, w, h, frame_idx, doc_id + 1000003 * frame_idx AS fk
        |   FROM f WHERE frame_idx % 2 = 0),
        | px AS (SELECT doc_id, frame_idx, fk, w, h, unnest(range(0, w * h)) AS p
        |   FROM sf),
        | v AS (SELECT doc_id, frame_idx, w, h, p,
        |    (31 * fk + 7 * p + 11) % 256
        |    + (17 * fk + 13 * p + 23) % 256
        |    + (29 * fk + 19 * p + 31) % 256 AS rgb
        |  FROM px)
        |SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
        | CAST(any_value(w) AS BIGINT) AS width,
        | CAST(any_value(h) AS BIGINT) AS height,
        | CAST(sum(rgb) AS BIGINT) AS pix_sum,
        | CAST(sum((p + 1) * rgb) AS BIGINT) AS pix_wsum
        |FROM v GROUP BY doc_id, frame_idx ORDER BY doc_id, frame_idx""".stripMargin,
    "mm_frame_sample" ->
      """WITH f AS (
        |  SELECT doc_id, unnest(range(0, (length(text) - 1) // 16 + 1)) AS frame_id, text
        |  FROM documents)
        |SELECT doc_id, frame_id,
        | CAST(length(substring(text, CAST(frame_id * 16 + 1 AS INT), 16)) AS BIGINT) AS frame_bytes,
        | list_reduce(list_prepend(CAST(0 AS BIGINT),
        |   list_transform(string_split(substring(text, CAST(frame_id * 16 + 1 AS INT), 16), ''),
        |     c -> CAST(ascii(c) AS BIGINT))),
        |   (a, b) -> (a * 31 + b) % 1000000007) AS frame_fp
        |FROM f WHERE frame_id % 4 = 0 ORDER BY doc_id, frame_id""".stripMargin,
    "mm_frame_overlap" ->
      """WITH f AS (
        |  SELECT doc_id, unnest(range(0, (length(text) - 1) // 16 + 1)) AS frame_id, text
        |  FROM documents),
        | fp AS (SELECT doc_id, frame_id,
        |   list_reduce(list_prepend(CAST(0 AS BIGINT),
        |     list_transform(string_split(substring(text, CAST(frame_id * 16 + 1 AS INT), 16), ''),
        |       c -> CAST(ascii(c) AS BIGINT))),
        |     (a, b) -> (a * 31 + b) % 1000000007) AS frame_fp
        |   FROM f WHERE frame_id % 4 = 0),
        | cnt AS (SELECT doc_id, count(*) AS n_frames FROM fp GROUP BY doc_id),
        | rare AS (SELECT fp.doc_id, fp.frame_id, fp.frame_fp FROM fp JOIN (
        |   SELECT frame_id, frame_fp, count(*) AS df FROM fp
        |   GROUP BY frame_id, frame_fp) d
        |  ON fp.frame_id = d.frame_id AND fp.frame_fp = d.frame_fp AND d.df <= 50),
        | sh AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
        |   FROM rare a JOIN rare b ON a.frame_id = b.frame_id
        |    AND a.frame_fp = b.frame_fp AND a.doc_id < b.doc_id
        |   GROUP BY a.doc_id, b.doc_id)
        |SELECT id_a, id_b, n_shared,
        | round(n_shared::DOUBLE / least(ca.n_frames, cb.n_frames), 4) AS overlap
        |FROM sh JOIN cnt ca ON sh.id_a = ca.doc_id
        | JOIN cnt cb ON sh.id_b = cb.doc_id
        |WHERE round(n_shared::DOUBLE / least(ca.n_frames, cb.n_frames), 4) >= 0.5
        |ORDER BY id_a, id_b""".stripMargin,
  )
}
