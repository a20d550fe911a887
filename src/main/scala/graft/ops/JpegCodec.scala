package graft.ops

/** Minimal-but-REAL baseline JPEG codec (ITU T.81) — the entropy
  * coder of the multimodal pillar that is decoded by hand (PNG and GIF
  * bytes go through `javax.imageio`, see [[Multimodal.imageFeatures]]).
  * It proves JPEG's MSB-first Huffman with magnitude-category
  * coding (SSSS categories + EXTEND sign reconstruction), DC
  * difference prediction, 0xFF00 byte stuffing, restart-marker
  * resynchronization (DRI/RSTn with predictor reset), and the marker
  * -segment container walk (SOI/APP0/COM/DQT/DHT/SOF0/DRI/SOS/EOI)
  * with the full Annex K luminance Huffman tables parsed FROM THE
  * FILE, never assumed. Everything from the public T.81 spec; nothing
  * delegates to an image library.
  *
  * Scope is the DC-ONLY baseline subset (the thumbnail/preview
  * profile): every 8×8 block carries one quantized DC coefficient and
  * an immediate EOB. That restriction is what makes the decode
  * EXACTLY oracle-predictable — for a constant block of gray g, the
  * forward DCT has S₀₀ = 8·(g−128) and zero AC, so with DC quantizer
  * 8 the coded value is the integer g−128 and ANY correct IDCT
  * reproduces g bit-exactly; no irrational cosine ever touches the
  * pixels. The AC Huffman path is still real — EOB is decoded through
  * the parsed 162-symbol Annex K AC table (and the category-0 DC code
  * through the DC table), so a table mis-parse cannot hash-match.
  *
  * Fixture contract (the oracle's whole knowledge): w = 8·(1 +
  * n_chars%4), h = 8·(1 + n_chars%3); block b (raster order over the
  * 8×8 grid) is the constant gray (23·id + 41·b + 7·b² + 13) % 256.
  * The gray steps between consecutive blocks wrap mod 256, so DC
  * differences swing positive AND negative across magnitude
  * categories. Every image gets DRI=3: a restart marker every 3 MCUs
  * (predictor reset + byte realignment), and the 1-fill alignment
  * bytes regularly hit 0xFF and force stuffing — both paths are
  * exercised corpus-wide, not in a hand-picked doc.
  */
object JpegCodec {

  private[ops] def blockGray(id: Long, b: Long): Int =
    (((23L * id + 41L * b + 7L * b * b + 13L) % 256L + 256L) % 256L).toInt

  private[ops] def dims(nChars: Long): (Int, Int) =
    (8 * (1 + (nChars % 4).toInt), 8 * (1 + (nChars % 3).toInt))

  // ---- Annex K (T.81 Tables K.3 / K.5): luminance DC + AC tables ----
  // BITS = #codes per length 1..16, HUFFVAL = symbols in code order.

  private val dcBits = Array(0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
  private val dcVals = (0 to 11).toArray

  private val acBits = Array(0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7d)
  private val acVals = Array(
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
    0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
    0xa1, 0x08, 0x23, 0x42, 0xb1, 0xc1, 0x15, 0x52, 0xd1, 0xf0, 0x24,
    0x33, 0x62, 0x72, 0x82, 0x09, 0x0a, 0x16, 0x17, 0x18, 0x19, 0x1a,
    0x25, 0x26, 0x27, 0x28, 0x29, 0x2a, 0x34, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3a, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4a, 0x53,
    0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5a, 0x63, 0x64, 0x65, 0x66,
    0x67, 0x68, 0x69, 0x6a, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7a, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8a, 0x92, 0x93,
    0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9a, 0xa2, 0xa3, 0xa4, 0xa5,
    0xa6, 0xa7, 0xa8, 0xa9, 0xaa, 0xb2, 0xb3, 0xb4, 0xb5, 0xb6, 0xb7,
    0xb8, 0xb9, 0xba, 0xc2, 0xc3, 0xc4, 0xc5, 0xc6, 0xc7, 0xc8, 0xc9,
    0xca, 0xd2, 0xd3, 0xd4, 0xd5, 0xd6, 0xd7, 0xd8, 0xd9, 0xda, 0xe1,
    0xe2, 0xe3, 0xe4, 0xe5, 0xe6, 0xe7, 0xe8, 0xe9, 0xea, 0xf1, 0xf2,
    0xf3, 0xf4, 0xf5, 0xf6, 0xf7, 0xf8, 0xf9, 0xfa)

  /** Canonical JPEG code assignment (T.81 C.2): symbols get
    * consecutive codes within a length, doubling at each length step.
    * Returns symbol → (code, length).
    */
  private def canonicalCodes(
      bits: Array[Int], vals: Array[Int]): Map[Int, (Int, Int)] = {
    var code = 0
    var k = 0
    val out = Map.newBuilder[Int, (Int, Int)]
    for (len <- 1 to 16) {
      var i = 0
      while (i < bits(len - 1)) {
        out += vals(k) -> ((code, len))
        code += 1; k += 1; i += 1
      }
      code <<= 1
    }
    out.result()
  }

  private val dcEnc = canonicalCodes(dcBits, dcVals)
  private val acEnc = canonicalCodes(acBits, acVals)

  // quant table: DC=8 makes the constant-block round trip exact; the
  // AC entries are dequantized too but multiply zeros
  private val quantNatural: Array[Int] =
    Array.tabulate(64)(k => if (k == 0) 8 else 16 + k)

  // zigzag scan order: zigzag(i) = natural index of the i-th scanned
  // coefficient (T.81 Figure 5)
  private[ops] val zigzag: Array[Int] = {
    val out = new Array[Int](64)
    var i = 0
    var (x, y) = (0, 0)
    var up = true
    while (i < 64) {
      out(i) = y * 8 + x
      i += 1
      if (up) {
        if (x == 7) { y += 1; up = false }
        else if (y == 0) { x += 1; up = false }
        else { x += 1; y -= 1 }
      } else {
        if (y == 7) { x += 1; up = true }
        else if (x == 0) { y += 1; up = true }
        else { x -= 1; y += 1 }
      }
    }
    out
  }

  // ---- encoder ------------------------------------------------------

  private final class BitWriter(out: java.io.ByteArrayOutputStream) {
    private var acc = 0
    private var n = 0
    def put(v: Int, bits: Int): Unit = {
      var i = bits - 1
      while (i >= 0) {
        acc = (acc << 1) | ((v >>> i) & 1)
        n += 1
        if (n == 8) { writeByte(acc); acc = 0; n = 0 }
        i -= 1
      }
    }
    /** 1-fill to the byte boundary (F.1.2.3) — fill bytes that land on
      * 0xFF get stuffed like any other entropy byte.
      */
    def align(): Unit = if (n > 0) put((1 << (8 - n)) - 1, 8 - n)
    private def writeByte(b: Int): Unit = {
      out.write(b)
      if (b == 0xff) out.write(0x00) // byte stuffing (F.1.2.3)
    }
  }

  /** DC-only baseline JFIF bytes for document `id`: real markers, real
    * Annex K Huffman streams, DRI=3 restarts, planted COM junk the
    * decoder must skip.
    */
  private[ops] def encodeJpeg(id: Long, nChars: Long): Array[Byte] = {
    val (w, h) = dims(nChars)
    val (bw, bh) = (w / 8, h / 8)
    encodeGrays(Array.tabulate(bw * bh)(b => blockGray(id, b.toLong)),
      bw, bh, s"junk-comment-$id")
  }

  /** Encode an explicit per-block gray sequence — the formula encoder
    * above delegates here; the spec drives it directly to force
    * byte-stuffing-inducing DC payloads the fixture formula may never
    * align on a byte boundary.
    */
  private[ops] def encodeGrays(
      grays: Array[Int], bw: Int, bh: Int, junk: String): Array[Byte] = {
    val (w, h) = (bw * 8, bh * 8)
    val out = new java.io.ByteArrayOutputStream()
    def marker(m: Int): Unit = { out.write(0xff); out.write(m) }
    def be16(v: Int): Unit = { out.write((v >> 8) & 0xff); out.write(v & 0xff) }

    marker(0xd8) // SOI
    marker(0xe0); be16(16) // APP0 / JFIF
    "JFIF".foreach(c => out.write(c.toInt)); out.write(0)
    out.write(1); out.write(1) // version 1.1
    out.write(0); be16(1); be16(1) // no density units, 1:1
    out.write(0); out.write(0) // no thumbnail
    marker(0xfe); be16(2 + junk.length) // COM: decoder must skip
    junk.foreach(c => out.write(c.toInt))
    marker(0xdb); be16(67); out.write(0x00) // DQT: 8-bit table 0
    (0 until 64).foreach(i => out.write(quantNatural(zigzag(i))))
    // DHT: DC table (class 0, id 0) + AC table (class 1, id 0)
    marker(0xc4); be16(2 + 1 + 16 + dcVals.length + 1 + 16 + acVals.length)
    out.write(0x00); dcBits.foreach(out.write); dcVals.foreach(out.write)
    out.write(0x10); acBits.foreach(out.write); acVals.foreach(out.write)
    marker(0xc0); be16(11) // SOF0: 8-bit, 1 component, no subsampling
    out.write(8); be16(h); be16(w); out.write(1)
    out.write(1); out.write(0x11); out.write(0)
    marker(0xdd); be16(4); be16(3) // DRI: restart every 3 MCUs
    marker(0xda); be16(8) // SOS
    out.write(1); out.write(1); out.write(0x00)
    out.write(0); out.write(63); out.write(0)

    val bits = new BitWriter(out)
    var pred = 0
    var b = 0
    while (b < bw * bh) {
      if (b > 0 && b % 3 == 0) { // restart interval boundary
        bits.align()
        marker(0xd0 + ((b / 3 - 1) % 8))
        pred = 0
      }
      val v = grays(b) - 128 // quantized DC (q=8 exact)
      val diff = v - pred
      pred = v
      val mag = math.abs(diff)
      val ssss = 32 - Integer.numberOfLeadingZeros(mag) // category
      val (dcCode, dcLen) = dcEnc(ssss)
      bits.put(dcCode, dcLen)
      if (ssss > 0) {
        val payload = if (diff >= 0) diff else diff + (1 << ssss) - 1
        bits.put(payload, ssss)
      }
      val (eobCode, eobLen) = acEnc(0x00) // immediate EOB: zero AC
      bits.put(eobCode, eobLen)
      b += 1
    }
    bits.align()
    marker(0xd9) // EOI
    out.toByteArray
  }

  // ---- AC profile (r13) ----------------------------------------------
  // The r12 DC-only scope left one asterisk: real JPEG corpora carry AC
  // coefficients. This extends the SAME container/Huffman machinery with
  // run-length/magnitude AC coding (RRRRSSSS symbols, ZRL, EOB) and a
  // fixed-point integer IDCT with PUBLISHED rounding, so the pixel
  // oracle replays the identical arithmetic — the family discipline: no
  // irrational ever leaves the integer lattice.

  /** Fixture contract for the AC profile (the oracle's whole
    * knowledge): dims as [[dims]]; block b carries quantized
    * coefficients in ZIGZAG index space —
    *   k = 0 (DC):  ((23·id + 41·b + 13) mod 256) − 128
    *   k ∈ {1,2,3,6,10,20,40}: ((17·id + 29·b + 11·k) mod 33) − 16
    * (all other k zero). The position set is chosen to exercise every
    * AC coding construct corpus-wide: short runs (k 3→6, 6→10), a
    * 9-run (10→20), a 19-run needing ZRL+run3 (20→40), EOB after 40,
    * magnitude categories 1–5 with both signs, and occasional zeros AT
    * listed positions (the mod-33 lattice hits 0) that lengthen runs.
    */
  private[ops] val acPositions: Array[Int] = Array(1, 2, 3, 6, 10, 20, 40)

  private[ops] def dcQ(id: Long, b: Long): Int =
    ((23L * id + 41L * b + 13L) % 256L).toInt - 128

  private[ops] def acQ(id: Long, b: Long, k: Int): Int =
    ((17L * id + 29L * b + 11L * k) % 33L).toInt - 16

  /** Published fixed-point IDCT basis, u-major:
    * T(u,x) = round(2¹⁰ · (C(u)/2) · cos((2x+1)uπ/16)), C(0)=1/√2 else 1
    * — 64 integer constants shared verbatim by the DuckDB oracle, so
    * pixel(x,y) = floor((Σ S(v·8+u)·T(u,x)·T(v,y) + 2¹⁹)/2²⁰) + 128,
    * clamped to [0,255], is bit-identical in both engines.
    */
  private[ops] val idctT: Array[Array[Int]] = Array(
    Array(362, 362, 362, 362, 362, 362, 362, 362),
    Array(502, 426, 284, 100, -100, -284, -426, -502),
    Array(473, 196, -196, -473, -473, -196, 196, 473),
    Array(426, -100, -502, -284, 284, 502, 100, -426),
    Array(362, -362, -362, 362, 362, -362, -362, 362),
    Array(284, -502, 100, 426, -426, -100, 502, -284),
    Array(196, -473, 473, -196, -196, 473, -473, 196),
    Array(100, -284, 426, -502, 502, -426, 284, -100))

  /** Integer IDCT with the published rounding over NATURAL-order
    * dequantized coefficients; returns the 64 clamped pixels
    * (row-major). Two separable passes, NO intermediate rounding —
    * exactness is the whole point.
    */
  private[ops] def idctBlock(sNat: Array[Long]): Array[Int] = {
    val m = Array.ofDim[Long](8, 8) // m(u)(y) = Σ_v S(v,u)·T(v,y)
    var u = 0
    while (u < 8) {
      var y = 0
      while (y < 8) {
        var acc = 0L
        var v = 0
        while (v < 8) { acc += sNat(v * 8 + u) * idctT(v)(y); v += 1 }
        m(u)(y) = acc
        y += 1
      }
      u += 1
    }
    val out = new Array[Int](64)
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        var acc = 0L
        var uu = 0
        while (uu < 8) { acc += m(uu)(y) * idctT(uu)(x); uu += 1 }
        val g = ((acc + 524288L) >> 20).toInt + 128
        out(y * 8 + x) = math.max(0, math.min(255, g))
        x += 1
      }
      y += 1
    }
    out
  }

  /** Baseline JFIF bytes with REAL AC coefficients for document `id`:
    * the [[encodeJpeg]] container (markers, Annex K tables, DRI=3,
    * stuffing) with the full run-length/magnitude entropy coding.
    */
  private[ops] def encodeJpegAc(id: Long, nChars: Long): Array[Byte] = {
    val (w, h) = dims(nChars)
    val (bw, bh) = (w / 8, h / 8)
    val blocks = Array.tabulate(bw * bh) { b =>
      val z = new Array[Int](64)
      z(0) = dcQ(id, b.toLong)
      acPositions.foreach(k => z(k) = acQ(id, b.toLong, k))
      z
    }
    encodeCoefs(blocks, bw, bh, s"junk-comment-$id")
  }

  /** Encode explicit zigzag-space quantized coefficient blocks — the
    * general baseline entropy coder (F.1.2): DC difference + category,
    * AC (run, size) symbols with ZRL for runs ≥ 16 and EOB for a
    * trailing zero run.
    */
  private[ops] def encodeCoefs(
      blocks: Array[Array[Int]], bw: Int, bh: Int, junk: String): Array[Byte] = {
    val (w, h) = (bw * 8, bh * 8)
    val out = new java.io.ByteArrayOutputStream()
    def marker(m: Int): Unit = { out.write(0xff); out.write(m) }
    def be16(v: Int): Unit = { out.write((v >> 8) & 0xff); out.write(v & 0xff) }

    marker(0xd8) // SOI
    marker(0xe0); be16(16) // APP0 / JFIF
    "JFIF".foreach(c => out.write(c.toInt)); out.write(0)
    out.write(1); out.write(1)
    out.write(0); be16(1); be16(1)
    out.write(0); out.write(0)
    marker(0xfe); be16(2 + junk.length)
    junk.foreach(c => out.write(c.toInt))
    marker(0xdb); be16(67); out.write(0x00)
    (0 until 64).foreach(i => out.write(quantNatural(zigzag(i))))
    marker(0xc4); be16(2 + 1 + 16 + dcVals.length + 1 + 16 + acVals.length)
    out.write(0x00); dcBits.foreach(out.write); dcVals.foreach(out.write)
    out.write(0x10); acBits.foreach(out.write); acVals.foreach(out.write)
    marker(0xc0); be16(11)
    out.write(8); be16(h); be16(w); out.write(1)
    out.write(1); out.write(0x11); out.write(0)
    marker(0xdd); be16(4); be16(3)
    marker(0xda); be16(8)
    out.write(1); out.write(1); out.write(0x00)
    out.write(0); out.write(63); out.write(0)

    val bits = new BitWriter(out)
    def category(mag: Int): Int = 32 - Integer.numberOfLeadingZeros(mag)
    def putCoded(tab: Map[Int, (Int, Int)], sym: Int): Unit = {
      val (c, l) = tab(sym); bits.put(c, l)
    }
    var pred = 0
    var b = 0
    while (b < blocks.length) {
      if (b > 0 && b % 3 == 0) {
        bits.align()
        marker(0xd0 + ((b / 3 - 1) % 8))
        pred = 0
      }
      val z = blocks(b)
      val diff = z(0) - pred
      pred = z(0)
      val ssss = category(math.abs(diff))
      putCoded(dcEnc, ssss)
      if (ssss > 0)
        bits.put(if (diff >= 0) diff else diff + (1 << ssss) - 1, ssss)
      var k = 1
      var run = 0
      while (k < 64) {
        val v = z(k)
        if (v == 0) run += 1
        else {
          while (run >= 16) { putCoded(acEnc, 0xf0); run -= 16 } // ZRL
          val s = category(math.abs(v))
          putCoded(acEnc, (run << 4) | s)
          bits.put(if (v >= 0) v else v + (1 << s) - 1, s)
          run = 0
        }
        k += 1
      }
      if (run > 0) putCoded(acEnc, 0x00) // EOB
      b += 1
    }
    bits.align()
    marker(0xd9)
    out.toByteArray
  }

  // ---- decoder ------------------------------------------------------

  /** Canonical decode tables in the T.81 F.2.2.3 MINCODE/MAXCODE/VALPTR
    * form, built from the BITS/HUFFVAL bytes parsed out of the DHT
    * segment.
    */
  private final class HuffTable(bits: Array[Int], vals: Array[Int]) {
    private val minCode = new Array[Int](17)
    private val maxCode = Array.fill(17)(-1)
    private val valPtr = new Array[Int](17)
    locally {
      var code = 0
      var k = 0
      for (len <- 1 to 16) {
        if (bits(len - 1) > 0) {
          valPtr(len) = k
          minCode(len) = code
          code += bits(len - 1); k += bits(len - 1)
          maxCode(len) = code - 1
        }
        code <<= 1
      }
    }
    def decode(in: BitReader): Int = {
      var code = in.bit()
      var len = 1
      while (code > maxCode(len)) { // maxCode = -1 ⇒ no codes at len
        require(len < 16, "huffman code overruns 16 bits")
        code = (code << 1) | in.bit()
        len += 1
      }
      vals(valPtr(len) + code - minCode(len))
    }
  }

  private final class BitReader(bytes: Array[Byte], var pos: Int) {
    private var acc = 0
    private var n = 0
    def bit(): Int = {
      if (n == 0) {
        require(pos < bytes.length, "entropy stream truncated")
        val b = bytes(pos) & 0xff
        pos += 1
        if (b == 0xff) {
          require(pos < bytes.length && bytes(pos) == 0x00,
            "unstuffed 0xFF inside entropy data")
          pos += 1 // consume the stuffing zero
        }
        acc = b; n = 8
      }
      n -= 1
      (acc >>> n) & 1
    }
    def align(): Unit = n = 0
    /** Read a raw marker (two bytes, byte-aligned, never stuffed). */
    def rawMarker(): Int = {
      require(n == 0, "marker read while bits pending")
      require(pos + 1 < bytes.length, "truncated at marker")
      require((bytes(pos) & 0xff) == 0xff, "expected marker 0xFF")
      pos += 2
      bytes(pos - 1) & 0xff
    }
  }

  private def extend(v: Int, ssss: Int): Int =
    if (ssss == 0) 0
    else if (v < (1 << (ssss - 1))) v - (1 << ssss) + 1
    else v

  /** Everything the scan needs, recovered from the marker walk. */
  private final case class Headers(
      quant: Array[Int], dcTab: HuffTable, acTab: HuffTable,
      w: Int, h: Int, dri: Int, sosAt: Int)

  /** The marker-segment container walk (SOI/APP0/COM/DQT/DHT/SOF0/DRI/
    * SOS) shared by the DC-only and AC decoders. Fails loudly on any
    * irregularity.
    */
  private def parseHeaders(bytes: Array[Byte]): Headers = {
    def be16(off: Int): Int =
      ((bytes(off) & 0xff) << 8) | (bytes(off + 1) & 0xff)
    require(bytes.length > 4 && (bytes(0) & 0xff) == 0xff &&
      (bytes(1) & 0xff) == 0xd8, "not a JPEG: missing SOI")
    var pos = 2
    var quant: Array[Int] = null
    var dcTab: HuffTable = null
    var acTab: HuffTable = null
    var w = 0
    var h = 0
    var dri = 0
    var sosAt = -1
    while (sosAt < 0) {
      require(pos + 3 < bytes.length, "truncated before SOS")
      require((bytes(pos) & 0xff) == 0xff, s"expected marker at $pos")
      val m = bytes(pos + 1) & 0xff
      val len = be16(pos + 2)
      val body = pos + 4
      m match {
        case 0xdb =>
          require((bytes(body) & 0xff) == 0x00, "only 8-bit quant table 0")
          val q = new Array[Int](64)
          (0 until 64).foreach(i => q(zigzag(i)) = bytes(body + 1 + i) & 0xff)
          quant = q
        case 0xc4 =>
          var o = body
          while (o < pos + 2 + len) {
            val tc = (bytes(o) & 0xff) >> 4
            val bits = Array.tabulate(16)(i => bytes(o + 1 + i) & 0xff)
            val nv = bits.sum
            val vals = Array.tabulate(nv)(i => bytes(o + 17 + i) & 0xff)
            val t = new HuffTable(bits, vals)
            if (tc == 0) dcTab = t else acTab = t
            o += 17 + nv
          }
        case 0xc0 =>
          require((bytes(body) & 0xff) == 8, "8-bit precision only")
          h = be16(body + 1); w = be16(body + 3)
          require((bytes(body + 5) & 0xff) == 1, "grayscale only")
        case 0xdd => dri = be16(body)
        case 0xda => sosAt = pos + 2 + len
        case 0xe0 | 0xfe => () // APP0 / COM: skip
        case other => sys.error(f"unsupported marker 0xff$other%02x")
      }
      pos += 2 + len
    }
    require(quant != null && dcTab != null && acTab != null && w > 0,
      "scan started before tables/frame")
    Headers(quant, dcTab, acTab, w, h, dri, sosAt)
  }

  /** Decode the JFIF bytes back to (width, height, pixSum, pixWsum) —
    * dims and both raster-weighted gray statistics, everything
    * recovered through the parsed tables. Fails loudly on any marker,
    * stuffing, restart, or Huffman irregularity.
    */
  private[ops] def decodeJpeg(bytes: Array[Byte]): (Int, Int, Long, Long) = {
    val Headers(quant, dcTab, acTab, w, h, dri, sosAt) = parseHeaders(bytes)
    val (bw, bh) = ((w + 7) / 8, (h + 7) / 8)
    val in = new BitReader(bytes, sosAt)
    val grays = new Array[Int](bw * bh)
    var pred = 0
    var b = 0
    while (b < bw * bh) {
      if (dri > 0 && b > 0 && b % dri == 0) {
        in.align()
        val m = in.rawMarker()
        require(m == 0xd0 + ((b / dri - 1) % 8), f"bad restart 0xff$m%02x")
        pred = 0
      }
      val ssss = dcTab.decode(in)
      var payload = 0
      var i = 0
      while (i < ssss) { payload = (payload << 1) | in.bit(); i += 1 }
      pred += extend(payload, ssss)
      val ac = acTab.decode(in)
      require(ac == 0x00, f"DC-only stream carries AC symbol 0x$ac%02x")
      // dequantized S00 = pred·q0; DC-only IDCT: every pixel = S00/8+128
      grays(b) = (pred * quant(0)) / 8 + 128
      b += 1
    }
    in.align()
    require(in.rawMarker() == 0xd9, "missing EOI after scan")

    var pixSum = 0L
    var pixWsum = 0L
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val g = grays((y / 8) * bw + (x / 8))
        val p = y.toLong * w + x
        pixSum += g
        pixWsum += (p + 1) * g
        x += 1
      }
      y += 1
    }
    (w, h, pixSum, pixWsum)
  }

  /** Full-baseline decode (AC profile): the same marker walk, then per
    * block a complete coefficient decode — DC difference + EXTEND, AC
    * (run, size) symbols with ZRL (0xF0 = skip 16) and EOB — dequantize
    * in natural order, [[idctBlock]] with the published rounding, and
    * the raster gray statistics. Restart resync and stuffing exactly as
    * the DC path.
    */
  private[ops] def decodeJpegAc(bytes: Array[Byte]): (Int, Int, Long, Long) = {
    val Headers(quant, dcTab, acTab, w, h, dri, sosAt) = parseHeaders(bytes)
    val (bw, bh) = ((w + 7) / 8, (h + 7) / 8)
    val in = new BitReader(bytes, sosAt)
    val pixels = new Array[Array[Int]](bw * bh)
    var pred = 0
    var b = 0
    while (b < bw * bh) {
      if (dri > 0 && b > 0 && b % dri == 0) {
        in.align()
        val m = in.rawMarker()
        require(m == 0xd0 + ((b / dri - 1) % 8), f"bad restart 0xff$m%02x")
        pred = 0
      }
      val sNat = new Array[Long](64)
      val ssss = dcTab.decode(in)
      var payload = 0
      var i = 0
      while (i < ssss) { payload = (payload << 1) | in.bit(); i += 1 }
      pred += extend(payload, ssss)
      sNat(0) = pred.toLong * quant(0)
      var k = 1
      var open = true
      while (open && k < 64) {
        val rs = acTab.decode(in)
        val r = rs >> 4
        val s = rs & 0x0f
        if (s == 0) {
          if (r == 15) k += 16 // ZRL
          else open = false // EOB
        } else {
          k += r
          require(k < 64, s"AC run overflows the block at k=$k")
          var p = 0
          var j = 0
          while (j < s) { p = (p << 1) | in.bit(); j += 1 }
          val nat = zigzag(k)
          sNat(nat) = extend(p, s).toLong * quant(nat)
          k += 1
        }
      }
      pixels(b) = idctBlock(sNat)
      b += 1
    }
    in.align()
    require(in.rawMarker() == 0xd9, "missing EOI after scan")

    var pixSum = 0L
    var pixWsum = 0L
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val g = pixels((y / 8) * bw + (x / 8))((y % 8) * 8 + (x % 8))
        val p = y.toLong * w + x
        pixSum += g
        pixWsum += (p + 1) * g
        x += 1
      }
      y += 1
    }
    (w, h, pixSum, pixWsum)
  }
}
