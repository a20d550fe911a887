package graft.ops

/** GIF87a encoder — the dictionary-coder fixture generator of the
  * multimodal pillar: variable-width LZW (GIF's flavor: code widths
  * 9→12 bits LSB-first, clear/EOI control codes) inside the GIF
  * container (logical screen descriptor, global color table, sub-block
  * framing), written from the public GIF87a specification. Decoding is
  * `javax.imageio`'s job ([[Multimodal.imageFeatures]]); the encoder
  * stays hand-written because it emits exactly the palette and index
  * stream the oracle predicts, mid-stream CLEAR codes included.
  *
  * Fixture contract (the oracle's whole knowledge): image dims are the
  * shared media formulas w = 4 + n_chars%13, h = 3 + n_chars%7; pixel
  * p (raster order) carries palette INDEX c = (13·id + 17·p + 7) % 256,
  * and palette entry c is r=(11c+3)%256, g=(7c+29)%256, b=(5c+17)%256.
  * The decoded r+g+b passes THROUGH the file's color table, so a
  * mis-written palette (or an index stream one LZW code off) cannot
  * hash-match. The encoder inserts a mid-stream CLEAR code every 100
  * symbols (legal per spec, and otherwise never exercised at fixture
  * image sizes — dictionaries only fill at 4096 codes) and splits the
  * code bytes into ≤ 255-byte sub-blocks as the format requires.
  */
object GifCodec {

  private[ops] def palIndex(id: Long, p: Long): Int =
    ((13 * id + 17 * p + 7) % 256).toInt

  private[ops] def palRgbSum(c: Int): Int =
    (11 * c + 3) % 256 + (7 * c + 29) % 256 + (5 * c + 17) % 256

  // ---- LZW (GIF variant, LSB-first bit packing) ----------------------

  /** Encode 8-bit symbols as a GIF LZW code stream (min code size 8).
    * `clearEvery` > 0 inserts periodic CLEAR codes (dictionary resets)
    * so small images still exercise the reset path.
    */
  private[ops] def lzwEncode(data: Array[Byte], clearEvery: Int): Array[Byte] = {
    val minCode = 8
    val clear = 1 << minCode // 256
    val eoi = clear + 1 // 257
    val out = new java.io.ByteArrayOutputStream()
    var acc = 0
    var nBits = 0
    var width = minCode + 1
    def emit(code: Int): Unit = {
      acc |= code << nBits
      nBits += width
      while (nBits >= 8) { out.write(acc & 0xff); acc >>>= 8; nBits -= 8 }
    }
    var dict = scala.collection.mutable.HashMap[List[Byte], Int]()
    var nextCode = eoi + 1
    def reset(): Unit = {
      dict = scala.collection.mutable.HashMap[List[Byte], Int]()
      nextCode = eoi + 1
      width = minCode + 1
    }
    emit(clear)
    reset()
    var cur: List[Byte] = Nil
    var emitted = 0
    var i = 0
    while (i < data.length) {
      val k = data(i)
      val ext = k :: cur // reversed-prefix key: cheap cons, stable equality
      if (ext.length == 1 || dict.contains(ext)) cur = ext
      else {
        val code = if (cur.length == 1) cur.head & 0xff else dict(cur)
        emit(code)
        emitted += 1
        // assign only while a 12-bit code remains assignable — mirrors a
        // decoder's `nextCode < 4096` guard, so code 4096 (unemittable at
        // the 12-bit cap) is never even transiently present in the dict
        val full = nextCode == 4096
        if (!full) {
          dict(ext) = nextCode
          nextCode += 1
          // width grows when the NEXT code to assign no longer fits
          if (nextCode == (1 << width) + 1 && width < 12) width += 1
        }
        cur = List(k)
        if (full || (clearEvery > 0 && emitted % clearEvery == 0)) {
          emit(clear); reset()
          // restart the phrase after a reset: cur stays the single symbol
        }
      }
      i += 1
    }
    if (cur.nonEmpty)
      emit(if (cur.length == 1) cur.head & 0xff else dict(cur))
    emit(eoi)
    if (nBits > 0) out.write(acc & 0xff)
    out.toByteArray
  }

  // ---- GIF container --------------------------------------------------

  private def le16(v: Int): Array[Byte] =
    Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)

  /** Render a genuine GIF87a for a document. */
  private[ops] def encodeGif(id: Long, nChars: Long): Array[Byte] = {
    val w = (4 + nChars % 13).toInt
    val h = (3 + nChars % 7).toInt
    indexedGif(w, h, Array.tabulate(w * h)(p => palIndex(id, p).toByte), clearEvery = 100)
  }

  /** Wrap a raster-order palette-index array (one byte per pixel) in a
    * GIF87a container with the fixture's 256-entry global color table.
    */
  private[ops] def indexedGif(w: Int, h: Int, idx: Array[Byte], clearEvery: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write("GIF87a".getBytes("US-ASCII"), 0, 6)
    out.write(le16(w), 0, 2); out.write(le16(h), 0, 2)
    out.write(0xf7) // global color table, 8-bit color resolution, 256 entries
    out.write(0) // background color index
    out.write(0) // aspect
    var c = 0
    while (c < 256) {
      out.write((11 * c + 3) % 256); out.write((7 * c + 29) % 256)
      out.write((5 * c + 17) % 256)
      c += 1
    }
    out.write(0x2c) // image descriptor
    out.write(le16(0), 0, 2); out.write(le16(0), 0, 2)
    out.write(le16(w), 0, 2); out.write(le16(h), 0, 2)
    out.write(0) // no local color table, not interlaced
    out.write(8) // LZW minimum code size
    val lzw = lzwEncode(idx, clearEvery)
    var off = 0
    while (off < lzw.length) { // <=255-byte sub-blocks
      val n = math.min(255, lzw.length - off)
      out.write(n)
      out.write(lzw, off, n)
      off += n
    }
    out.write(0) // block terminator
    out.write(0x3b) // trailer
    out.toByteArray
  }
}
