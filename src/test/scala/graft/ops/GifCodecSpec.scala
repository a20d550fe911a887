package graft.ops

import java.io.ByteArrayInputStream
import javax.imageio.{IIOException, ImageIO}
import javax.imageio.stream.MemoryCacheImageInputStream

import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/** The from-spec GIF87a/LZW encoder, checked by decoding its bytes with
  * `javax.imageio`: round-trips through the regimes the fixture images
  * never reach (code widths 9→12, the forced reset at a full 4096-entry
  * dictionary, the KwKwK self-reference), a code stream assembled by
  * hand, the index→palette contract the oracle predicts, and
  * loud-failure checks on malformed containers.
  */
class GifCodecSpec extends AnyFlatSpec with Matchers {

  /** Wrap raster-order indices as a `w`-wide GIF and read back the
    * palette indices ImageIO decodes.
    */
  private def roundTrip(idx: Array[Byte], w: Int, clearEvery: Int): Seq[Int] = {
    val h = idx.length / w
    require(w * h == idx.length)
    val gif = GifCodec.indexedGif(w, h, idx, clearEvery)
    val img = ImageIO.read(new MemoryCacheImageInputStream(new ByteArrayInputStream(gif)))
    img should not be null
    (img.getWidth, img.getHeight) shouldBe ((w, h))
    img.getRaster.getSamples(0, 0, w, h, 0, null: Array[Int]).toSeq
  }

  private def symbols(idx: Array[Byte]): Seq[Int] = idx.toSeq.map(_ & 0xff)

  "lzw round-trip" should "survive width growth to 12 bits and dictionary resets" in {
    val rnd = new scala.util.Random(11)
    // 40k symbols with enough novelty to assign > 4096 codes: exercises
    // 9->10->11->12 bit widths AND the forced clear at a full dictionary
    val big = Array.fill(40000)(rnd.nextInt(256).toByte)
    roundTrip(big, 200, clearEvery = 0) shouldBe symbols(big)
    // highly repetitive: long phrases, rapid dictionary growth
    val rep = ("abcabd" * 3000).getBytes("US-ASCII")
    roundTrip(rep, 100, clearEvery = 0) shouldBe symbols(rep)
    // periodic mid-stream clears interleaved with growth
    roundTrip(big, 200, clearEvery = 100) shouldBe symbols(big)
  }

  it should "handle the KwKwK self-referential case" in {
    // 'aaaa...' makes the encoder emit each code right after defining
    // it, which a decoder must resolve before the code is in its own
    // dictionary — the canonical KwKwK stream
    val runs = Array.fill(5000)('a'.toByte)
    roundTrip(runs, 100, clearEvery = 0) shouldBe symbols(runs)
    val mixed = ("aaaabaaaabaaaab" * 400).getBytes("US-ASCII")
    roundTrip(mixed, 100, clearEvery = 0) shouldBe symbols(mixed)
  }

  it should "decode a hand-assembled code stream (decoder independent of encoder)" in {
    // CLEAR, 1, 2, 258 (=1,2), 260 (KwKwK: 258+first(258)=1,2,1), EOI
    // decodes to 1 2 1 2 1 2 1, packed as 9-bit codes LSB-first
    val codes = Seq(256, 1, 2, 258, 260, 257)
    var acc = 0L
    var nBits = 0
    val out = new java.io.ByteArrayOutputStream()
    codes.foreach { c =>
      acc |= c.toLong << nBits
      nBits += 9
      while (nBits >= 8) { out.write((acc & 0xff).toInt); acc >>>= 8; nBits -= 8 }
    }
    if (nBits > 0) out.write((acc & 0xff).toInt)
    val syms = Array[Byte](1, 2, 1, 2, 1, 2, 1)
    // the encoder emits exactly the hand-built stream, and ImageIO
    // decodes that stream to the symbols
    GifCodec.lzwEncode(syms, clearEvery = 0).toSeq shouldBe out.toByteArray.toSeq
    roundTrip(syms, 7, clearEvery = 0) shouldBe symbols(syms)
  }

  "encodeGif/decodeGif" should "reproduce the index->palette contract end-to-end" in {
    for (id <- 0L until 40L; nc <- Seq(0L, 17L, 95L, 1000L, 4321L)) {
      val (w, h, sum, wsum) = Multimodal.imageFeatures(id, GifCodec.encodeGif(id, nc))
      w shouldBe (4 + nc % 13).toInt
      h shouldBe (3 + nc % 7).toInt
      var eSum = 0L; var eWsum = 0L
      var p = 0L
      while (p < w.toLong * h) {
        val rgb = GifCodec.palRgbSum(GifCodec.palIndex(id, p))
        eSum += rgb; eWsum += (p + 1) * rgb
        p += 1
      }
      withClue(s"id=$id nc=$nc") { (sum, wsum) shouldBe ((eSum, eWsum)) }
    }
  }

  it should "fail loudly on malformed input" in {
    // a GIF header with nothing valid behind it
    an[IIOException] should be thrownBy
      Multimodal.imageFeatures(1L, "GIF89a-not-really".getBytes("US-ASCII"))
    // cut inside the LZW sub-blocks: the decode must not silently
    // emit a short image
    val good = GifCodec.encodeGif(3L, 17L)
    an[IIOException] should be thrownBy Multimodal.imageFeatures(3L, good.take(good.length - 20))
  }
}
