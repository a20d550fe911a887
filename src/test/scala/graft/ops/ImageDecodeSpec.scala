package graft.ops

import javax.imageio.IIOException

import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/** The `javax.imageio` PNG path behind `mm_decode_png` and the shared
  * [[Multimodal.imageFeatures]] decoder (the GIF side is in
  * [[GifCodecSpec]]).
  */
class ImageDecodeSpec extends AnyFlatSpec with Matchers {

  "encodePng/imageFeatures" should "reproduce the pixel contract end-to-end" in {
    for (id <- 0L until 40L; nc <- Seq(0L, 17L, 95L, 1000L, 4321L)) {
      val (w, h, sum, wsum) = Multimodal.imageFeatures(id, Multimodal.encodePng(id, nc))
      w shouldBe (4 + nc % 13).toInt
      h shouldBe (3 + nc % 7).toInt
      var eSum = 0L; var eWsum = 0L
      var p = 0L
      while (p < w.toLong * h) {
        val (r, g, b) = Multimodal.pixel(id, p)
        eSum += r + g + b; eWsum += (p + 1) * (r + g + b)
        p += 1
      }
      withClue(s"id=$id nc=$nc") { (sum, wsum) shouldBe ((eSum, eWsum)) }
    }
  }

  "imageFeatures" should "name the doc when no reader accepts the bytes" in {
    val e = the[IllegalArgumentException] thrownBy
      Multimodal.imageFeatures(42L, "not an image at all".getBytes("US-ASCII"))
    e.getMessage should include("doc 42")
  }

  it should "throw on a PNG cut inside its image data" in {
    val png = Multimodal.encodePng(3L, 1000L)
    val idat = new String(png, "ISO-8859-1").indexOf("IDAT")
    idat should be > 0
    val len = java.nio.ByteBuffer.wrap(png, idat - 4, 4).getInt
    // keep the chunk header and half of the compressed stream
    an[IIOException] should be thrownBy
      Multimodal.imageFeatures(3L, png.take(idat + 4 + len / 2))
  }
}
