package graft

import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{MediaPayload, MultimodalOps}

/** Real-image decode coverage: javax.imageio decode inside
  * extractFeatures must produce true pixel dimensions and the
  * deterministic 8x8 grayscale thumbnail with known pixel values. */
class MultimodalDecodeSpec extends AnyFunSuite with SparkTestBase {

  private def pngBytes(img: BufferedImage): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  /** 16x8: left half pure black, right half pure white. */
  private def halfAndHalf(): BufferedImage = {
    val img = new BufferedImage(16, 8, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 8; x <- 0 until 16)
      img.setRGB(x, y, if (x < 8) 0x000000 else 0xffffff)
    img
  }

  test("PNG payload decodes to real dimensions and known thumbnail") {
    import spark.implicits._
    val bytes = pngBytes(halfAndHalf())
    val media = Seq(MediaPayload(1L, "img", 0, 0, 0, bytes)).toDS()
    val f = MultimodalOps.extractFeatures(media).collect().head
    assert(f.width == 16 && f.height == 8)
    assert(f.thumbnail.length == 64)
    // cell (y, x) samples pixel (x*16/8, y*8/8) = (2x, y): columns
    // 0-3 hit x<8 (black, luma 0); columns 4-7 hit white (luma 255)
    for (y <- 0 until 8; x <- 0 until 8) {
      val expected = if (x < 4) 0 else 255
      assert((f.thumbnail(y * 8 + x) & 0xff) == expected,
        s"thumbnail($y,$x)")
    }
    // byte stats still computed over the ENCODED bytes
    assert(f.n_bytes == bytes.length)
  }

  test("gray ramp thumbnail uses integer luma of the sampled pixel") {
    import spark.implicits._
    // 8x8 image where pixel (x, y) has r=g=b=x*30: sampling is 1:1
    val img = new BufferedImage(8, 8, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 8; x <- 0 until 8) {
      val v = x * 30
      img.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    val media = Seq(MediaPayload(2L, "img", 0, 0, 0, pngBytes(img))).toDS()
    val f = MultimodalOps.extractFeatures(media).collect().head
    for (x <- 0 until 8) {
      val v = x * 30
      val luma = (77 * v + 150 * v + 29 * v) >> 8
      assert((f.thumbnail(x) & 0xff) == luma, s"col $x")
    }
  }

  test("non-image payloads keep the byte-level fallback path") {
    import spark.implicits._
    val media = Seq(
      MediaPayload(3L, "audio", 0, 0, 0,
        "just some text bytes".getBytes("UTF-8"))).toDS()
    val f = MultimodalOps.extractFeatures(media).collect().head
    assert(f.width == 0 && f.height == 0)
    assert(f.thumbnail.length == 8) // first-8-bytes fallback
  }

  test("truncated PNG header is rejected, not crashed on") {
    import spark.implicits._
    // valid magic, garbage body -> ImageIO returns null/throws -> None
    val junk = Array[Byte](0x89.toByte, 'P', 'N', 'G', 13, 10, 26, 10,
      1, 2, 3, 4)
    val media = Seq(MediaPayload(4L, "img", 0, 0, 0, junk)).toDS()
    val f = MultimodalOps.extractFeatures(media).collect().head
    assert(f.width == 0 && f.height == 0)
  }

  test("looksLikeImage sniffs magic bytes, not extensions") {
    assert(MultimodalOps.looksLikeImage(pngBytes(halfAndHalf())))
    assert(!MultimodalOps.looksLikeImage("plain text".getBytes("UTF-8")))
    assert(!MultimodalOps.looksLikeImage(Array[Byte](1, 2)))
    // the 2-byte BMP magic alone must NOT match ordinary text
    assert(!MultimodalOps.looksLikeImage(
      "BMW sales figures for the quarter".getBytes("UTF-8")))
    // a real BMP (written by ImageIO) still passes the tightened check
    val out = new ByteArrayOutputStream()
    javax.imageio.ImageIO.write(halfAndHalf(), "bmp", out)
    assert(MultimodalOps.looksLikeImage(out.toByteArray))
  }
}
