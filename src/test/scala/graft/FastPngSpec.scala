package graft

import org.scalatest.funsuite.AnyFunSuite

/** FastPng (round 6) must be pixel-equivalent, under the REAL decoder
  * s05/s08 use (javax.imageio), to the previous BufferedImage +
  * ImageIO.write synthesis path — over the actual synthesis parameter
  * space (dims 8..64, id-derived seeds, negative seeds included).
  */
class FastPngSpec extends AnyFunSuite {

  private def oldPng(w: Int, h: Int, seed: Long): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        raster.setSample(x, y, 0, ((x * 7 + y * 13 + seed) % 256).toInt)
        x += 1
      }
      y += 1
    }
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    baos.toByteArray
  }

  private def fastPng(w: Int, h: Int, seed: Long): Array[Byte] = {
    val px = new Array[Byte](w * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        px(y * w + x) = ((x * 7 + y * 13 + seed) % 256).toByte
        x += 1
      }
      y += 1
    }
    graft.functions.FastPng.encodeGray(w, h, px)
  }

  private def decode(b: Array[Byte]): java.awt.image.BufferedImage = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(b))
    assert(img != null, "undecodable PNG")
    img
  }

  test("ImageIO decode of FastPng == decode of the ImageIO-written PNG") {
    val cases = Seq((16, 16, 0L), (64, 63, 31L), (8, 8, 17L), (33, 9, 123457L),
      (16, 47, 49999L * 31), (24, 24, Long.MaxValue / 7), (10, 30, 5L * 31 + 2 * 17))
    cases.foreach { case (w, h, seed) =>
      val (a, b) = (decode(fastPng(w, h, seed)), decode(oldPng(w, h, seed)))
      assert(a.getWidth == b.getWidth && a.getHeight == b.getHeight, s"dims at $w x $h seed $seed")
      for (y <- 0 until h; x <- 0 until w)
        assert(a.getRaster.getSample(x, y, 0) == b.getRaster.getSample(x, y, 0),
          s"pixel ($x,$y) at $w x $h seed $seed")
    }
  }

  test("PNG signature bytes preserved (s05's magic column)") {
    val b = fastPng(16, 16, 42L)
    assert(b.take(4).map(x => f"$x%02x").mkString == "89504e47")
  }

  test("incompressible pixels take the grow path and decode pixel-identical") {
    // random samples do not deflate, so the compressed stream outgrows
    // the raw-size buffer — the path the gradient cases above never reach
    val (w, h) = (512, 512)
    val px = new Array[Byte](w * h)
    new scala.util.Random(7).nextBytes(px)
    val png = graft.functions.FastPng.encodeGray(w, h, px)
    // signature 8 + IHDR 25 + IDAT header/crc 12 + IEND 12 around the
    // zlib stream; the non-grow path caps that stream at raw + 64 bytes
    val zlen = png.length - 57
    assert(zlen > (w + 1) * h + 64, s"grow path not reached: zlib stream $zlen bytes")
    val img = decode(png)
    assert(img.getWidth == w && img.getHeight == h)
    for (y <- 0 until h; x <- 0 until w)
      assert(img.getRaster.getSample(x, y, 0) == (px(y * w + x) & 0xff), s"pixel ($x,$y)")
  }

  test("negative modulo seeds keep byte parity with setSample semantics") {
    // setSample truncates an Int sample to the low 8 bits; (v % 256)
    // is negative for negative seeds and .toByte keeps the same low
    // bits — decode must agree on the unsigned sample either way
    val (w, h, seed) = (16, 16, -12345L)
    val (a, b) = (decode(fastPng(w, h, seed)), decode(oldPng(w, h, seed)))
    for (y <- 0 until h; x <- 0 until w)
      assert(a.getRaster.getSample(x, y, 0) == b.getRaster.getSample(x, y, 0))
  }
}
