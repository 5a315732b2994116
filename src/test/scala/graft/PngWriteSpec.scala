package graft

import java.io.ByteArrayInputStream

import javax.imageio.ImageIO

import org.apache.spark.sql.functions._

/** png_write against the JDK's INDEPENDENT ImageIO PNG plugin, both
  * directions, pixel-exact — the gated plan (mm_png_write) round
  * trips through our own png_decode; this spec pins that the emitted
  * bytes are real PNG, not a private dialect. */
class PngWriteSpec extends SparkSuite {

  private def pngOf(w: Int, h: Int, px: Array[Byte]): Array[Byte] = {
    spark.range(1)
      .select(lit(px).as("p"))
      .selectExpr(s"png_write(${w}L, ${h}L, p)")
      .head.getAs[Array[Byte]](0)
  }

  private def images: Seq[(Int, Int, Array[Byte])] = Seq(
    // horizontal gradient (Sub filter wins), vertical gradient (Up
    // wins), constant, random, single pixel, wide row
    (32, 8, Array.tabulate(256)(i => (i % 32 * 8).toByte)),
    (8, 32, Array.tabulate(256)(i => (i / 8 * 8).toByte)),
    (16, 16, Array.fill(256)(0x55.toByte)),
    (19, 7, { val r = new scala.util.Random(7L)
      val a = new Array[Byte](133); r.nextBytes(a); a }),
    (1, 1, Array(0xff.toByte)),
    (257, 1, Array.tabulate(257)(i => (i * 31 % 256).toByte)))

  test("ImageIO reads png_write output pixel-exactly") {
    images.foreach { case (w, h, px) =>
      val img = ImageIO.read(new ByteArrayInputStream(pngOf(w, h, px)))
      assert(img != null, s"ImageIO rejected ${w}x$h")
      assert(img.getWidth == w && img.getHeight == h)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val got = img.getRaster.getSample(x, y, 0)
          assert(got == (px(y * w + x) & 0xff),
            s"pixel ($x,$y) of ${w}x$h: $got")
          x += 1
        }
        y += 1
      }
    }
  }

  test("our png_decode reads ImageIO-written grayscale PNGs " +
    "(cross direction)") {
    images.foreach { case (w, h, px) =>
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          img.getRaster.setSample(x, y, 0, px(y * w + x) & 0xff)
          x += 1
        }
        y += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      assert(ImageIO.write(img, "png", bos))
      val d = spark.range(1).select(lit(bos.toByteArray).as("b"))
        .selectExpr("png_decode(b)").head.getSeq[Long](0)
      assert(d(0) == 1L, s"png_decode rejected ImageIO ${w}x$h")
      assert(d(1) == w.toLong && d(2) == h.toLong && d(3) == 8L)
      assert(d(5) == px.map(_ & 0xffL).sum)
      assert(d(6) == (px(0) & 0xffL) && d(7) == (px.last & 0xffL))
    }
  }

  test("png_write -> our png_decode round trip (every chunk CRC " +
    "recomputed, real inflate)") {
    images.foreach { case (w, h, px) =>
      val d = spark.range(1).select(lit(pngOf(w, h, px)).as("b"))
        .selectExpr("png_decode(b)").head.getSeq[Long](0)
      assert(d(0) == 1L && d(1) == w.toLong && d(2) == h.toLong)
      assert(d(4) == (w + 1).toLong * h)
      assert(d(5) == px.map(_ & 0xffL).sum)
    }
  }

  test("shape mismatch and degenerate dims return NULL") {
    val r = spark.range(1).selectExpr(
      "png_write(3L, 2L, X'0102030405') AS a", // 5 != 6
      "png_write(0L, 1L, X'') AS b",
      "png_write(-1L, 1L, X'01') AS c").head
    assert(r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2))
  }
}
