package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, LongType}

/** `bmp_decode(bytes)` — a REAL BMP (BITMAPINFOHEADER, 24-bit
  * uncompressed) decoder as a native codegen expression, the image
  * sibling of [[WavDecode]] (the two header formats that are pure
  * byte arithmetic, needing no codec library). Nothing is
  * synthetic-by-construction: the parser validates the `BM` magic,
  * reads the pixel-array offset and the little-endian signed
  * width/height, requires planes=1 / bpp=24 / BI_RGB, and then walks
  * the pixel array the way a real decoder must — rows padded to
  * 4-byte boundaries (`stride = ⌈3·w/4⌉·4`, padding bytes skipped,
  * the classic BMP quirk) and stored BOTTOM-UP unless height is
  * negative (top-down), which the top-left-pixel readout has to
  * account for.
  *
  * Returns `ARRAY<BIGINT>` of
  * `[fmt_ok, width, height, bpp, stride, sum_rgb, sum_blue,
  * topleft_bgr]`: exact integer sums over the PIXEL bytes only
  * (padding excluded — summing the stride would be the giveaway of a
  * fake decode), `sum_blue` over the first channel of each BGR
  * triple, and the top-left pixel packed `b·65536 + g·256 + r`
  * (bottom-up ⇒ the LAST row in file order). Malformed input (bad
  * magic, non-24bpp, compressed, truncated pixel array) yields
  * `fmt_ok = 0`, never a throw.
  */
case class BmpDecode(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType != BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"bmp_decode requires a BINARY input, got " +
          child.dataType.simpleString)
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "bmp_decode"

  override def nullSafeEval(bytes: Any): Any =
    BmpDecode.decode(bytes.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b => {
      s"""
         |${ev.value} = graft.functions.BmpDecode.decode($b);
       """.stripMargin
    })

  override protected def withNewChildInternal(
      newChild: Expression): BmpDecode = copy(child = newChild)
}

object BmpDecode {

  private val Bad = Array.fill(8)(0L)

  def decode(b: Array[Byte]): ArrayData = {
    def le(off: Int, n: Int): Long = {
      var v = 0L
      var k = n - 1
      while (k >= 0) { v = (v << 8) | (b(off + k) & 0xffL); k -= 1 }
      v
    }
    if (b.length < 54 || b(0) != 'B' || b(1) != 'M')
      return new GenericArrayData(Bad)
    val off = le(10, 4)
    val hdrSize = le(14, 4)
    val w = le(18, 4).toInt // signed int32
    val hRaw = le(22, 4).toInt // signed: negative = top-down rows
    val planes = le(26, 2)
    val bpp = le(28, 2)
    val comp = le(30, 4)
    if (hdrSize < 40L || planes != 1L || bpp != 24L || comp != 0L ||
      w <= 0 || hRaw == 0 || w > (Int.MaxValue - 3) / 3)
      return new GenericArrayData(Bad)
    val h = math.abs(hRaw)
    val topDown = hRaw < 0
    val stride = (w * 3 + 3) / 4 * 4
    if (off < 54L || off > b.length.toLong ||
      off + stride.toLong * h > b.length.toLong)
      return new GenericArrayData(Bad)
    val base = off.toInt
    var sumRgb = 0L
    var sumBlue = 0L
    var r = 0
    while (r < h) {
      var j = 0
      val row = base + r * stride
      while (j < 3 * w) {
        val v = (b(row + j) & 0xffL)
        sumRgb += v
        if (j % 3 == 0) sumBlue += v
        j += 1
      }
      r += 1
    }
    val tlRow = base + (if (topDown) 0 else h - 1) * stride
    val topLeft = (b(tlRow) & 0xffL) * 65536L +
      (b(tlRow + 1) & 0xffL) * 256L + (b(tlRow + 2) & 0xffL)
    new GenericArrayData(Array(1L, w.toLong, h.toLong, 24L,
      stride.toLong, sumRgb, sumBlue, topLeft))
  }
}
