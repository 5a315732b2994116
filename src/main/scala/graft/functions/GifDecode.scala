package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType,
  LongType, StructField, StructType}

/** `gif_decode(bytes)` — a REAL GIF decoder as a native expression:
  * the fourth member of the codec-free image family beside
  * [[WavDecode]] (RIFF), [[BmpDecode]] (uncompressed) and
  * [[PngDecode]] (zlib), completing the pure-integer codec trio
  * (uncompressed / DEFLATE / LZW). Nothing is synthetic-by-
  * construction:
  *
  *  - the GIF87a/GIF89a header, logical screen descriptor, GLOBAL
  *    COLOR TABLE, extension blocks (sub-block framing walked and
  *    skipped — GCE, comment, application), image descriptor, and
  *    trailer are all genuinely parsed;
  *  - pixel data goes through a FULL variable-width LZW decoder
  *    (Welch 1984 as specialized by GIF89a appendix F): LSB-first
  *    bit unpacking across sub-block boundaries, dictionary rebuild
  *    on CLEAR, the KwKwK first-use case (code == next slot), and
  *    code-width growth 3..12 bits — so the expression decodes
  *    output from any conformant GIF encoder (GifSpec feeds it a
  *    real test-side LZW compressor's streams with dictionary hits,
  *    width bumps and mid-stream clears), not just the harness
  *    synthesizer's literal-coded stream.
  *
  * Scope: non-interlaced, global color table required (the common
  * crawl-thumbnail shape); interlace and local color tables are
  * rejected as unsupported rather than misdecoded. EVERY image block
  * is validated and decoded through the shared walk (r15 review:
  * one walker for gif_decode and gif_frames, so the framing logic
  * cannot fork); gif_decode reports the FIRST frame's stats, and an
  * animation with any malformed later frame is rejected whole.
  *
  * Returns `ARRAY<BIGINT>` of `[fmt_ok, width, height, gct_n,
  * palette_sum, n_px, sum_idx, first_idx, last_idx]`: `gct_n` =
  * global-color-table entry count, `palette_sum` = sum of all its
  * RGB bytes (proves the table was actually read), pixel stats over
  * the decoded INDEX stream. Malformed input (bad signature,
  * truncated descriptor/table/sub-block, interlace, missing image or
  * trailer, LZW code out of range, pixel overflow/underflow vs
  * width·height, index ≥ gct_n) yields `fmt_ok = 0` with zeroed
  * fields — never a throw. */
case class GifDecode(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType != BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"gif_decode requires a BINARY input, got " +
          child.dataType.simpleString)
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "gif_decode"

  override def nullSafeEval(bytes: Any): Any =
    GifDecode.decode(bytes.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b =>
      s"${ev.value} = graft.functions.GifDecode.decode($b);")

  override protected def withNewChildInternal(
      newChild: Expression): GifDecode = copy(child = newChild)
}

/** `gif_frames(bytes)` — the ANIMATED-GIF sibling of [[GifDecode]]:
  * walks EVERY image block in the file (a GIF89a animation is a
  * sequence of GCE + image-descriptor + LZW-data blocks over one
  * global color table) and decodes each frame's pixel stream through
  * the same full LZW decoder. This is the real-bytes form of the
  * frame-sampling stage every video/animation ingest runs (the
  * honest-fake `mm_frames` stands in for codec video; this one is
  * genuine end-to-end). Returns `ARRAY<STRUCT<frame BIGINT, left
  * BIGINT, top BIGINT, w BIGINT, h BIGINT, n_px BIGINT, sum_idx
  * BIGINT, first_idx BIGINT, last_idx BIGINT>>` in file order; NULL
  * on any malformation (same classes as gif_decode, applied to every
  * frame). Frames smaller than the logical screen (the usual delta
  * encoding) carry their own left/top/w/h. */
case class GifFrames(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType != BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"gif_frames requires a BINARY input, got " +
          child.dataType.simpleString)
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("frame", LongType, nullable = false),
    StructField("left", LongType, nullable = false),
    StructField("top", LongType, nullable = false),
    StructField("w", LongType, nullable = false),
    StructField("h", LongType, nullable = false),
    StructField("n_px", LongType, nullable = false),
    StructField("sum_idx", LongType, nullable = false),
    StructField("first_idx", LongType, nullable = false),
    StructField("last_idx", LongType, nullable = false))),
    containsNull = false)

  override def nullable: Boolean = true
  override def prettyName: String = "gif_frames"

  override def nullSafeEval(bytes: Any): Any =
    GifDecode.frames(bytes.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val code = nullSafeCodeGen(ctx, ev, b =>
      s"""
         |${ev.value} = graft.functions.GifDecode.frames($b);
         |if (${ev.value} == null) { ${ev.isNull} = true; }
       """.stripMargin)
    code
  }

  override protected def withNewChildInternal(
      newChild: Expression): GifFrames = copy(child = newChild)
}

object GifDecode {

  private val Bad = Array.fill(9)(0L)

  /** One decoded frame: geometry + index stats. */
  private final case class Frame(left: Int, top: Int, w: Int, h: Int,
                                 nPx: Long, sum: Long, first: Long,
                                 last: Long)

  /** THE container walk, shared by [[decode]] (first-frame readout +
    * palette) and [[frames]] (per-frame rows) so the framing logic
    * cannot fork (r15 review finding): header, LSD + global color
    * table, extensions through their real sub-block framing, and
    * EVERY image block's descriptor + LZW data decoded. Returns
    * (gctN, paletteSum, frames) or null on any malformation. */
  private def walk(b: Array[Byte])
      : (Int, Long, collection.mutable.ArrayBuffer[Frame]) = {
    def u8(i: Int): Int = b(i) & 0xff
    def u16le(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    if (b.length < 14) return null
    // header: GIF87a or GIF89a
    if (b(0) != 'G' || b(1) != 'I' || b(2) != 'F' || b(3) != '8' ||
      (b(4) != '7' && b(4) != '9') || b(5) != 'a') return null
    // logical screen descriptor
    val packed = u8(10)
    if ((packed & 0x80) == 0) return null // GCT required in scope
    val gctN = 1 << ((packed & 0x07) + 1)
    var pos = 13
    if (pos + 3 * gctN > b.length) return null
    var paletteSum = 0L
    var k = 0
    while (k < 3 * gctN) { paletteSum += u8(pos + k); k += 1 }
    pos += 3 * gctN
    val out = collection.mutable.ArrayBuffer.empty[Frame]
    var sawTrailer = false
    while (pos < b.length && !sawTrailer) {
      u8(pos) match {
        case 0x3b =>
          sawTrailer = true; pos += 1
        case 0x21 => // extension: label, then sub-blocks until 0
          pos += 2
          var len = if (pos < b.length) u8(pos) else return null
          while (len != 0) {
            pos += 1 + len
            if (pos >= b.length) return null
            len = u8(pos)
          }
          pos += 1
        case 0x2c =>
          if (pos + 10 > b.length) return null
          val left = u16le(pos + 1); val top = u16le(pos + 3)
          val iw = u16le(pos + 5); val ih = u16le(pos + 7)
          val ipacked = u8(pos + 9)
          if ((ipacked & 0x40) != 0) return null // interlace: out of scope
          if ((ipacked & 0x80) != 0) return null // local color table: ditto
          pos += 10
          if (pos >= b.length) return null
          val minCode = u8(pos); pos += 1
          if (minCode < 2 || minCode > 8) return null
          // concatenate the image's sub-blocks
          val data = new java.io.ByteArrayOutputStream()
          var len = if (pos < b.length) u8(pos) else return null
          while (len != 0) {
            if (pos + 1 + len > b.length) return null
            data.write(b, pos + 1, len)
            pos += 1 + len
            if (pos >= b.length) return null
            len = u8(pos)
          }
          pos += 1
          if (iw <= 0 || ih <= 0 || iw.toLong * ih > (1 << 26)) return null
          val px = lzw(data.toByteArray, minCode, iw * ih, gctN)
          if (px == null) return null
          var sum = 0L; var j = 0
          while (j < px.length) { sum += px(j); j += 1 }
          out += Frame(left, top, iw, ih, px.length.toLong, sum,
            px(0).toLong, px(px.length - 1).toLong)
        case _ => return null
      }
    }
    if (!sawTrailer || out.isEmpty) return null
    (gctN, paletteSum, out)
  }

  def decode(b: Array[Byte]): ArrayData = {
    walk(b) match {
      case null => new GenericArrayData(Bad)
      case (gctN, paletteSum, fs) =>
        val f = fs.head
        new GenericArrayData(Array(1L, f.w.toLong, f.h.toLong,
          gctN.toLong, paletteSum, f.nPx, f.sum, f.first, f.last))
    }
  }

  /** Full GIF-flavor LZW: returns exactly `nPx` palette indices (all
    * < `gctN`), or null on any malformation. */
  private def lzw(d: Array[Byte], minCode: Int, nPx: Int,
                  gctN: Int): Array[Int] = {
    val clear = 1 << minCode
    val end = clear + 1
    val prefix = new Array[Int](4096)
    val suffix = new Array[Int](4096)
    val out = new Array[Int](nPx)
    var outN = 0
    var next = end + 1
    var width = minCode + 1
    var prev = -1
    var acc = 0L; var accBits = 0; var di = 0
    var done = false
    val stack = new Array[Int](4096)
    def emitSeq(code: Int): Boolean = {
      // expand code through the prefix chain (codes < clear are roots)
      var c = code; var sp = 0
      while (c >= clear) {
        if (sp >= stack.length) return false
        stack(sp) = suffix(c); sp += 1; c = prefix(c)
      }
      if (outN + sp + 1 > nPx) return false
      if (c >= gctN) return false
      out(outN) = c; outN += 1
      while (sp > 0) {
        sp -= 1
        if (stack(sp) >= gctN) return false
        out(outN) = stack(sp); outN += 1
      }
      true
    }
    def firstOf(code: Int): Int = {
      var c = code
      while (c >= clear) c = prefix(c)
      c
    }
    while (!done) {
      while (accBits < width && di < d.length) {
        acc |= (d(di) & 0xffL) << accBits; accBits += 8; di += 1
      }
      if (accBits < width) return null // ran out before END
      val code = (acc & ((1L << width) - 1)).toInt
      acc >>>= width; accBits -= width
      if (code == clear) {
        next = end + 1; width = minCode + 1; prev = -1
      } else if (code == end) {
        done = true
      } else if (code < clear || (code < next && code > end)) {
        if (!emitSeq(code)) return null
        if (prev >= 0 && next < 4096) {
          prefix(next) = prev; suffix(next) = firstOf(code); next += 1
          if (next == (1 << width) && width < 12) width += 1
        }
        prev = code
      } else if (code == next && prev >= 0 && next < 4096) {
        // KwKwK: the code being defined right now
        prefix(next) = prev; suffix(next) = firstOf(prev); next += 1
        if (!emitSeq(next - 1)) return null
        if (next == (1 << width) && width < 12) width += 1
        prev = next - 1
      } else return null // out-of-range code
    }
    if (outN != nPx) return null
    out
  }

  /** Multi-frame readout for [[GifFrames]]: [[walk]]'s frames as
    * struct rows; null on any malformation. */
  def frames(b: Array[Byte]): ArrayData = {
    walk(b) match {
      case null => null
      case (_, _, fs) =>
        new GenericArrayData(fs.zipWithIndex.map { case (f, i) =>
          InternalRow(i.toLong, f.left.toLong, f.top.toLong,
            f.w.toLong, f.h.toLong, f.nPx, f.sum, f.first, f.last)
        }.toArray[Any])
    }
  }
}
