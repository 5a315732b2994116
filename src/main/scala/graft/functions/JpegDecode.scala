package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, LongType}

/** `jpeg_decode(bytes)` — a REAL baseline JPEG decoder for 8-bit
  * GRAYSCALE (single-component SOF0), as a native expression: the
  * last honest-fake in the image family made real. Everything a
  * conformant baseline decoder does is genuinely here:
  *
  *  - the full marker walk (SOI, APPn/COM skipped via their length
  *    fields, DQT with multiple tables, SOF0 validated, DHT canonical
  *    Huffman table builds for DC and AC classes, SOS, EOI);
  *  - entropy decoding of the scan: bit-by-bit canonical Huffman
  *    walk, 0xFF00 BYTE UNSTUFFING, DC prediction across blocks with
  *    the receive/extend two's-bias rule, AC run-length symbols
  *    (EOB, ZRL, (run,size)) into zigzag order;
  *  - dequantization against the DQT table and a FIXED-POINT integer
  *    IDCT (the Loeffler-Ligtenberg-Moshytz 8-point factorization in
  *    13-bit fixed point, the arrangement libjpeg calls "islow") —
  *    pure integer arithmetic, so the output is bit-deterministic on
  *    every platform, which is what lets the result live under a
  *    cross-engine hash gate at all.
  *
  * Scope (rejected, never misdecoded): progressive (SOF2),
  * 12-bit precision, restart markers, arithmetic coding, chroma
  * subsampling (4:4:4 color goes through [[JpegDecodeRgb]]; this
  * expression is the 1-component readout). Returns `ARRAY<BIGINT>`
  * of `[ok, width, height, n_blocks, sum_px, first_px, last_px]`;
  * malformed input (bad markers, invalid Huffman code, coefficient
  * index past 63, truncated scan, missing EOI) yields ok = 0 —
  * never a throw.
  *
  * The mm_decode_jpeg gate rides DC-only blocks with q = 16, where
  * the IDCT output is the EXACT closed form 128 + dc·q/8 (divisible,
  * so no rounding enters the oracle); JpegSpec drives the AC path,
  * byte stuffing, negative DC diffs and multi-block prediction with
  * a real test-side entropy encoder. */
case class JpegDecode(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType != BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"jpeg_decode requires a BINARY input, got " +
          child.dataType.simpleString)
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "jpeg_decode"

  override def nullSafeEval(bytes: Any): Any =
    JpegDecode.decode(bytes.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b =>
      s"${ev.value} = graft.functions.JpegDecode.decode($b);")

  override protected def withNewChildInternal(
      newChild: Expression): JpegDecode = copy(child = newChild)
}

/** `jpeg_decode_rgb(bytes)` — the 3-component (YCbCr 4:4:4) readout
  * of the SAME baseline decoder core as [[JpegDecode]]: per-MCU one
  * block per component with per-component DC prediction and q/Huffman
  * tables, then the JFIF YCbCr→RGB conversion in libjpeg's 16-bit
  * FIXED POINT (R = Y + (91881·(Cr−128) + 32768) >> 16, etc. — the
  * shift is an arithmetic FLOOR shift, and the constants are the
  * published FIX(1.40200)/FIX(1.77200)/FIX(0.71414)/FIX(0.34414)
  * values), so the color path is exactly integer-replicable by the
  * DuckDB oracle (floor division spelled out for negative operands —
  * DuckDB `//` truncates toward zero). Chroma SUBSAMPLING (4:2:0 /
  * 4:2:2) is rejected as unsupported rather than misdecoded — 4:4:4
  * is what this engine's thumbnail-scale payloads ship.
  *
  * Returns `ARRAY<BIGINT>` of `[ok, width, height, n_blocks, sum_r,
  * sum_g, sum_b, first_rgb, last_rgb]` with first/last packed as
  * r·65536 + g·256 + b; malformed or non-3-component input yields
  * ok = 0, never a throw. */
case class JpegDecodeRgb(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType != BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"jpeg_decode_rgb requires a BINARY input, got " +
          child.dataType.simpleString)
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "jpeg_decode_rgb"

  override def nullSafeEval(bytes: Any): Any =
    JpegDecode.decodeRgb(bytes.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b =>
      s"${ev.value} = graft.functions.JpegDecode.decodeRgb($b);")

  override protected def withNewChildInternal(
      newChild: Expression): JpegDecodeRgb = copy(child = newChild)
}

object JpegDecode {

  private val Bad = Array.fill(7)(0L)
  private val BadRgb = Array.fill(9)(0L)

  val Zigzag: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)

  /** Canonical Huffman table: symbol + length per code, decoded by
    * the incremental (code, firstCode, count) walk. */
  private final class Huff(counts: Array[Int], symbols: Array[Int]) {
    // mincode/maxcode/valptr per length 1..16
    val minCode = new Array[Int](17)
    val maxCode = new Array[Int](17)
    val valPtr = new Array[Int](17)
    locally {
      var code = 0; var k = 0
      var l = 1
      while (l <= 16) {
        valPtr(l) = k
        minCode(l) = code
        code += counts(l - 1); k += counts(l - 1)
        maxCode(l) = code - 1
        if (counts(l - 1) == 0) maxCode(l) = -1
        code <<= 1
        l += 1
      }
    }
    def decode(br: BitReader): Int = {
      var code = 0; var l = 0
      while (l < 16) {
        val b = br.bit()
        if (b < 0) return -1
        code = (code << 1) | b
        l += 1
        if (maxCode(l) >= 0 && code <= maxCode(l) && code >= minCode(l))
          return symbols(valPtr(l) + (code - minCode(l)))
      }
      -1
    }
  }

  /** Entropy-scan bit reader with 0xFF00 unstuffing; stops at any
    * real marker. */
  private final class BitReader(b: Array[Byte], var pos: Int) {
    private var acc = 0
    private var nbits = 0
    var hitMarker = false
    def bit(): Int = {
      if (nbits == 0) {
        if (pos >= b.length) return -1
        val c = b(pos) & 0xff
        if (c == 0xff) {
          if (pos + 1 >= b.length || (b(pos + 1) & 0xff) != 0x00) {
            hitMarker = true; return -1
          }
          acc = 0xff; pos += 2 // stuffed literal FF
        } else { acc = c; pos += 1 }
        nbits = 8
      }
      nbits -= 1
      (acc >> nbits) & 1
    }
    def receive(n: Int): Int = {
      var v = 0; var i = 0
      while (i < n) {
        val x = bit()
        if (x < 0) return Int.MinValue
        v = (v << 1) | x
        i += 1
      }
      v
    }
  }

  private def extend(v: Int, sz: Int): Int =
    if (sz == 0) 0
    else if (v < (1 << (sz - 1))) v - (1 << sz) + 1
    else v

  // 13-bit fixed-point constants of the LLM'89 8-point IDCT
  private final val CB = 13 // CONST_BITS
  private final val PB = 2  // PASS1_BITS
  private final val F_0_298631336 = 2446L
  private final val F_0_390180644 = 3196L
  private final val F_0_541196100 = 4433L
  private final val F_0_765366865 = 6270L
  private final val F_0_899976223 = 7373L
  private final val F_1_175875602 = 9633L
  private final val F_1_501321110 = 12299L
  private final val F_1_847759065 = 15137L
  private final val F_1_961570560 = 16069L
  private final val F_2_053119869 = 16819L
  private final val F_2_562915447 = 20995L
  private final val F_3_072711026 = 25172L

  private def descale(x: Long, n: Int): Long = (x + (1L << (n - 1))) >> n

  /** One 8-point butterfly over `v(off + i*stride)`, writing scaled
    * outputs back; `shift` is the final descale amount. */
  private def pass(v: Array[Long], off: Int, stride: Int,
                   shift: Int): Unit = {
    def g(i: Int): Long = v(off + i * stride)
    def s(i: Int, x: Long): Unit = v(off + i * stride) = x
    var z2 = g(2); var z3 = g(6)
    var z1 = (z2 + z3) * F_0_541196100
    val t2 = z1 - z3 * F_1_847759065
    val t3 = z1 + z2 * F_0_765366865
    z2 = g(0); z3 = g(4)
    val t0 = (z2 + z3) << CB
    val t1 = (z2 - z3) << CB
    val t10 = t0 + t3; val t13 = t0 - t3
    val t11 = t1 + t2; val t12 = t1 - t2
    var a0 = g(7); var a1 = g(5); var a2 = g(3); var a3 = g(1)
    z1 = a0 + a3; z2 = a1 + a2
    z3 = a0 + a2; var z4 = a1 + a3
    val z5 = (z3 + z4) * F_1_175875602
    a0 *= F_0_298631336; a1 *= F_2_053119869
    a2 *= F_3_072711026; a3 *= F_1_501321110
    z1 *= -F_0_899976223; z2 *= -F_2_562915447
    z3 = z3 * -F_1_961570560 + z5
    z4 = z4 * -F_0_390180644 + z5
    a0 += z1 + z3; a1 += z2 + z4
    a2 += z2 + z3; a3 += z1 + z4
    s(0, descale(t10 + a3, shift)); s(7, descale(t10 - a3, shift))
    s(1, descale(t11 + a2, shift)); s(6, descale(t11 - a2, shift))
    s(2, descale(t12 + a1, shift)); s(5, descale(t12 - a1, shift))
    s(3, descale(t13 + a0, shift)); s(4, descale(t13 - a0, shift))
  }

  /** Fixed-point 8x8 IDCT over NATURAL-order dequantized
    * coefficients; returns level-shifted clamped samples 0..255.
    * Public so JpegSpec can compute expected pixels from raw
    * coefficients independently of the entropy path. */
  def idct(coef: Array[Long]): Array[Int] = {
    val v = coef.clone()
    var c = 0
    while (c < 8) { pass(v, c, 8, CB - PB); c += 1 }   // columns
    var r = 0
    while (r < 8) { pass(v, r * 8, 1, CB + PB + 3); r += 1 } // rows
    val out = new Array[Int](64)
    var i = 0
    while (i < 64) {
      val x = v(i) + 128
      out(i) = if (x < 0) 0 else if (x > 255) 255 else x.toInt
      i += 1
    }
    out
  }

  /** Decoded planes: `planes(ci)` is the blocksW·8 × blocksH·8
    * padded sample grid of component ci. */
  private final case class Core(w: Int, h: Int, blocksW: Int,
                                blocksH: Int, planes: Array[Array[Int]])

  /** THE baseline decode — shared by the grayscale and RGB readouts
    * (one marker walk, one entropy loop; 1 or 3 components at 1x1
    * sampling each). Null on any malformation. */
  private def core(b: Array[Byte]): Core = {
    val n = b.length
    def u8(i: Int): Int = b(i) & 0xff
    def u16(i: Int): Int = (u8(i) << 8) | u8(i + 1)
    if (n < 4 || u8(0) != 0xff || u8(1) != 0xd8) return null
    var p = 2
    val qt = new Array[Array[Int]](4)
    val dcT = new Array[Huff](4)
    val acT = new Array[Huff](4)
    var w = -1; var h = -1
    var nComp = -1
    val compQ = new Array[Int](3)
    var sawEoi = false
    var planes: Array[Array[Int]] = null
    var blocksW = 0; var blocksH = 0
    while (p + 2 <= n && !sawEoi) {
      if (u8(p) != 0xff) return null
      val m = u8(p + 1)
      p += 2
      m match {
        case 0xd9 => sawEoi = true
        case 0xdb => // DQT
          if (p + 2 > n) return null
          val end = p + u16(p)
          p += 2
          while (p < end) {
            val pq = u8(p) >> 4; val tq = u8(p) & 15
            if (pq != 0 || tq > 3 || p + 65 > n) return null
            qt(tq) = (1 to 64).map(i => u8(p + i)).toArray
            p += 65
          }
          if (p != end) return null
        case 0xc0 => // SOF0 baseline
          if (p + 8 > n) return null
          val end = p + u16(p)
          if (end > n) return null
          if (u8(p + 2) != 8) return null // precision
          h = u16(p + 3); w = u16(p + 5)
          nComp = u8(p + 7)
          if (nComp != 1 && nComp != 3) return null
          if (p + 8 + 3 * nComp > n) return null
          var ci = 0
          while (ci < nComp) {
            // per component: id, sampling (1x1 only), q table
            if (u8(p + 9 + 3 * ci) != 0x11) return null // no subsampling
            compQ(ci) = u8(p + 10 + 3 * ci)
            if (compQ(ci) > 3) return null
            ci += 1
          }
          if (w <= 0 || h <= 0 || w.toLong * h > (1 << 26)) return null
          p = end
        case 0xc1 | 0xc2 | 0xc3 | 0xc5 | 0xc6 | 0xc7 | 0xc9 | 0xca |
             0xcb | 0xcd | 0xce | 0xcf =>
          return null // non-baseline SOF / arithmetic coding
        case 0xc4 => // DHT
          if (p + 2 > n) return null
          val end = p + u16(p)
          p += 2
          while (p < end) {
            val tc = u8(p) >> 4; val th = u8(p) & 15
            if (tc > 1 || th > 3 || p + 17 > n) return null
            val counts = (1 to 16).map(i => u8(p + i)).toArray
            val total = counts.sum
            if (p + 17 + total > n || total > 256) return null
            val syms = (0 until total).map(i => u8(p + 17 + i)).toArray
            val t = new Huff(counts, syms)
            if (tc == 0) dcT(th) = t else acT(th) = t
            p += 17 + total
          }
          if (p != end) return null
        case 0xda => // SOS
          if (nComp < 0) return null
          if (p + 6 + 2 * nComp > n) return null
          val ns = u8(p + 2)
          if (ns != nComp) return null
          val dcIds = new Array[Int](nComp)
          val acIds = new Array[Int](nComp)
          var ci = 0
          while (ci < nComp) {
            dcIds(ci) = u8(p + 4 + 2 * ci) >> 4
            acIds(ci) = u8(p + 4 + 2 * ci) & 15
            if (dcT(dcIds(ci)) == null || acT(acIds(ci)) == null ||
              qt(compQ(ci)) == null) return null
            ci += 1
          }
          p += u16(p)
          // entropy scan: per MCU one block per component (4:4:4)
          blocksW = (w + 7) / 8; blocksH = (h + 7) / 8
          val br = new BitReader(b, p)
          planes = Array.fill(nComp)(
            new Array[Int](blocksW * 8 * blocksH * 8))
          val preds = new Array[Int](nComp)
          var by = 0
          while (by < blocksH) {
            var bx = 0
            while (bx < blocksW) {
              var c2 = 0
              while (c2 < nComp) {
                val q = qt(compQ(c2))
                val coef = new Array[Long](64)
                val s0 = dcT(dcIds(c2)).decode(br)
                if (s0 < 0 || s0 > 11) return null
                val d = br.receive(s0)
                if (d == Int.MinValue) return null
                preds(c2) += extend(d, s0)
                coef(0) = preds(c2).toLong * q(0)
                var k = 1
                var eob = false
                while (k < 64 && !eob) {
                  val rs = acT(acIds(c2)).decode(br)
                  if (rs < 0) return null
                  val r = rs >> 4; val sz = rs & 15
                  if (sz == 0) {
                    if (r == 15) {
                      // ZRL: 16 zero coefficients at k..k+15. k may
                      // land EXACTLY on 64 (ZRL at k=48 fills indices
                      // 48..63 — legal, block complete); past 64 the
                      // run claims zeros beyond coefficient 63 →
                      // malformed (r15 ADVICE: this branch previously
                      // exited the loop silently with ok=1)
                      k += 16
                      if (k > 64) return null
                    } else eob = true
                  } else {
                    k += r
                    if (k > 63) return null
                    val v = br.receive(sz)
                    if (v == Int.MinValue) return null
                    coef(Zigzag(k)) = extend(v, sz).toLong * q(k)
                    k += 1
                  }
                }
                val blk = idct(coef)
                val plane = planes(c2)
                var yy = 0
                while (yy < 8) {
                  var xx = 0
                  while (xx < 8) {
                    plane((by * 8 + yy) * blocksW * 8 + bx * 8 + xx) =
                      blk(yy * 8 + xx)
                    xx += 1
                  }
                  yy += 1
                }
                c2 += 1
              }
              bx += 1
            }
            by += 1
          }
          // align to the next marker (pad bits then FF xx)
          p = br.pos
          while (p + 1 < n && u8(p) != 0xff) p += 1
        case mm if mm >= 0xd0 && mm <= 0xd7 =>
          return null // restart markers out of scope
        case _ => // APPn, COM, others: length-skipped
          if (p + 2 > n) return null
          p += u16(p)
      }
    }
    if (!sawEoi || planes == null) return null
    Core(w, h, blocksW, blocksH, planes)
  }

  def decode(b: Array[Byte]): ArrayData = {
    def bad = new GenericArrayData(Bad)
    val c = core(b)
    if (c == null || c.planes.length != 1) return bad
    val px = c.planes(0)
    val stride = c.blocksW * 8
    var sum = 0L
    var y = 0
    while (y < c.h) {
      var x = 0
      while (x < c.w) { sum += px(y * stride + x); x += 1 }
      y += 1
    }
    new GenericArrayData(Array(1L, c.w.toLong, c.h.toLong,
      (c.blocksW * c.blocksH).toLong, sum, px(0).toLong,
      px((c.h - 1) * stride + (c.w - 1)).toLong))
  }

  // JFIF YCbCr->RGB in libjpeg's 16-bit fixed point; >> is the
  // arithmetic FLOOR shift (the DuckDB twin spells out floor
  // division for negative operands)
  private final val FIX_1_40200 = 91881L
  private final val FIX_1_77200 = 116130L
  private final val FIX_0_71414 = 46802L
  private final val FIX_0_34414 = 22554L

  private def clamp255(v: Long): Long =
    if (v < 0) 0L else if (v > 255) 255L else v

  /** The exact per-pixel conversion, public for spec/oracle
    * cross-checks: (y, cb, cr) samples 0..255 → packed r/g/b. */
  def ycbcrToRgb(y: Int, cb: Int, cr: Int): (Long, Long, Long) = {
    val r = clamp255(y + ((FIX_1_40200 * (cr - 128) + 32768L) >> 16))
    val g = clamp255(y + ((-FIX_0_34414 * (cb - 128)
      - FIX_0_71414 * (cr - 128) + 32768L) >> 16))
    val bb = clamp255(y + ((FIX_1_77200 * (cb - 128) + 32768L) >> 16))
    (r, g, bb)
  }

  def decodeRgb(b: Array[Byte]): ArrayData = {
    def bad = new GenericArrayData(BadRgb)
    val c = core(b)
    if (c == null || c.planes.length != 3) return bad
    val stride = c.blocksW * 8
    var sumR = 0L; var sumG = 0L; var sumB = 0L
    var first = -1L; var last = 0L
    var y = 0
    while (y < c.h) {
      var x = 0
      while (x < c.w) {
        val i = y * stride + x
        val (r, g, bb) = ycbcrToRgb(c.planes(0)(i), c.planes(1)(i),
          c.planes(2)(i))
        sumR += r; sumG += g; sumB += bb
        val packed = r * 65536L + g * 256L + bb
        if (first < 0) first = packed
        last = packed
        x += 1
      }
      y += 1
    }
    new GenericArrayData(Array(1L, c.w.toLong, c.h.toLong,
      (c.blocksW * c.blocksH).toLong, sumR, sumG, sumB, first, last))
  }
}
