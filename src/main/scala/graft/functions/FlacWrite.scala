package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType}

/** `flac_write(pcm)` — a REAL FLAC *encoder*, making the lossless
  * audio family read/write symmetric the way PNG (png_write) and the
  * archives (zip_write/tar_write) already are. Input: mono 8-bit PCM
  * (one SIGNED sample per byte, the shape `flac_decode` emits);
  * output: a complete FLAC stream that the full decoder — CRC-8,
  * CRC-16 and whole-stream MD5 all recomputed — accepts and decodes
  * back to the exact samples.
  *
  * This is genuine compression, not verbatim framing:
  *
  *  - frames of up to 4096 samples; per frame the encoder tries the
  *    FIXED PREDICTORS of order 0/1/2 and the constant subframe,
  *    choosing by total residual magnitude (the classic estimator);
  *  - residuals are RICE-CODED (method 0, one partition): the
  *    parameter is chosen by exact cost over p = 0..14 on the
  *    zigzag-folded residuals — the same code the decoder's Rice
  *    path consumes bit for bit;
  *  - frame headers carry the fixed-blocksize strategy with UTF-8
  *    frame numbers, the end-of-header 16-bit blocksize form for the
  *    final partial frame, CRC-8 over the header and CRC-16 over the
  *    whole frame; STREAMINFO declares true min/max blocksizes,
  *    total samples, and the MD5 of the PCM — so the decoder's MD5
  *    verification gates the encoder's every emitted bit.
  *
  * Null input stays NULL; empty input yields a valid zero-frame
  * stream (STREAMINFO only, MD5 of zero bytes). The gate
  * (mm_flac_write) round-trips the corpus through
  * flac_write → flac_decode; FlacSpec's independent anchors (spec
  * CRC check vectors, closed-form fixtures) pin the decoder, so the
  * pair cannot drift together unnoticed. */
object FlacWrite {

  private final val BS = 4096

  private final class Bw {
    private val out = new java.io.ByteArrayOutputStream(1024)
    private var acc = 0L
    private var nb = 0
    def put(v: Long, bits: Int): Unit = {
      var k = bits - 1
      while (k >= 0) {
        acc = (acc << 1) | ((v >>> k) & 1L)
        nb += 1
        if (nb == 8) { out.write((acc & 0xff).toInt); acc = 0; nb = 0 }
        k -= 1
      }
    }
    def putUnary(q: Int): Unit = {
      var i = 0
      while (i < q) { put(0, 1); i += 1 }
      put(1, 1)
    }
    def alignZero(): Unit = if (nb != 0) put(0, 8 - nb)
    def bytes: Array[Byte] = { alignZero(); out.toByteArray }
  }

  private def utf8Num(bw: Bw, v: Long): Unit = {
    if (v < 0x80) bw.put(v, 8)
    else if (v < 0x800) {
      bw.put(0xc0 | (v >>> 6), 8)
      bw.put(0x80 | (v & 0x3f), 8)
    } else if (v < 0x10000) {
      bw.put(0xe0 | (v >>> 12), 8)
      bw.put(0x80 | ((v >>> 6) & 0x3f), 8)
      bw.put(0x80 | (v & 0x3f), 8)
    } else {
      bw.put(0xf0 | (v >>> 18), 8)
      bw.put(0x80 | ((v >>> 12) & 0x3f), 8)
      bw.put(0x80 | ((v >>> 6) & 0x3f), 8)
      bw.put(0x80 | (v & 0x3f), 8)
    }
  }

  def encode(pcm: Array[Byte]): Array[Byte] = {
    val n = pcm.length
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(pcm)
    val md5 = md.digest()
    val nFrames = (n + BS - 1) / BS
    val lastLen = if (n == 0) 0 else n - (nFrames - 1) * BS
    val minBs = if (n == 0) 0 else math.min(BS, lastLen)
    val maxBs = if (n == 0) 0 else math.min(BS, n)
    val head = new java.io.ByteArrayOutputStream(64)
    head.write('f'); head.write('L'); head.write('a'); head.write('C')
    head.write(0x80); head.write(0); head.write(0); head.write(34)
    val si = new Bw
    si.put(minBs.toLong, 16)
    si.put(maxBs.toLong, 16)
    si.put(0L, 24) // min frame size unknown
    si.put(0L, 24) // max frame size unknown
    si.put(44100L, 20)
    si.put(0L, 3)  // channels - 1
    si.put(7L, 5)  // bps - 1
    si.put(n.toLong, 36)
    val siB = si.bytes
    head.write(siB, 0, siB.length)
    head.write(md5, 0, 16)
    val out = new java.io.ByteArrayOutputStream(n / 2 + 128)
    val hb = head.toByteArray
    out.write(hb, 0, hb.length)
    var f = 0
    while (f < nFrames) {
      val off = f * BS
      val len = math.min(BS, n - off)
      val fb = frame(pcm, off, len, f.toLong)
      out.write(fb, 0, fb.length)
      f += 1
    }
    out.toByteArray
  }

  /** One frame: header + best subframe + CRC-16. */
  private def frame(pcm: Array[Byte], off: Int, len: Int,
                    idx: Long): Array[Byte] = {
    val bw = new Bw
    val full = len == BS
    // sync(14) 0x3FFE, reserved 0, blocking strategy 0 (fixed)
    bw.put(0x3ffe, 14)
    bw.put(0, 1)
    bw.put(0, 1)
    // blocksize code: 4096 -> 12; else 16-bit-at-end -> 7
    bw.put(if (full) 12L else 7L, 4)
    bw.put(9L, 4) // 44100
    bw.put(0L, 4) // mono
    bw.put(1L, 3) // 8 bps
    bw.put(0, 1)  // reserved
    utf8Num(bw, idx)
    if (!full) bw.put((len - 1).toLong, 16)
    val hdr = bw.bytes // header is byte-aligned here
    val bw2 = new Bw
    // re-emit header bytes so the whole frame is one stream
    hdr.foreach(b => bw2.put(b & 0xffL, 8))
    bw2.put(FlacDecode.crc8(hdr, 0, hdr.length).toLong, 8)
    // choose the subframe
    val s = new Array[Int](len)
    var i = 0
    while (i < len) { s(i) = pcm(off + i).toInt; i += 1 }
    var constant = true
    i = 1
    while (constant && i < len) {
      if (s(i) != s(0)) constant = false
      i += 1
    }
    if (constant) {
      bw2.put(0, 1)
      bw2.put(0L, 6) // constant
      bw2.put(0, 1)  // no wasted bits
      bw2.put(s(0).toLong & 0xff, 8)
    } else {
      // fixed orders 0..2 by total abs residual
      def residuals(k: Int): Array[Int] = {
        val r = new Array[Int](len - k)
        var j = k
        while (j < len) {
          r(j - k) = k match {
            case 0 => s(j)
            case 1 => s(j) - s(j - 1)
            case _ => s(j) - 2 * s(j - 1) + s(j - 2)
          }
          j += 1
        }
        r
      }
      var bestK = 0
      var bestCost = Long.MaxValue
      var bestRes: Array[Int] = null
      var k = 0
      while (k <= 2 && k < len) {
        val r = residuals(k)
        var c = 0L
        var j = 0
        while (j < r.length) { c += math.abs(r(j).toLong); j += 1 }
        if (c < bestCost) { bestCost = c; bestK = k; bestRes = r }
        k += 1
      }
      // rice parameter by exact cost over the zigzag folds
      val m = bestRes.map(r => ((r << 1) ^ (r >> 31)).toLong)
      var bestP = 0
      var bestBits = Long.MaxValue
      var p = 0
      while (p <= 14) {
        var bits = 0L
        var j = 0
        while (j < m.length) { bits += (m(j) >>> p) + 1 + p; j += 1 }
        if (bits < bestBits) { bestBits = bits; bestP = p }
        p += 1
      }
      bw2.put(0, 1)
      bw2.put(8L | bestK.toLong, 6) // fixed, order k
      bw2.put(0, 1)                 // no wasted bits
      var j = 0
      while (j < bestK) { bw2.put(s(j).toLong & 0xff, 8); j += 1 }
      bw2.put(0L, 2)       // residual method 0 (4-bit Rice)
      bw2.put(0L, 4)       // partition order 0
      bw2.put(bestP.toLong, 4)
      j = 0
      while (j < m.length) {
        bw2.putUnary((m(j) >>> bestP).toInt)
        bw2.put(m(j) & ((1L << bestP) - 1), bestP)
        j += 1
      }
    }
    val body = bw2.bytes // zero-padded to byte alignment
    val crc = FlacDecode.crc16(body, 0, body.length)
    val withCrc = java.util.Arrays.copyOf(body, body.length + 2)
    withCrc(body.length) = ((crc >>> 8) & 0xff).toByte
    withCrc(body.length + 1) = (crc & 0xff).toByte
    withCrc
  }
}

/** `flac_write(pcm)` — mono 8-bit FLAC encode (fixed predictors +
  * Rice). See [[FlacWrite]]. */
case class FlacWriteExpr(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType != BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult
        .TypeCheckFailure("flac_write requires a BINARY input, got " +
          child.dataType.simpleString)
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult
        .TypeCheckSuccess

  override def dataType: DataType = BinaryType
  override def prettyName: String = "flac_write"

  override def nullSafeEval(bytes: Any): Any =
    FlacWrite.encode(bytes.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b => {
      s"""
         |${ev.value} = graft.functions.FlacWrite.encode($b);
       """.stripMargin
    })

  override protected def withNewChildInternal(
      newChild: Expression): FlacWriteExpr = copy(child = newChild)
}
