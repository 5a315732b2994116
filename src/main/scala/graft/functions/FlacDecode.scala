package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, LongType}

/** `flac_decode(bytes)` — a REAL FLAC decoder as a native expression:
  * the lossless-compressed-audio member of the decode family, and the
  * first one where the *compression is general* (entropy-coded
  * residuals off adaptive linear predictors), not a fixed state
  * machine. Pure integer arithmetic end to end — FLAC is specified
  * losslessly over integers, so unlike MP3/AAC (float IMDCT, honest
  * fakes here) a from-scratch decoder is bit-deterministic and hence
  * hash-gatable.
  *
  * Implemented from the public format spec (RFC 9639 / xiph FLAC
  * documentation), complete for the subset any real encoder emits:
  *
  *  - stream: `fLaC` magic, STREAMINFO (first, mandatory) + skipped
  *    PADDING/APPLICATION/SEEKTABLE/VORBIS_COMMENT/CUESHEET/PICTURE;
  *  - frames: 14-bit sync walk, blocking strategy, coded block size /
  *    sample rate (incl. end-of-header 8/16-bit forms), channel
  *    assignment (independent + left/side, right/side, mid/side
  *    decorrelation with the side channel's +1 bit), sample size,
  *    UTF-8-style coded frame/sample number, header CRC-8 (poly 0x07)
  *    and whole-frame CRC-16 (poly 0x8005) — both RECOMPUTED;
  *  - subframes: CONSTANT, VERBATIM, FIXED orders 0–4, LPC up to
  *    order 32 (quantized coefficients, arithmetic floor shift),
  *    wasted-bits unary prefix;
  *  - residuals: Rice / Rice2 partitioned methods, escape partitions
  *    (raw k-bit), zigzag mapping;
  *  - STREAMINFO MD5 of the interleaved little-endian samples is
  *    VERIFIED when present (nonzero) — the whole-stream integrity
  *    property real tooling relies on;
  *  - total-samples accounting must match STREAMINFO when declared.
  *
  * Rejects-never-misdecodes: any malformation (bad magic, lost sync,
  * reserved codes, CRC/MD5 mismatch, truncation, over-long unary,
  * residual overrun) yields the ok=0 row, never a throw and never
  * silently-wrong samples. FlacSpec drives a real test-side encoder
  * (Rice + fixed + LPC + stereo modes + wasted bits) against
  * `decodeAll`, pins the textbook CRC check vectors ("123456789" →
  * 0xF4 / 0xFEE8) so the CRC tables are anchored to the public spec
  * rather than self-referential, and covers the malformed classes.
  *
  * Returns ARRAY<BIGINT>:
  * [ok, n_frames, n_samples (per channel), channels, bps,
  *  sample_rate, first_sample, sum_samples (all channels),
  *  last_sample].
  *
  * Reference re-expressed: push-ai/mta-rtf-dbt has no binary surface
  * (BigQuery SQL models only); this extends the multimodal column
  * family (SURVEY.md §2 extension rows) with genuinely-decoded
  * lossless audio.
  */
case class FlacDecode(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType != BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"flac_decode requires a BINARY input, got ${child.dataType.simpleString}")
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "flac_decode"

  override def nullSafeEval(bytes: Any): Any =
    FlacDecode.decode(bytes.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b => {
      s"${ev.value} = graft.functions.FlacDecode.decode($b);"
    })

  override protected def withNewChildInternal(
      newChild: Expression): FlacDecode = copy(child = newChild)
}

object FlacDecode {

  private val Bad = Array.fill(9)(0L)

  /** Malformed-input control flow: one shared stackless instance. */
  private object Malformed extends RuntimeException {
    override def fillInStackTrace(): Throwable = this
  }

  /** CRC-8, polynomial x^8+x^2+x^1+1 (0x07), init 0 — FLAC header CRC. */
  val Crc8Tab: Array[Int] = Array.tabulate(256) { v =>
    var c = v
    var k = 0
    while (k < 8) { c = if ((c & 0x80) != 0) (c << 1) ^ 0x07 else c << 1; k += 1 }
    c & 0xff
  }

  /** CRC-16, polynomial x^16+x^15+x^2+1 (0x8005), init 0, unreflected
    * — FLAC frame CRC (the CRC-16/BUYPASS parameterization). */
  val Crc16Tab: Array[Int] = Array.tabulate(256) { v =>
    var c = v << 8
    var k = 0
    while (k < 8) { c = if ((c & 0x8000) != 0) (c << 1) ^ 0x8005 else c << 1; k += 1 }
    c & 0xffff
  }

  def crc8(b: Array[Byte], from: Int, until: Int): Int = {
    var c = 0
    var i = from
    while (i < until) { c = Crc8Tab(c ^ (b(i) & 0xff)); i += 1 }
    c
  }

  def crc16(b: Array[Byte], from: Int, until: Int): Int = {
    var c = 0
    var i = from
    while (i < until) {
      c = ((c << 8) & 0xffff) ^ Crc16Tab(((c >> 8) ^ (b(i) & 0xff)) & 0xff)
      i += 1
    }
    c
  }

  private val RateTab = Array(
    -1, 88200, 176400, 192000, 8000, 16000, 22050, 24000, 32000,
    44100, 48000, 96000)

  /** MSB-first bit reader over the whole array; throws Malformed on
    * overrun (caught once at the top of decode). */
  private final class Br(b: Array[Byte], startByte: Int) {
    var pos: Long = startByte.toLong << 3
    private val lim: Long = b.length.toLong << 3
    def bits(n: Int): Long = {
      var v = 0L
      var k = n
      while (k > 0) {
        if (pos >= lim) throw Malformed
        val byteIdx = (pos >>> 3).toInt
        val avail = 8 - (pos & 7L).toInt
        val take = if (avail < k) avail else k
        val cur = ((b(byteIdx) & 0xff) >>> (avail - take)) & ((1 << take) - 1)
        v = (v << take) | cur
        pos += take
        k -= take
      }
      v
    }
    def sbits(n: Int): Long = {
      val u = bits(n)
      if (n < 64 && (u & (1L << (n - 1))) != 0) u - (1L << n) else u
    }
    def unary(): Int = {
      var q = 0
      while (bits(1) == 0L) {
        q += 1
        if (q > (1 << 24)) throw Malformed // runaway quotient
      }
      q
    }
    def align(): Unit = { pos = (pos + 7) & ~7L }
    def bytePos: Int = (pos >>> 3).toInt
    def aligned: Boolean = (pos & 7) == 0
  }

  private final case class StreamInfo(rate: Int, channels: Int, bps: Int,
                                      totalSamples: Long,
                                      md5: Array[Byte])

  private def parseStreamInfo(b: Array[Byte], p: Int): StreamInfo = {
    val br = new Br(b, p)
    br.bits(16) // min blocksize
    br.bits(16) // max blocksize
    br.bits(24) // min framesize (0 = unknown)
    br.bits(24) // max framesize
    val rate = br.bits(20).toInt
    val channels = br.bits(3).toInt + 1
    val bps = br.bits(5).toInt + 1
    val total = br.bits(36)
    if (rate == 0) throw Malformed
    val md5 = java.util.Arrays.copyOfRange(b, p + 18, p + 34)
    StreamInfo(rate, channels, bps, total, md5)
  }

  /** UTF-8-style coded number (frame/sample number), 1–7 bytes. */
  private def codedNumber(br: Br): Long = {
    val b0 = br.bits(8).toInt
    var n = 0
    var mask = 0x80
    while ((b0 & mask) != 0) { n += 1; mask >>= 1 }
    if (n == 1 || n > 7) throw Malformed
    var v: Long = if (n == 0) b0.toLong else (b0 & (mask - 1)).toLong
    var k = 1
    while (k < n) {
      val c = br.bits(8).toInt
      if ((c & 0xc0) != 0x80) throw Malformed
      v = (v << 6) | (c & 0x3f)
      k += 1
    }
    v
  }

  private def residuals(br: Br, blockSize: Int, order: Int,
                        out: Array[Long]): Unit = {
    val method = br.bits(2).toInt
    if (method > 1) throw Malformed
    val pbits = if (method == 0) 4 else 5
    val escape = (1 << pbits) - 1
    val po = br.bits(4).toInt
    val parts = 1 << po
    if (blockSize % parts != 0) throw Malformed
    val psize = blockSize >> po
    if (psize < order) throw Malformed // partition 0 would underflow
    var idx = order
    var k = 0
    while (k < parts) {
      val cnt = if (k == 0) psize - order else psize
      val prm = br.bits(pbits).toInt
      if (prm == escape) {
        val rb = br.bits(5).toInt
        var i = 0
        while (i < cnt) {
          out(idx) = if (rb == 0) 0L else br.sbits(rb)
          idx += 1; i += 1
        }
      } else {
        var i = 0
        while (i < cnt) {
          val q = br.unary().toLong
          val r = if (prm == 0) 0L else br.bits(prm)
          val u = (q << prm) | r
          out(idx) = (u >>> 1) ^ -(u & 1L) // zigzag
          idx += 1; i += 1
        }
      }
      k += 1
    }
  }

  private def decodeSubframe(br: Br, blockSize: Int,
                             sfBps: Int): Array[Long] = {
    if (br.bits(1) != 0L) throw Malformed // zero pad bit
    val typ = br.bits(6).toInt
    var wasted = 0
    if (br.bits(1) == 1L) wasted = br.unary() + 1
    val ebps = sfBps - wasted
    if (ebps < 1 || ebps > 33) throw Malformed
    val out = new Array[Long](blockSize)
    if (typ == 0) { // CONSTANT
      val v = br.sbits(ebps)
      java.util.Arrays.fill(out, v)
    } else if (typ == 1) { // VERBATIM
      var i = 0
      while (i < blockSize) { out(i) = br.sbits(ebps); i += 1 }
    } else if ((typ & 0x38) == 0x08 && (typ & 0x07) <= 4) { // FIXED
      val order = typ & 0x07
      if (order > blockSize) throw Malformed
      var i = 0
      while (i < order) { out(i) = br.sbits(ebps); i += 1 }
      residuals(br, blockSize, order, out)
      order match {
        case 0 => ()
        case 1 =>
          i = 1
          while (i < blockSize) { out(i) += out(i - 1); i += 1 }
        case 2 =>
          i = 2
          while (i < blockSize) {
            out(i) += 2 * out(i - 1) - out(i - 2); i += 1
          }
        case 3 =>
          i = 3
          while (i < blockSize) {
            out(i) += 3 * out(i - 1) - 3 * out(i - 2) + out(i - 3); i += 1
          }
        case 4 =>
          i = 4
          while (i < blockSize) {
            out(i) += 4 * out(i - 1) - 6 * out(i - 2) + 4 * out(i - 3) -
              out(i - 4)
            i += 1
          }
      }
    } else if (typ >= 0x20) { // LPC, order 1..32
      val order = (typ & 0x1f) + 1
      if (order > blockSize) throw Malformed
      var i = 0
      while (i < order) { out(i) = br.sbits(ebps); i += 1 }
      val precM1 = br.bits(4).toInt
      if (precM1 == 15) throw Malformed
      val prec = precM1 + 1
      val shift = br.sbits(5).toInt
      if (shift < 0) throw Malformed
      val coef = new Array[Long](order)
      i = 0
      while (i < order) { coef(i) = br.sbits(prec); i += 1 }
      residuals(br, blockSize, order, out)
      i = order
      while (i < blockSize) {
        var acc = 0L
        var j = 0
        while (j < order) { acc += coef(j) * out(i - 1 - j); j += 1 }
        out(i) += acc >> shift // arithmetic floor shift per spec
        i += 1
      }
    } else throw Malformed // reserved subframe types
    if (wasted > 0) {
      var i = 0
      while (i < blockSize) { out(i) <<= wasted; i += 1 }
    }
    out
  }

  /** Decode every frame; returns channel-major samples per frame.
    * Throws Malformed on any invalid construct. Exposed for FlacSpec's
    * exact sample-level round-trip checks. */
  def decodeAll(b: Array[Byte]): Array[Array[Array[Long]]] = {
    if (b.length < 42) throw Malformed
    if (b(0) != 'f' || b(1) != 'L' || b(2) != 'a' || b(3) != 'C')
      throw Malformed
    var p = 4
    var last = false
    var si: StreamInfo = null
    while (!last) {
      if (p + 4 > b.length) throw Malformed
      val hdr = b(p) & 0xff
      last = (hdr & 0x80) != 0
      val typ = hdr & 0x7f
      val len = ((b(p + 1) & 0xff) << 16) | ((b(p + 2) & 0xff) << 8) |
        (b(p + 3) & 0xff)
      p += 4
      if (p + len > b.length) throw Malformed
      if (si == null) {
        if (typ != 0 || len != 34) throw Malformed // STREAMINFO first
        si = parseStreamInfo(b, p)
      } else if (typ == 0 || typ > 6) throw Malformed
      p += len
    }
    if (si.channels < 1 || si.channels > 8) throw Malformed
    val md5Declared = si.md5.exists(_ != 0)
    val dig =
      if (md5Declared) java.security.MessageDigest.getInstance("MD5")
      else null
    val bytesPer = (si.bps + 7) >> 3
    val frames =
      scala.collection.mutable.ArrayBuffer.empty[Array[Array[Long]]]
    var total = 0L
    while (p < b.length) {
      val br = new Br(b, p)
      if (br.bits(14) != 0x3ffe) throw Malformed
      if (br.bits(1) != 0L) throw Malformed
      br.bits(1) // blocking strategy (both legal; coded number differs)
      val bsCode = br.bits(4).toInt
      val srCode = br.bits(4).toInt
      val asn = br.bits(4).toInt
      val ssCode = br.bits(3).toInt
      if (br.bits(1) != 0L) throw Malformed
      codedNumber(br)
      val blockSize = bsCode match {
        case 0 => throw Malformed
        case 1 => 192
        case c if c >= 2 && c <= 5 => 576 << (c - 2)
        case 6 => br.bits(8).toInt + 1
        case 7 => br.bits(16).toInt + 1
        case c => 256 << (c - 8)
      }
      val rate = srCode match {
        case 0 => si.rate
        case c if c <= 11 => RateTab(c)
        case 12 => br.bits(8).toInt * 1000
        case 13 => br.bits(16).toInt
        case 14 => br.bits(16).toInt * 10
        case _ => throw Malformed
      }
      if (rate != si.rate) throw Malformed
      val bps = ssCode match {
        case 0 => si.bps
        case 1 => 8
        case 2 => 12
        case 4 => 16
        case 5 => 20
        case 6 => 24
        case 7 => 32
        case _ => throw Malformed
      }
      if (bps != si.bps) throw Malformed
      val channels = if (asn < 8) asn + 1 else if (asn <= 10) 2
        else throw Malformed
      if (channels != si.channels) throw Malformed
      if (!br.aligned) throw Malformed
      val c8 = crc8(b, p, br.bytePos)
      if (br.bits(8).toInt != c8) throw Malformed
      val chans = new Array[Array[Long]](channels)
      var ch = 0
      while (ch < channels) {
        val side = (asn == 8 && ch == 1) || (asn == 9 && ch == 0) ||
          (asn == 10 && ch == 1)
        chans(ch) = decodeSubframe(br, blockSize,
          if (side) bps + 1 else bps)
        ch += 1
      }
      br.align()
      val c16 = crc16(b, p, br.bytePos)
      if (br.bits(16).toInt != c16) throw Malformed
      // stereo decorrelation
      if (asn == 8) { // left/side: right = left - side
        var i = 0
        while (i < blockSize) {
          chans(1)(i) = chans(0)(i) - chans(1)(i); i += 1
        }
      } else if (asn == 9) { // right/side: left = right + side
        val sideArr = chans(0)
        chans(0) = new Array[Long](blockSize)
        var i = 0
        while (i < blockSize) {
          chans(0)(i) = chans(1)(i) + sideArr(i); i += 1
        }
      } else if (asn == 10) { // mid/side
        var i = 0
        while (i < blockSize) {
          val mid = chans(0)(i)
          val sd = chans(1)(i)
          val t = (mid << 1) | (sd & 1L)
          chans(0)(i) = (t + sd) >> 1
          chans(1)(i) = (t - sd) >> 1
          i += 1
        }
      }
      if (dig != null) {
        // FLAC MD5: interleaved samples, little-endian, ceil(bps/8)
        // bytes each, two's complement
        val buf = new Array[Byte](blockSize * channels * bytesPer)
        var o = 0
        var i = 0
        while (i < blockSize) {
          ch = 0
          while (ch < channels) {
            val v = chans(ch)(i)
            var k = 0
            while (k < bytesPer) {
              buf(o) = ((v >> (8 * k)) & 0xff).toByte; o += 1; k += 1
            }
            ch += 1
          }
          i += 1
        }
        dig.update(buf)
      }
      total += blockSize
      frames += chans
      p = br.bytePos
    }
    if (frames.isEmpty) throw Malformed
    if (si.totalSamples != 0 && total != si.totalSamples) throw Malformed
    if (dig != null && !java.util.Arrays.equals(dig.digest(), si.md5))
      throw Malformed
    frames.toArray
  }

  /** Expression body: stats array, ok=0 row on malformation. */
  def decode(b: Array[Byte]): ArrayData = {
    try {
      val frames = decodeAll(b)
      // re-derive header facts for the emitted row (cheap second walk
      // of STREAMINFO only)
      var p = 4
      var last = false
      var si: StreamInfo = null
      while (!last) {
        val hdr = b(p) & 0xff
        last = (hdr & 0x80) != 0
        val len = ((b(p + 1) & 0xff) << 16) | ((b(p + 2) & 0xff) << 8) |
          (b(p + 3) & 0xff)
        if (si == null) si = parseStreamInfo(b, p + 4)
        p += 4 + len
      }
      var sum = 0L
      var total = 0L
      var f = 0
      while (f < frames.length) {
        val chans = frames(f)
        total += chans(0).length
        var ch = 0
        while (ch < chans.length) {
          val a = chans(ch)
          var i = 0
          while (i < a.length) { sum += a(i); i += 1 }
          ch += 1
        }
        f += 1
      }
      val firstS = frames(0)(0)(0)
      val lastF = frames(frames.length - 1)
      val lastC = lastF(lastF.length - 1)
      new GenericArrayData(Array(1L, frames.length.toLong, total,
        si.channels.toLong, si.bps.toLong, si.rate.toLong, firstS, sum,
        lastC(lastC.length - 1)))
    } catch {
      // Malformed plus any index/size slip on adversarial input —
      // the rejects-never-misdecodes posture: ok=0, never a throw
      case _: RuntimeException => new GenericArrayData(Bad)
    }
  }

  /** SQL array literal of [[Crc16Tab]] — rendered once from the same
    * Scala table the decoder checks against (the DdBuckets shared-
    * constant rule), for fixture construction in mm_decode_flac. */
  def crc16TabSql: String =
    Crc16Tab.mkString("array(", ", ", ")")
}
