package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** `mp3_frames(bytes)` — the MPEG audio FRAME WALK plus ID3v2 tag
  * parse: the container level of the one audio format crawls meet
  * constantly. Entropy decode of Layer III audio stays an honest
  * fake (no codec deps — the labeled limitation since r14); what IS
  * real here is everything a pipeline needs before decode: the
  * ID3v2 header with its SYNCSAFE 28-bit size, v2.3/v2.4 tag frames
  * (v2.4 sizes syncsafe, v2.3 plain big-endian — the classic
  * confusion implemented correctly), and the MPEG frame walk —
  * 11-bit sync, version/layer bits, the bitrate and sample-rate
  * tables, the padding bit, and the Layer I/II/III frame-length
  * formulas — validating that frames tile the file EXACTLY to EOF
  * (optionally through a trailing 128-byte ID3v1 'TAG' block).
  *
  * Returns `STRUCT<id3_size BIGINT (tag body bytes, 0 when absent),
  * id3_frames BIGINT, n_frames BIGINT, total_samples BIGINT,
  * sample_rate BIGINT, sum_frame_bytes BIGINT>`; NULL on any
  * malformation (bad sync, free/bad bitrate index, reserved
  * sample-rate or layer bits, frame overrunning EOF, trailing
  * garbage, truncated or oversize tag). Mixed sample rates between
  * frames are malformed per contract (real VBR streams vary BITRATE
  * only); `sample_rate` is the stream's single rate. */
object Mp3Frames {

  val outType: StructType = StructType(Seq(
    StructField("id3_size", LongType, nullable = false),
    StructField("id3_frames", LongType, nullable = false),
    StructField("n_frames", LongType, nullable = false),
    StructField("total_samples", LongType, nullable = false),
    StructField("sample_rate", LongType, nullable = false),
    StructField("sum_frame_bytes", LongType, nullable = false)))

  // bitrate kbps tables, index 1..14 (0 = free: rejected; 15: bad)
  private val BR_V1_L1 = Array(0, 32, 64, 96, 128, 160, 192, 224,
    256, 288, 320, 352, 384, 416, 448)
  private val BR_V1_L2 = Array(0, 32, 48, 56, 64, 80, 96, 112, 128,
    160, 192, 224, 256, 320, 384)
  private val BR_V1_L3 = Array(0, 32, 40, 48, 56, 64, 80, 96, 112,
    128, 160, 192, 224, 256, 320)
  private val BR_V2_L1 = Array(0, 32, 48, 56, 64, 80, 96, 112, 128,
    144, 160, 176, 192, 224, 256)
  private val BR_V2_L23 = Array(0, 8, 16, 24, 32, 40, 48, 56, 64,
    80, 96, 112, 128, 144, 160)
  private val SR_V1 = Array(44100, 48000, 32000)
  private val SR_V2 = Array(22050, 24000, 16000)
  private val SR_V25 = Array(11025, 12000, 8000)

  def read(b: Array[Byte]): InternalRow = {
    try {
      var p = 0
      var id3Size = 0L
      var id3Frames = 0L
      // ── ID3v2 tag ──
      if (b.length >= 10 && b(0) == 'I' && b(1) == 'D' && b(2) == '3') {
        val major = b(3) & 0xff
        if (major < 2 || major > 4) return null
        // flags: reject unsynchronisation (we don't resync)
        if ((b(5) & 0x80) != 0) return null
        // syncsafe 28-bit body size
        var sz = 0L
        var i = 0
        while (i < 4) {
          val x = b(6 + i) & 0xff
          if ((x & 0x80) != 0) return null
          sz = (sz << 7) | x
          i += 1
        }
        if (10 + sz > b.length) return null
        id3Size = sz
        // walk the tag frames (v2.3: plain BE sizes; v2.4: syncsafe)
        var q = 10
        val tagEnd = 10 + sz.toInt
        var stop = false
        while (!stop && q + 10 <= tagEnd) {
          if (b(q) == 0) stop = true // zero padding region
          else {
            var fsz = 0L
            var k = 0
            while (k < 4) {
              val x = b(q + 4 + k) & 0xff
              if (major == 4) {
                if ((x & 0x80) != 0) return null
                fsz = (fsz << 7) | x
              } else fsz = (fsz << 8) | x
              k += 1
            }
            if (fsz < 0 || q + 10 + fsz > tagEnd) return null
            id3Frames += 1
            q += 10 + fsz.toInt
          }
        }
        p = tagEnd
      }
      // ── MPEG frame walk ──
      var nFrames = 0L
      var totalSamples = 0L
      var rate = -1
      var sumBytes = 0L
      while (p < b.length) {
        // trailing ID3v1?
        if (b.length - p == 128 && b(p) == 'T' && b(p + 1) == 'A' &&
          b(p + 2) == 'G') {
          p = b.length
        } else {
          if (p + 4 > b.length) return null
          val h1 = b(p) & 0xff
          val h2 = b(p + 1) & 0xff
          val h3 = b(p + 2) & 0xff
          if (h1 != 0xff || (h2 & 0xe0) != 0xe0) return null
          val verBits = (h2 >>> 3) & 0x3 // 0=2.5, 2=MPEG2, 3=MPEG1
          if (verBits == 1) return null  // reserved
          val layerBits = (h2 >>> 1) & 0x3 // 1=III, 2=II, 3=I
          if (layerBits == 0) return null
          val brIdx = (h3 >>> 4) & 0xf
          if (brIdx == 0 || brIdx == 15) return null // free / bad
          val srIdx = (h3 >>> 2) & 0x3
          if (srIdx == 3) return null
          val pad = (h3 >>> 1) & 0x1
          val v1 = verBits == 3
          val br = 1000 * (if (v1) {
            if (layerBits == 3) BR_V1_L1(brIdx)
            else if (layerBits == 2) BR_V1_L2(brIdx)
            else BR_V1_L3(brIdx)
          } else {
            if (layerBits == 3) BR_V2_L1(brIdx)
            else BR_V2_L23(brIdx)
          })
          val sr = (if (verBits == 3) SR_V1
            else if (verBits == 2) SR_V2
            else SR_V25)(srIdx)
          if (rate == -1) rate = sr
          else if (rate != sr) return null
          val (flen, samples) =
            if (layerBits == 3) // Layer I
              ((12 * br / sr + pad) * 4, 384L)
            else if (layerBits == 2) // Layer II
              (144 * br / sr + pad, 1152L)
            else { // Layer III
              if (v1) (144 * br / sr + pad, 1152L)
              else (72 * br / sr + pad, 576L)
            }
          if (flen < 4 || p + flen > b.length) return null
          nFrames += 1
          totalSamples += samples
          sumBytes += flen.toLong
          p += flen
        }
      }
      if (nFrames == 0 && id3Size == 0) return null
      InternalRow(id3Size, id3Frames, nFrames, totalSamples,
        if (rate == -1) 0L else rate.toLong, sumBytes)
    } catch {
      case _: ArrayIndexOutOfBoundsException => null
    }
  }
}

/** `mp3_frames(bytes)` — ID3v2 + MPEG frame walk; NULL on
  * malformation. See [[Mp3Frames]]. */
case class Mp3FramesExpr(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType != BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult
        .TypeCheckFailure("mp3_frames requires a BINARY input, got " +
          child.dataType.simpleString)
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult
        .TypeCheckSuccess

  override def dataType: DataType = Mp3Frames.outType
  override def nullable: Boolean = true
  override def prettyName: String = "mp3_frames"

  override def nullSafeEval(bytes: Any): Any =
    Mp3Frames.read(bytes.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b => {
      s"""
         |${ev.value} = graft.functions.Mp3Frames.read($b);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })

  override protected def withNewChildInternal(
      newChild: Expression): Mp3FramesExpr = copy(child = newChild)
}
