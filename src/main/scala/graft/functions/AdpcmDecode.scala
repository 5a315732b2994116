package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, LongType}

/** `adpcm_decode(bytes)` — a REAL IMA ADPCM (DVI4 / WAV format tag
  * 0x0011) decoder as a native expression: COMPRESSED audio joins
  * compressed video (MJPEG) and the image codecs as genuinely
  * decodable with zero codec dependencies — IMA ADPCM is pure
  * integer table arithmetic (the 89-step table, 3-bit magnitude
  * reconstruction `step>>3 + bits·step`, ±clamp to int16, index
  * walk clamped to [0,88]), which is also what makes its output
  * hash-gatable. The container walk is the real thing: RIFF/WAVE
  * chunk list, `fmt ` with tag 0x0011 + the cbSize extension's
  * samplesPerBlock cross-checked against the block-align arithmetic
  * (1 + 2·(blockAlign−4) for mono), `data` as a whole number of
  * blocks, each block = [pred int16le][index u8][reserved] + nibble
  * bytes decoded LOW NIBBLE FIRST.
  *
  * Scope: mono, 4-bit (the telephony/archive shape); stereo's
  * 4-byte channel interleave is rejected as unsupported rather than
  * misdecoded. Returns `ARRAY<BIGINT>` of `[ok, sample_rate,
  * samples_per_block, n_blocks, n_samples, sum_samples,
  * first_sample, last_sample]`; malformed input (bad magic, wrong
  * tag, inconsistent samplesPerBlock, ragged data, index > 88)
  * yields ok = 0 — never a throw.
  *
  * The mm_decode_adpcm gate rides ALL-ZERO nibble blocks, where the
  * decode is the closed-form step-table walk (sample k = pred +
  * Σ step(max(0, idx−j))>>3 — the oracle recomputes it from the
  * SAME rendered step table, [[AdpcmDecode.stepsSql]]); AdpcmSpec
  * drives nonzero/sign nibbles, clamps and multi-block state with a
  * real test-side encoder. */
case class AdpcmDecode(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType != BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"adpcm_decode requires a BINARY input, got " +
          child.dataType.simpleString)
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "adpcm_decode"

  override def nullSafeEval(bytes: Any): Any =
    AdpcmDecode.decode(bytes.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b =>
      s"${ev.value} = graft.functions.AdpcmDecode.decode($b);")

  override protected def withNewChildInternal(
      newChild: Expression): AdpcmDecode = copy(child = newChild)
}

object AdpcmDecode {

  private val Bad = Array.fill(8)(0L)

  /** The IMA/DVI 89-entry step table (Recommended Practices for
    * Enhancing Digital Audio Compatibility, IMA 1992). */
  val Steps: Array[Int] = Array(
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31,
    34, 37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130,
    143, 157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408, 449,
    494, 544, 598, 658, 724, 796, 876, 963, 1060, 1166, 1282, 1411,
    1552, 1707, 1878, 2066, 2272, 2499, 2749, 3024, 3327, 3660, 4026,
    4428, 4871, 5358, 5894, 6484, 7132, 7845, 8630, 9493, 10442,
    11487, 12635, 13899, 15289, 16818, 18500, 20350, 22385, 24623,
    27086, 29794, 32767)

  private val IndexAdj: Array[Int] = Array(-1, -1, -1, -1, 2, 4, 6, 8)

  /** DuckDB twin of the step table: `VALUES ... v(i, step)` — the
    * single source both the gate oracle and this decoder share. */
  def stepsSql: String =
    Steps.zipWithIndex.map { case (s, i) => s"($i,$s)" }
      .mkString("SELECT * FROM (VALUES ", ", ", ") v(i, step)")

  /** One nibble through the IMA state machine. */
  private def step(pred: Int, index: Int, n: Int): (Int, Int) = {
    val st = Steps(index)
    var diff = st >> 3
    if ((n & 1) != 0) diff += st >> 2
    if ((n & 2) != 0) diff += st >> 1
    if ((n & 4) != 0) diff += st
    var p = if ((n & 8) != 0) pred - diff else pred + diff
    if (p > 32767) p = 32767
    if (p < -32768) p = -32768
    var ix = index + IndexAdj(n & 7)
    if (ix < 0) ix = 0
    if (ix > 88) ix = 88
    (p, ix)
  }

  def decode(b: Array[Byte]): ArrayData = {
    def bad = new GenericArrayData(Bad)
    val n = b.length
    def u8(i: Int): Int = b(i) & 0xff
    def u16le(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    def u32le(i: Int): Long =
      u16le(i).toLong | (u16le(i + 2).toLong << 16)
    def cc(i: Int, s: String): Boolean =
      i + 4 <= n && (0 until 4).forall(j => b(i + j) == s.charAt(j))
    if (n < 12 || !cc(0, "RIFF") || !cc(8, "WAVE")) return bad
    var p = 12
    var rate = -1L; var blockAlign = -1; var spb = -1
    var dataOff = -1; var dataLen = -1
    while (p + 8 <= n) {
      val size = u32le(p + 4)
      if (size < 0 || p + 8 + size > n) return bad
      if (cc(p, "fmt ")) {
        if (size < 20) return bad
        if (u16le(p + 8) != 0x0011) return bad // IMA ADPCM only
        if (u16le(p + 10) != 1) return bad     // mono scope
        rate = u32le(p + 12)
        blockAlign = u16le(p + 20)
        if (u16le(p + 22) != 4) return bad     // 4-bit
        if (u16le(p + 24) < 2) return bad      // cbSize must carry spb
        spb = u16le(p + 26)
        if (blockAlign < 5 || spb != 1 + 2 * (blockAlign - 4)) return bad
      } else if (cc(p, "data")) {
        dataOff = p + 8; dataLen = size.toInt
      } // fact/LIST/unknown: skipped with word alignment
      p += 8 + size.toInt + (size.toInt & 1)
    }
    if (rate < 0 || dataOff < 0 || blockAlign < 5) return bad
    if (dataLen % blockAlign != 0) return bad
    val nBlocks = dataLen / blockAlign
    var sum = 0L
    var first = Long.MinValue; var last = 0L
    var nSamples = 0L
    var bi = 0
    while (bi < nBlocks) {
      val off = dataOff + bi * blockAlign
      var pred = u16le(off).toShort.toInt // int16le
      var index = u8(off + 2)
      if (index > 88) return bad
      // header sample
      if (first == Long.MinValue) first = pred
      sum += pred; last = pred; nSamples += 1
      var k = 0
      while (k < blockAlign - 4) {
        val byte = u8(off + 4 + k)
        var half = 0
        while (half < 2) {
          val nib = if (half == 0) byte & 0x0f else byte >> 4
          val (p2, i2) = step(pred, index, nib)
          pred = p2; index = i2
          sum += pred; last = pred; nSamples += 1
          half += 1
        }
        k += 1
      }
      bi += 1
    }
    if (nSamples == 0) return bad
    new GenericArrayData(Array(1L, rate, spb.toLong, nBlocks.toLong,
      nSamples, sum, first, last))
  }
}
