package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType}

/** `avi_frames(bytes)` — a REAL AVI (RIFF) container walk returning
  * the video frame payloads in stream order: the piece that, composed
  * with [[JpegDecode]], makes VIDEO decode genuinely real for the
  * MJPEG codec (`explode(avi_frames(b))` → `jpeg_decode(frame)` —
  * two native expressions, Spark-first composition; mm_decode_mjpeg
  * gates it end-to-end). The walk is what any RIFF reader does:
  * validate `RIFF <size> AVI `, iterate chunks honoring the
  * EVEN-BYTE PADDING rule, descend into `LIST` chunks by their form
  * type (`hdrl` skipped through its real framing, `movi` walked for
  * frames), and collect `??dc`/`??db` (compressed/uncompressed video)
  * chunk payloads; `rec ` sub-lists inside movi are descended too.
  * Audio (`??wb`) and index (`idx1`) chunks are framing-walked and
  * skipped.
  *
  * Returns `ARRAY<BINARY>` of frame payloads (possibly empty for a
  * valid but frameless file); NULL on malformation (bad RIFF/AVI
  * magic, chunk overrunning the buffer, truncated LIST) — never a
  * throw, never a partial frame list. */
case class AviFrames(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType != BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"avi_frames requires a BINARY input, got " +
          child.dataType.simpleString)
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType =
    ArrayType(BinaryType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "avi_frames"

  override def nullSafeEval(bytes: Any): Any =
    AviFrames.frames(bytes.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b =>
      s"""
         |${ev.value} = graft.functions.AviFrames.frames($b);
         |if (${ev.value} == null) { ${ev.isNull} = true; }
       """.stripMargin)

  override protected def withNewChildInternal(
      newChild: Expression): AviFrames = copy(child = newChild)
}

object AviFrames {

  def frames(b: Array[Byte]): ArrayData = {
    val n = b.length
    def u32le(i: Int): Long =
      (b(i) & 0xffL) | ((b(i + 1) & 0xffL) << 8) |
        ((b(i + 2) & 0xffL) << 16) | ((b(i + 3) & 0xffL) << 24)
    def fourCC(i: Int, s: String): Boolean =
      i + 4 <= n && (0 until 4).forall(j => b(i + j) == s.charAt(j))
    if (n < 12 || !fourCC(0, "RIFF")) return null
    val riffSize = u32le(4)
    if (riffSize < 4 || 8 + riffSize > n) return null
    if (!fourCC(8, "AVI ")) return null
    val out = collection.mutable.ArrayBuffer.empty[Array[Byte]]

    /** Walk the chunk sequence in [from, to); collect frames when
      * `inMovi`. Returns false on malformation. */
    def walkChunks(from: Int, to: Int, inMovi: Boolean): Boolean = {
      var p = from
      while (p < to) {
        if (p + 8 > to) return false
        val size = u32le(p + 4)
        val dataOff = p + 8
        if (size < 0 || dataOff + size > to) return false
        if (fourCC(p, "LIST")) {
          if (size < 4) return false
          val isMovi = fourCC(dataOff, "movi")
          val isRec = fourCC(dataOff, "rec ")
          // hdrl/strl/INFO etc. descend generically; frames only
          // collect under movi (or its rec groups)
          if (!walkChunks(dataOff + 4, dataOff + size.toInt,
            inMovi || isMovi || isRec)) return false
        } else if (inMovi && b(p + 2) == 'd' &&
          (b(p + 3) == 'c' || b(p + 3) == 'b')) {
          // ??dc / ??db: a video frame payload
          out += java.util.Arrays.copyOfRange(b, dataOff,
            dataOff + size.toInt)
        } // other chunks (avih, strh, strf, ??wb, idx1, JUNK): skipped
        p = dataOff + size.toInt + (size.toInt & 1) // even padding
      }
      true
    }
    if (!walkChunks(12, (8 + riffSize).toInt, inMovi = false)) return null
    new GenericArrayData(out.toArray[Any])
  }
}
