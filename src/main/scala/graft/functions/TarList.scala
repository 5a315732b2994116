package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `tar_list(bytes)` — a REAL ustar (POSIX tar) archive walker as a
  * native expression: the third corpus container format beside gzip
  * and WARC (shards ship as `.tar` of documents in the wild — WebDataset
  * is exactly this layout). The walk is what any tar reader does:
  * 512-byte header blocks, NUL-terminated names, OCTAL size/checksum
  * fields (the format's famous quirk), payloads rounded up to the
  * 512-byte block boundary, terminated by a zero block. The header
  * CHECKSUM is RECOMPUTED — simple sum of the 512 header bytes with
  * the checksum field replaced by spaces — and compared, so a
  * corrupted header is flagged per member rather than crashing the
  * walk; the `ustar` magic is validated the same way.
  *
  * Returns `ARRAY<STRUCT<name STRING, size BIGINT, typeflag BIGINT,
  * cksum_ok BOOLEAN, payload_sum BIGINT>>`, one row per member
  * (`payload_sum` = exact byte sum of the member payload —
  * truncation-visible). A structurally broken archive (header block
  * past EOF, payload overrun, unparseable octal) returns the members
  * walked so far with the broken one marked `cksum_ok = false` and
  * the walk stopped — the per-member corrupt-blob semantic. NULL
  * input stays NULL. */
case class TarList(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType != BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"tar_list requires a BINARY input, got " +
          child.dataType.simpleString)
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("name", StringType, nullable = false),
    StructField("size", LongType, nullable = false),
    StructField("typeflag", LongType, nullable = false),
    StructField("cksum_ok", BooleanType, nullable = false),
    StructField("payload_sum", LongType, nullable = false))),
    containsNull = false)

  override def prettyName: String = "tar_list"

  override def nullSafeEval(bytes: Any): Any =
    TarList.list(bytes.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b => {
      s"""
         |${ev.value} = graft.functions.TarList.list($b);
       """.stripMargin
    })

  override protected def withNewChildInternal(
      newChild: Expression): TarList = copy(child = newChild)
}

object TarList {

  /** Parse an octal numeric field (NUL/space terminated, leading
    * spaces tolerated — the forms real writers emit). -1 if invalid. */
  private def octal(b: Array[Byte], off: Int, len: Int): Long = {
    var i = off
    val end = off + len
    while (i < end && b(i) == ' ') i += 1
    var v = 0L
    var any = false
    while (i < end && b(i) != 0 && b(i) != ' ') {
      val c = b(i)
      if (c < '0' || c > '7') return -1L
      v = v * 8 + (c - '0')
      any = true
      i += 1
    }
    if (any) v else -1L
  }

  def list(b: Array[Byte]): ArrayData = {
    val out = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
    def row(name: String, size: Long, tf: Long, ok: Boolean,
            psum: Long): InternalRow =
      InternalRow(UTF8String.fromString(name), size, tf, ok, psum)
    var pos = 0
    var broken = false
    while (!broken && pos + 512 <= b.length) {
      // terminator: an all-zero header block ends the archive
      var allZero = true
      var z = pos
      while (allZero && z < pos + 512) { if (b(z) != 0) allZero = false
        z += 1 }
      if (allZero) return new GenericArrayData(out.toArray)
      // name: NUL-terminated within the first 100 bytes
      var ne = pos
      while (ne < pos + 100 && b(ne) != 0) ne += 1
      // UTF-8 unconditionally — ustar declares no name encoding (PAX
      // does); every modern writer emits UTF-8, matching zip_list's
      // read policy and our own tar_write
      val name = new String(b, pos, ne - pos, "UTF-8")
      val size = octal(b, pos + 124, 12)
      val stored = octal(b, pos + 148, 8)
      val tf: Long =
        if (b(pos + 156) == 0) '0'.toLong else (b(pos + 156) & 0xffL)
      // magic: "ustar" at 257 (NUL- or space-terminated variants)
      val magicOk = b(pos + 257) == 'u' && b(pos + 258) == 's' &&
        b(pos + 259) == 't' && b(pos + 260) == 'a' && b(pos + 261) == 'r'
      // recompute the checksum: header bytes with the checksum field
      // (offsets 148-155) treated as eight spaces
      var sum = 0L
      var i = pos
      while (i < pos + 512) {
        sum += (if (i >= pos + 148 && i < pos + 156) ' '.toLong
                else (b(i) & 0xffL))
        i += 1
      }
      val ok = magicOk && size >= 0 && stored >= 0 && sum == stored
      if (!ok || size < 0) {
        out += row(name, math.max(size, 0L), tf, ok = false, 0L)
        broken = true
      } else {
        val dataOff = pos + 512
        if (dataOff + size > b.length) {
          out += row(name, size, tf, ok = false, 0L)
          broken = true
        } else {
          var psum = 0L
          var j = dataOff
          val end = dataOff + size.toInt
          while (j < end) { psum += (b(j) & 0xffL); j += 1 }
          out += row(name, size, tf, ok = true, psum)
          // advance past the payload, rounded up to the block size
          pos = dataOff + (((size + 511L) / 512L) * 512L).toInt
        }
      }
    }
    new GenericArrayData(out.toArray)
  }
}
