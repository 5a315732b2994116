package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** `utf8_stats(bytes)` — a STRICT RFC 3629 UTF-8 validator as a
  * native expression: the byte-level front gate every crawl ingest
  * runs before a blob may become a string column (a parquet/UTF8
  * writer downstream would otherwise throw or silently mangle).
  * Strict means the real rules, not a table lookup: continuation
  * ranges per lead byte, overlong rejection (C0/C1 dead, E0 requires
  * A0.., F0 requires 90..), the surrogate hole (ED A0..BF rejected),
  * and the U+10FFFF cap (F4 8F.. max, F5..FF dead).
  *
  * Returns `STRUCT<n_bytes, n_ascii, n_2byte, n_3byte, n_4byte,
  * n_invalid BIGINT..., valid BOOLEAN>` where the sequence counts are
  * complete WELL-FORMED sequences. Error policy is deterministic and
  * documented: any invalid byte (bad lead, bad/missing continuation,
  * overlong, surrogate, out-of-range) counts ONE invalid and the
  * scan advances ONE byte (resync-at-next-byte — the policy a
  * replacement-character decoder's "maximal subpart" refines; one
  * count per bad byte keeps the arithmetic first-principles
  * recomputable). NULL input stays NULL; never throws. */
case class Utf8Stats(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType != BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"utf8_stats requires a BINARY input, got " +
          child.dataType.simpleString)
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = StructType(Seq(
    StructField("n_bytes", LongType, nullable = false),
    StructField("n_ascii", LongType, nullable = false),
    StructField("n_2byte", LongType, nullable = false),
    StructField("n_3byte", LongType, nullable = false),
    StructField("n_4byte", LongType, nullable = false),
    StructField("n_invalid", LongType, nullable = false),
    StructField("valid", BooleanType, nullable = false)))

  override def prettyName: String = "utf8_stats"

  override def nullSafeEval(bytes: Any): Any =
    Utf8Stats.stats(bytes.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b =>
      s"${ev.value} = graft.functions.Utf8Stats.stats($b);")

  override protected def withNewChildInternal(
      newChild: Expression): Utf8Stats = copy(child = newChild)
}

object Utf8Stats {

  def stats(b: Array[Byte]): InternalRow = {
    val n = b.length
    var ascii = 0L; var two = 0L; var three = 0L; var four = 0L
    var bad = 0L
    var i = 0
    def cont(j: Int): Boolean =
      j < n && (b(j) & 0xc0) == 0x80
    while (i < n) {
      val c = b(i) & 0xff
      if (c < 0x80) { ascii += 1; i += 1 }
      else if (c >= 0xc2 && c <= 0xdf) {
        if (cont(i + 1)) { two += 1; i += 2 }
        else { bad += 1; i += 1 }
      } else if (c == 0xe0) {
        if (i + 2 < n && (b(i + 1) & 0xff) >= 0xa0 &&
          (b(i + 1) & 0xff) <= 0xbf && cont(i + 2)) { three += 1; i += 3 }
        else { bad += 1; i += 1 }
      } else if (c == 0xed) {
        // surrogate hole: ED A0..BF encodes U+D800..DFFF — dead
        if (i + 2 < n && (b(i + 1) & 0xff) >= 0x80 &&
          (b(i + 1) & 0xff) <= 0x9f && cont(i + 2)) { three += 1; i += 3 }
        else { bad += 1; i += 1 }
      } else if ((c >= 0xe1 && c <= 0xec) || c == 0xee || c == 0xef) {
        if (cont(i + 1) && cont(i + 2)) { three += 1; i += 3 }
        else { bad += 1; i += 1 }
      } else if (c == 0xf0) {
        if (i + 3 < n && (b(i + 1) & 0xff) >= 0x90 &&
          (b(i + 1) & 0xff) <= 0xbf && cont(i + 2) && cont(i + 3)) {
          four += 1; i += 4
        } else { bad += 1; i += 1 }
      } else if (c >= 0xf1 && c <= 0xf3) {
        if (cont(i + 1) && cont(i + 2) && cont(i + 3)) { four += 1; i += 4 }
        else { bad += 1; i += 1 }
      } else if (c == 0xf4) {
        if (i + 3 < n && (b(i + 1) & 0xff) >= 0x80 &&
          (b(i + 1) & 0xff) <= 0x8f && cont(i + 2) && cont(i + 3)) {
          four += 1; i += 4
        } else { bad += 1; i += 1 }
      } else { // 0x80..0xC1 stray continuation / overlong lead, F5..FF
        bad += 1; i += 1
      }
    }
    InternalRow(n.toLong, ascii, two, three, four, bad, bad == 0L)
  }
}
