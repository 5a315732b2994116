package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType, LongType}

/** `ahash64(bytes)` — the 64-bit average-hash of the first 32 bytes of
  * a binary feature vector: `mean = sum(b_i) div 32` (unsigned bytes,
  * integer division), bit `i` set iff `b_i >= mean`. This is the
  * perceptual-hash step of the image near-dup family (`dedup_phash`,
  * reference analog: pHash/aHash over decoded thumbnails), computed
  * in ONE native codegen pass over the bytes.
  *
  * The composed form it replaces — two 32-element higher-order
  * `aggregate(transform(sequence(...), i -> conv(substr(hex, 2i+1, 2),
  * 16, 10)))` folds over the HEX STRING — evaluates 64 interpreted
  * lambda frames and 64 string slices + base-16 parses per row (HOFs
  * are excluded from whole-stage codegen), which made the hashing the
  * dominant cost of `dedup_phash` (same lesson class as the CLAUDE.md
  * HilbertD invariant: per-element sequential work belongs in a native
  * expression). Values are bit-identical to the composed form — the
  * DuckDB oracle keeps the hex arithmetic, and AHashSpec pins the
  * Spark-side equivalence expression-for-expression.
  *
  * Inputs shorter than 32 bytes yield NULL (the callers hash 32-byte
  * sha256 digests, so a short input is a wiring bug surfaced as null,
  * not a silent partial hash).
  */
case class AHash64(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"ahash64 requires a BINARY input, got " +
          child.dataType.simpleString)

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "ahash64"

  override def nullSafeEval(bytes: Any): Any = {
    val b = bytes.asInstanceOf[Array[Byte]]
    if (b.length < 32) null else AHash64.hash(b)
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b => {
      s"""
         |if ($b.length < 32) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = graft.functions.AHash64.hash($b);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(
      newChild: Expression): AHash64 = copy(child = newChild)
}

object AHash64 {
  /** mean-threshold bits over the first 32 unsigned bytes; bit i of
    * the result corresponds to byte i (LSB-first, matching the
    * composed form's `shiftleft(1L, i)`). */
  def hash(b: Array[Byte]): Long = {
    var sum = 0L
    var i = 0
    while (i < 32) { sum += (b(i) & 0xffL); i += 1 }
    val mean = sum / 32L
    var acc = 0L
    i = 0
    while (i < 32) {
      if ((b(i) & 0xffL) >= mean) acc |= (1L << i)
      i += 1
    }
    acc
  }
}
