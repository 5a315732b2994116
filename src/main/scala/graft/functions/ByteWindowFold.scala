package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `byte_window_fold(bytes, winLen, mode)` — per-window integer folds
  * over consecutive `winLen`-byte windows of a binary payload,
  * returned as `ARRAY<BIGINT>` (one element per complete window; a
  * trailing partial window is ignored). Modes:
  *  - `'sum'`     — Σ unsigned bytes (the frame-feature / box-filter
  *                  / mean-byte building block);
  *  - `'sqdev128'`— Σ (b − 128)² (the audio-energy fold).
  *
  * This is the generic member of the AHash64 family (see the
  * CLAUDE.md HOF invariant): the composed forms it replaces —
  * per-window `aggregate(transform(sequence(...), i ->
  * conv(substr(hex, ...), 16, 10)))` folds — run one interpreted
  * lambda frame plus a string slice and base-16 parse PER BYTE
  * (higher-order functions are excluded from whole-stage codegen).
  * One generated call per row computes every window in a tight loop
  * over the bytes. Values are bit-identical to the composed forms
  * (ByteFoldSpec pins each mode); the DuckDB oracles keep the hex
  * arithmetic.
  *
  * `winLen` must be a positive foldable INT literal; `mode` a
  * foldable STRING literal naming a mode above.
  */
case class ByteWindowFold(first: Expression, second: Expression,
                          third: Expression) extends TernaryExpression {

  private def winLen: Option[Int] = second match {
    case e if e.foldable && e.dataType == IntegerType =>
      Option(e.eval(null)).map(_.asInstanceOf[Int]).filter(_ > 0)
    case _ => None
  }

  private def modeCode: Option[Int] = third match {
    case e if e.foldable && e.dataType == StringType =>
      Option(e.eval(null)).map(_.toString).collect {
        case "sum" => ByteWindowFold.ModeSum
        case "sqdev128" => ByteWindowFold.ModeSqDev128
      }
    case _ => None
  }

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (first.dataType != BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"byte_window_fold requires a BINARY input, got " +
          first.dataType.simpleString)
    else if (winLen.isEmpty)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        "byte_window_fold requires a positive foldable INT winLen")
    else if (modeCode.isEmpty)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        "byte_window_fold requires mode 'sum' or 'sqdev128'")
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "byte_window_fold"

  override def nullSafeEval(bytes: Any, w: Any, m: Any): Any =
    ByteWindowFold.fold(bytes.asInstanceOf[Array[Byte]],
      w.asInstanceOf[Int], modeCode.get)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val mc = modeCode.get
    nullSafeCodeGen(ctx, ev, (b, w, _) => {
      s"""
         |${ev.value} = graft.functions.ByteWindowFold.fold($b, $w, $mc);
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): ByteWindowFold =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object ByteWindowFold {
  final val ModeSum = 0
  final val ModeSqDev128 = 1

  /** One tight pass: n = len/winLen complete windows, fold per mode. */
  def fold(b: Array[Byte], winLen: Int, mode: Int): ArrayData = {
    val n = b.length / winLen
    val out = new Array[Long](n)
    var w = 0
    while (w < n) {
      var acc = 0L
      var i = w * winLen
      val end = i + winLen
      while (i < end) {
        val v = (b(i) & 0xffL)
        if (mode == ModeSqDev128) { val d = v - 128L; acc += d * d }
        else acc += v
        i += 1
      }
      out(w) = acc
      w += 1
    }
    new GenericArrayData(out)
  }

  /** Convenience literal-mode constructor for the extensions path. */
  def apply(bin: Expression, winLen: Int, mode: String): ByteWindowFold =
    ByteWindowFold(bin, Literal(winLen), Literal(UTF8String.fromString(mode),
      StringType))
}
