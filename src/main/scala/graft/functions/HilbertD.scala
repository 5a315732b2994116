package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType}

/** Native codegen'd Hilbert-curve index `hilbert_d(x, y, bits)` — maps
  * a scaled grid point onto the `bits`-level Hilbert walk (the
  * canonical xy2d rotate/flip loop).
  *
  * Why an Expression and not composed columns: the walk is a
  * SEQUENTIAL 16-level state update, and expressing it as 16 chained
  * Projects stacks ~100 CASE/arithmetic nodes into one generated
  * method that exceeds the JVM JIT's 8 KB compile limit — the stage
  * then runs as interpreted bytecode (measured 5–13 s for 600k rows
  * at local[32] across both CASE and branchless formulations). This
  * expression compiles to a 16-iteration primitive-long loop inside
  * whole-stage codegen: same ladder step as [[LongArrayDot]]
  * (SURVEY build-plan extension path (b)). Measured: the keying pass
  * drops to scan speed.
  *
  * Inputs must be non-negative and < 2^bits (the caller scales them —
  * Layout.scaleDim); `bits` is a literal ≤ 26 so d < 4^bits stays a
  * positive long. The DuckDB oracle twin is the UNROLLED branchless
  * CTE chain (Layout.hilbertSqlDuckCtes) — DuckDB 1.0's list_reduce
  * mis-folds struct accumulators under vectorization, so no lambda
  * fold exists on either side.
  */
case class HilbertD(left: Expression, right: Expression, bits: Int)
    extends BinaryExpression {

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = left.dataType == LongType && right.dataType == LongType &&
      bits >= 1 && bits <= 26
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"hilbert_d requires BIGINT inputs and bits in 1..26, got " +
        s"${left.dataType.simpleString}, ${right.dataType.simpleString}, $bits")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "hilbert_d"

  private val n1 = (1L << bits) - 1

  override def nullSafeEval(a: Any, b: Any): Any = {
    var hx = a.asInstanceOf[Long]
    var hy = b.asInstanceOf[Long]
    var d = 0L
    var lv = bits - 1
    while (lv >= 0) {
      val s = 1L << lv
      val rx = (hx >> lv) & 1L
      val ry = (hy >> lv) & 1L
      d += s * s * ((3L * rx) ^ ry)
      if (ry == 0L) {
        if (rx == 1L) { hx = n1 - hx; hy = n1 - hy }
        val t = hx; hx = hy; hy = t
      }
      lv -= 1
    }
    d
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val hx = ctx.freshName("hx")
      val hy = ctx.freshName("hy")
      val d = ctx.freshName("d")
      val lv = ctx.freshName("lv")
      val s = ctx.freshName("s")
      val rx = ctx.freshName("rx")
      val ry = ctx.freshName("ry")
      val t = ctx.freshName("t")
      s"""
         |long $hx = $a; long $hy = $b; long $d = 0L;
         |for (int $lv = ${bits - 1}; $lv >= 0; $lv--) {
         |  final long $s = 1L << $lv;
         |  final long $rx = ($hx >> $lv) & 1L;
         |  final long $ry = ($hy >> $lv) & 1L;
         |  $d += $s * $s * ((3L * $rx) ^ $ry);
         |  if ($ry == 0L) {
         |    if ($rx == 1L) { $hx = ${n1}L - $hx; $hy = ${n1}L - $hy; }
         |    final long $t = $hx; $hx = $hy; $hy = $t;
         |  }
         |}
         |${ev.value} = $d;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HilbertD =
    copy(left = newLeft, right = newRight)
}

object HilbertD {
  /** The `hilbert_d` builder in the GraftExtensions function table —
    * accepts Int or Long bits literals so `hilbert_d(x, y, 16)` and
    * `hilbert_d(x, y, 16L)` behave identically. */
  def fromExprs(exprs: Seq[Expression]): HilbertD = {
    val b = exprs(2) match {
      case Literal(v: Int, IntegerType) => v
      case Literal(v: Long, LongType) => v.toInt
      case other => throw new IllegalArgumentException(
        s"hilbert_d: bits must be an integer literal, got $other")
    }
    HilbertD(exprs(0), exprs(1), b)
  }
}
