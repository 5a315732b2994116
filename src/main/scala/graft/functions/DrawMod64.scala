package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, QuaternaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}

/** `draw_mod64(a, b, c, n)` — allocation-free deterministic draw:
  * a splitmix-style 64-bit mix of three long keys, reduced by an
  * UNSIGNED modulo into `[0, n)`. Replaces the
  * `md5_prefix_long(concat(CAST(a AS STRING), ':', ...)) % n` idiom in
  * per-row sampling hot paths: the md5 form allocates and hashes a
  * fresh draw-key string per draw (sample_negative evaluates 2.2M of
  * them), while this expression is four longs in, one long out — pure
  * register arithmetic inside whole-stage codegen, nothing on the
  * heap.
  *
  * Definition (all arithmetic mod 2^64, i.e. native Java long wrap;
  * `>>>` is the unsigned shift):
  * {{{
  *   h  = a*K1 + b*K2 + c          K1 = 0x9E3779B97F4A7C15
  *   h ^= h >>> 30; h *= C1        K2 = 0xC2B2AE3D27D4EB4F
  *   h ^= h >>> 27; h *= C2        C1 = 0xBF58476D1CE4E5B9
  *   h ^= h >>> 31                 C2 = 0x94D049BB133111EB
  *   draw = remainderUnsigned(h, n)
  * }}}
  * K1/K2 are odd, so `a -> a*K` is a bijection on Z/2^64 and the
  * finalizer is splitmix64's (Steele et al., "Fast Splittable
  * Pseudorandom Number Generators", OOPSLA'14) — the same mixer JDK
  * `SplittableRandom` uses. The DuckDB twin computes the IDENTICAL
  * value in exact HUGEINT arithmetic: mod-2^64 wrapping multiply via
  * the 32-bit split `(a*b) mod 2^64 = (lo(a)*b + (hi(a)*lo(b) mod
  * 2^32)*2^32) mod 2^64`, xor through signed-BIGINT wrap/unwrap, and
  * unsigned shift as integer division — no strings, no md5, no
  * floats. [[DrawMod64Sql.draws]] renders that chain; DrawModSpec
  * pins Scala == BigInt-model == the rendered SQL's semantics.
  *
  * `n` must be positive; the unsigned remainder matches DuckDB's
  * nonnegative `HUGEINT % n` exactly (Spark's `pmod` would NOT — it
  * adjusts mod n, not mod 2^64, and plain `%` keeps the sign).
  */
case class DrawMod64(first: Expression, second: Expression,
    third: Expression, fourth: Expression) extends QuaternaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (children.forall(_.dataType == LongType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "draw_mod64 requires four BIGINT inputs, got " +
        children.map(_.dataType.simpleString).mkString(", "))

  override def dataType: DataType = LongType
  override def prettyName: String = "draw_mod64"

  override def nullSafeEval(a: Any, b: Any, c: Any, n: Any): Any =
    DrawMod64.draw(a.asInstanceOf[Long], b.asInstanceOf[Long],
      c.asInstanceOf[Long], n.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, c, n) =>
      s"${ev.value} = graft.functions.DrawMod64.draw($a, $b, $c, $n);")

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression, q: Expression): DrawMod64 =
    copy(first = f, second = s, third = t, fourth = q)
}

object DrawMod64 {
  final val K1 = 0x9E3779B97F4A7C15L
  final val K2 = 0xC2B2AE3D27D4EB4FL
  final val C1 = 0xBF58476D1CE4E5B9L
  final val C2 = 0x94D049BB133111EBL

  /** The raw 64-bit mix (before the modulo). Static + JIT-inlined from
    * the generated code. */
  def mix(a: Long, b: Long, c: Long): Long = {
    var h = a * K1 + b * K2 + c
    h ^= h >>> 30; h *= C1
    h ^= h >>> 27; h *= C2
    h ^ (h >>> 31)
  }

  def draw(a: Long, b: Long, c: Long, n: Long): Long =
    java.lang.Long.remainderUnsigned(mix(a, b, c), n)
}

/** Renders the DuckDB twin of [[DrawMod64]]: a CTE chain computing the
  * identical mix in exact HUGEINT arithmetic. Kept beside the
  * expression so the two sides change together (the MtaSynthetic /
  * MtaOracleSql twin discipline). */
object DrawMod64Sql {
  private val M = "18446744073709551616"   // 2^64
  private val H = "9223372036854775808"    // 2^63
  private val B32 = "4294967296"           // 2^32

  /** mod-2^64 wrapping multiply of nonneg HUGEINT `x` (< 2^64) by the
    * 64-bit constant `k` via the 32-bit split. */
  private def mul64(x: String, k: Long): String = {
    val kFull = java.lang.Long.toUnsignedString(k)
    val kLo = java.lang.Long.toUnsignedString(k & 0xffffffffL)
    s"(($x % $B32) * $kFull + (($x // $B32) * $kLo % $B32) * $B32) % $M"
  }

  /** xor of nonneg HUGEINT `x` (< 2^64) with its unsigned right shift
    * by `s` bits, back on the [0, 2^64) domain. The shifted operand is
    * < 2^34 so it is BIGINT-safe directly; `x` round-trips through the
    * signed wrap. */
  private def xorShift(x: String, s: Int): String = {
    val sh = 1L << s
    val xs = s"CAST(CASE WHEN $x >= $H THEN $x - $M ELSE $x END AS BIGINT)"
    val xr = s"xor($xs, CAST($x // $sh AS BIGINT))"
    s"(CAST($xr AS HUGEINT) + CASE WHEN $xr < 0 THEN CAST($M AS HUGEINT) ELSE 0 END)"
  }

  /** CTE chain body: given an input relation `src` with nonneg BIGINT
    * columns `a`, `b`, `c` (plus any carried columns `carry`), emits
    * CTE definitions `<p>0..<p>5` where `<p>5` has column `h` =
    * DrawMod64.mix(a,b,c) as a nonneg HUGEINT. Use as
    * `WITH ..., ${draws("src","d", "a","b","c", "x, y")} SELECT ...
    * CAST(h % n AS BIGINT) ... FROM d5`. */
  def draws(src: String, p: String, a: String, b: String, c: String,
      carry: String): String = {
    val keep = if (carry.isEmpty) "" else s"$carry, "
    s"""
      ${p}0 AS (
        SELECT $keep(${mul64(s"CAST($a AS HUGEINT)", DrawMod64.K1)}
                + ${mul64(s"CAST($b AS HUGEINT)", DrawMod64.K2)}
                + CAST($c AS HUGEINT)) % $M AS h
        FROM $src),
      ${p}1 AS (SELECT $keep${xorShift("h", 30)} AS h FROM ${p}0),
      ${p}2 AS (SELECT $keep${mul64("h", DrawMod64.C1)} AS h FROM ${p}1),
      ${p}3 AS (SELECT $keep${xorShift("h", 27)} AS h FROM ${p}2),
      ${p}4 AS (SELECT $keep${mul64("h", DrawMod64.C2)} AS h FROM ${p}3),
      ${p}5 AS (SELECT $keep${xorShift("h", 31)} AS h FROM ${p}4)"""
  }
}
