package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType}

/** `md5_prefix_long(s, nHexChars)` ≡
  * `CAST(conv(substring(md5(s), 1, nHexChars), 16, 10) AS BIGINT)` —
  * the engine's portable-hash idiom (first nHexChars hex digits of the
  * md5, read as a base-16 integer), computed DIRECTLY from the digest
  * bytes. The composed form materializes a 32-char hex string, slices
  * it, and re-parses it through NumberConverter per value; this
  * expression folds the first nHexChars/2 digest bytes into a long —
  * same value, no intermediate strings. Used in the shingle/token
  * hashing and deterministic-sampling hot paths.
  *
  * `nHexChars` must be an even foldable literal in 2..14 (≤ 56 bits —
  * the value always fits a positive BIGINT, exactly like the conv
  * idiom it replaces). The DuckDB oracles keep the equivalent
  * `('0x' || substr(md5(s), 1, n))::BIGINT` — values are identical,
  * which MdPrefixSpec asserts against the composed Spark form.
  */
case class Md5PrefixLong(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val n = nHexChars
    if (left.dataType != StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"md5_prefix_long requires a STRING input, got " +
          left.dataType.simpleString)
    else if (n.isEmpty)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        "md5_prefix_long requires a foldable even INT literal in 2..14 " +
          "for nHexChars")
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
  }

  private def nHexChars: Option[Int] = right match {
    case e if e.foldable && e.dataType == IntegerType =>
      Option(e.eval(null)).map(_.asInstanceOf[Int])
        .filter(n => n >= 2 && n <= 14 && n % 2 == 0)
    case _ => None
  }

  override def dataType: DataType = LongType
  override def prettyName: String = "md5_prefix_long"

  override def nullSafeEval(s: Any, n: Any): Any =
    Md5PrefixLong.prefix(
      s.asInstanceOf[UTF8String].getBytes, n.asInstanceOf[Int] / 2)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (s, n) => {
      s"""
         |${ev.value} = graft.functions.Md5PrefixLong.prefix(
         |  $s.getBytes(), $n / 2);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Md5PrefixLong =
    copy(left = newLeft, right = newRight)
}

object Md5PrefixLong {
  /** First `nBytes` bytes of md5(input), folded big-endian into a
    * long — equals parsing the first 2*nBytes hex chars base-16. */
  def prefix(input: Array[Byte], nBytes: Int): Long = {
    val d = org.apache.commons.codec.digest.DigestUtils.md5(input)
    var acc = 0L
    var i = 0
    while (i < nBytes) { acc = (acc << 8) | (d(i) & 0xffL); i += 1 }
    acc
  }

  /** Count-Min sketch geometry + the ONE bucket-hash expression every
    * CMS path shares (batch `a_cms`, `cmsPartialsStream`, the
    * ScaleProbe row). Partials from different paths are sum-mergeable
    * exactly as long as they hash identically — centralizing the
    * expression makes that a compile-time property instead of five
    * copy-pasted strings. The DuckDB oracle keeps its own literal
    * replica (that IS the cross-engine twin, kept in sync like every
    * oracle). Resolves in a session carrying GraftExtensions. */
  val CmsRows = 3
  val CmsWidth = 64L
  def cmsBucket(rCol: String, keyCol: String)
      : org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.expr(
      s"md5_prefix_long(concat(cast($rCol as string), '#', $keyCol), 14)"
    ) % CmsWidth
}
