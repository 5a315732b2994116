package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `bpe_merge(s, bl, br)` — one greedy left-to-right BPE merge pass:
  * apply the rule (bl, br) to the space-joined segmentation `s`,
  * merging every adjacent (bl, br) symbol pair into the single symbol
  * `bl||br`. A symbol produced by a merge in this pass never re-merges
  * under the same rule in the same pass (the standard one-rule-per-pass
  * BPE semantics).
  *
  * This is the native form of `Corpus.mergeFoldExpr`'s
  * `aggregate(slice(split(s, ' '), 2, …), …)` string-accumulator fold:
  * higher-order functions are EXCLUDED from whole-stage codegen, so the
  * composed form ran one interpreted lambda frame plus 2-3 string
  * concats/suffix tests PER SYMBOL per rule per word — and the
  * tokenizer family chains 8 rules over the whole distinct-word
  * vocabulary (the CLAUDE.md AHash64/HilbertD invariant class; r16
  * optimization round, see OPTIMIZATION_r16.md for the A/B). Values
  * are STRING-IDENTICAL to the composed fold — BpeMergeSpec pins the
  * equivalence expression-for-expression on adversarial symbol shapes,
  * and the DuckDB oracles keep their own composed arithmetic, so the
  * hash gates prove the semantics end-to-end.
  *
  * Null if any input is null (standard ternary null propagation via
  * nullSafeEval/nullSafeCodeGen).
  */
case class BpeMerge(s: Expression, bl: Expression, br: Expression)
    extends TernaryExpression {

  override def first: Expression = s
  override def second: Expression = bl
  override def third: Expression = br

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (Seq(s, bl, br).forall(_.dataType == StringType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        "bpe_merge requires (STRING, STRING, STRING), got " +
          Seq(s, bl, br).map(_.dataType.simpleString).mkString(", "))

  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "bpe_merge"

  override def nullSafeEval(sv: Any, blv: Any, brv: Any): Any =
    BpeMerge.merge(sv.asInstanceOf[UTF8String],
      blv.asInstanceOf[UTF8String], brv.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (sv, blv, brv) => {
      s"${ev.value} = graft.functions.BpeMerge.merge($sv, $blv, $brv);"
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): BpeMerge =
    copy(s = newFirst, bl = newSecond, br = newThird)
}

object BpeMerge {

  /** One merge pass over the space-joined symbols of `s` — a single
    * array walk with an output buffer (symbols never contain spaces:
    * they are letter runs by construction in the BPE family). */
  def merge(s: UTF8String, bl: UTF8String, br: UTF8String): UTF8String = {
    val str = s.toString
    val l = bl.toString
    val r = br.toString
    val parts = str.split(" ", -1)
    if (parts.length < 2) return s
    val out = new java.lang.StringBuilder(str.length)
    // index of the start of the LAST symbol currently in `out`; -1
    // when `out` is empty. Tracking it makes the "last symbol == bl"
    // test an O(|bl|) region compare instead of a suffix scan.
    var lastStart = -1
    def lastIsBlNow(): Boolean = {
      if (lastStart < 0 || out.length() - lastStart != l.length) false
      else {
        var j = 0
        var eq = true
        while (eq && j < l.length) {
          if (out.charAt(lastStart + j) != l.charAt(j)) eq = false
          j += 1
        }
        eq
      }
    }
    var i = 0
    while (i < parts.length) {
      val x = parts(i)
      if (lastIsBlNow() && x == r) {
        // merge: the last symbol bl and the incoming br fuse in place
        out.append(r)
      } else {
        if (lastStart >= 0) out.append(' ')
        lastStart = out.length()
        out.append(x)
      }
      i += 1
    }
    UTF8String.fromString(out.toString)
  }
}
