package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending, Attribute, Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.catalyst.types.PhysicalDataType
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** Native as-of join — the canonical event-stream operator Spark has
  * no single primitive for (SURVEY build-plan extension path (c):
  * custom LogicalPlan + Strategy + SparkPlan when composition isn't
  * enough; compare the composed form in ExtendedQueries `j_asof`).
  *
  * Semantics (left outer; unmatched → nulls), by `direction`:
  *  - `backward` (default, the finance convention): for every left
  *    row, attach the LAST right row with equal keys and
  *    rightTime <= leftTime.
  *  - `forward`: the FIRST right row with rightTime >= leftTime.
  *  - `nearest` (sensor fusion): whichever of the backward/forward
  *    candidates has the smaller |rightTime − leftTime|; ties go to
  *    the BACKWARD side — the same convention as the window-form
  *    `j_asof_nearest` query, whose definitional oracle pins it.
  * `tolerance` (seconds) bounds the match distance in the match
  * direction (|Δ| for nearest — pandas merge_asof semantics).
  * NULL keys never match (SQL equi-join / DuckDB ASOF semantics): a
  * left row with any NULL key field gets the null-padded right side,
  * and right rows with NULL key fields are never candidates. NULL
  * times never match on either side. When several right rows tie on
  * (keys, time), the row chosen among the ties is sort-dependent —
  * dedupe the right side per (keys, time) for fully deterministic
  * output (what every registered query does).
  *
  * Physical shape: both sides hash-partitioned on their keys with an
  * EXACT partition count (so the co-partitioning survives AQE) and
  * sorted by (keys, time); each partition pair then merges in one
  * forward pass — O(n+m) per partition, no row buffering beyond one
  * candidate, no range explosion. This is the plan a 100 TB as-of
  * backfill needs: one shuffle per side, streaming merge.
  */
case class AsOfJoin(left: LogicalPlan, right: LogicalPlan,
    leftKeys: Seq[Expression], rightKeys: Seq[Expression],
    leftTime: Expression, rightTime: Expression,
    tolerance: Option[Long] = None,
    direction: String = "backward") extends BinaryNode {
  require(AsOf.directions.contains(direction),
    s"as-of direction '$direction' (expected ${AsOf.directions})")
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoin =
    copy(left = newLeft, right = newRight)
}

case class AsOfJoinExec(left: SparkPlan, right: SparkPlan,
    leftKeys: Seq[Expression], rightKeys: Seq[Expression],
    leftTime: Expression, rightTime: Expression,
    tolerance: Option[Long], direction: String) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  // exact numPartitions pins both exchanges to the same partitioning —
  // AQE coalescing cannot desynchronize the two sides.
  override def requiredChildDistribution: Seq[Distribution] = {
    val n = conf.numShufflePartitions
    ClusteredDistribution(leftKeys, requiredNumPartitions = Some(n)) ::
      ClusteredDistribution(rightKeys, requiredNumPartitions = Some(n)) :: Nil
  }

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    leftKeys.map(SortOrder(_, Ascending)) :+ SortOrder(leftTime, Ascending),
    rightKeys.map(SortOrder(_, Ascending)) :+ SortOrder(rightTime, Ascending))

  override def outputOrdering: Seq[SortOrder] =
    leftKeys.map(SortOrder(_, Ascending)) :+ SortOrder(leftTime, Ascending)

  protected override def doExecute(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    // the nullable-right output attrs — the UnsafeProjection must
    // null-check right columns (unmatched rows carry nulls even when
    // the right child's attributes claim non-nullable)
    val outAttrs = output
    val lKeysB = leftKeys
    val rKeysB = rightKeys
    val lTimeB = leftTime
    val rTimeB = rightTime
    // tolerance: a carried candidate is rejected at EMIT time when it
    // is farther than `tol` seconds in the match direction (pandas
    // merge_asof semantics — the nearest candidate per side is the
    // only one considered; anything farther is staler still, so no
    // second scan is ever needed)
    val tolB = tolerance
    // 0 = backward, 1 = forward, 2 = nearest — resolved once, the
    // per-row branch is an int compare
    val dirB = direction match {
      case "backward" => 0
      case "forward" => 1
      case _ => 2
    }
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(lKeysB, lOut)
      val rKeyProj = UnsafeProjection.create(rKeysB, rOut)
      val lTimeProj = UnsafeProjection.create(Seq(lTimeB), lOut)
      val rTimeProj = UnsafeProjection.create(Seq(rTimeB), rOut)
      val keyOrd = new math.Ordering[InternalRow] {
        private val ords = lKeysB.map(k =>
          PhysicalDataType.ordering(k.dataType)
            .asInstanceOf[math.Ordering[Any]])
        private val types = lKeysB.map(_.dataType)
        def compare(a: InternalRow, b: InternalRow): Int = {
          var i = 0
          while (i < ords.length) {
            val av = a.get(i, types(i))
            val bv = b.get(i, types(i))
            val c =
              if (av == null && bv == null) 0
              else if (av == null) -1
              else if (bv == null) 1
              else ords(i).compare(av, bv)
            if (c != 0) return c
            i += 1
          }
          0
        }
      }
      val rBuf = rIter.buffered
      val nullRight = new GenericInternalRow(rOut.size)
      val joined = new JoinedRow
      // downstream operators (and SparkPlan.getByteArrayRdd when this
      // is the top node) require UnsafeRow output — project the
      // JoinedRow through an UnsafeProjection
      val outProj = UnsafeProjection.create(outAttrs, outAttrs)
      var lastKey: InternalRow = null
      var lastMatch: InternalRow = null
      var lastMatchTime: Long = 0L
      val nKeys = lKeysB.length
      def hasNullKey(key: InternalRow): Boolean = {
        var i = 0
        while (i < nKeys) {
          if (key.isNullAt(i)) return true
          i += 1
        }
        false
      }
      lIter.map { lRow =>
        val lk = lKeyProj(lRow)
        if (hasNullKey(lk)) {
          // NULL keys never match — sorted NULLS FIRST, so these left
          // rows precede all matchable keys and rBuf need not advance.
          outProj(joined(lRow, nullRight))
        } else {
          if (lastKey == null || keyOrd.compare(lk, lastKey) != 0) {
            lastKey = lk.copy()
            lastMatch = null
          }
          val lt = lTimeProj(lRow)
          val ltNull = lt.isNullAt(0)
          var advance = true
          while (advance && rBuf.hasNext) {
            val rk = rKeyProj(rBuf.head)
            // right rows with NULL key fields are never candidates; they
            // sort before any non-null lastKey and fall into c < 0
            val c = keyOrd.compare(rk, lastKey)
            if (c < 0) { rBuf.next() } // right key behind/null: discard
            else if (c == 0) {
              val rt = rTimeProj(rBuf.head)
              val rtOk = !rt.isNullAt(0) && !ltNull &&
                rt.getLong(0) <= lt.getLong(0)
              if (rtOk) { lastMatchTime = rt.getLong(0)
                lastMatch = rBuf.next().copy() }
              else if (rt.isNullAt(0)) { rBuf.next() } // null time: no match
              else advance = false // right time ahead of this left row
            } else advance = false // right key ahead
          }
          val ltV = if (ltNull) 0L else lt.getLong(0)
          // backward candidate: the last consumed right row at <= lt
          // (NULLS FIRST sorting guarantees lastMatch is null for
          // null-time left rows — they precede every consumed row)
          val bOk = lastMatch != null && !ltNull &&
            (tolB.isEmpty || ltV - lastMatchTime <= tolB.get)
          var chosen: InternalRow = null
          if (dirB == 0) { if (bOk) chosen = lastMatch }
          else {
            // forward candidate: the row the scan STOPPED on, when it
            // still belongs to this key (its time is then non-null and
            // strictly > lt — equal-time rows were consumed backward).
            // Peeked, never consumed: later left rows still need it.
            var fRow: InternalRow = null
            var fT = 0L
            if (!ltNull && rBuf.hasNext &&
                keyOrd.compare(rKeyProj(rBuf.head), lastKey) == 0) {
              val rt = rTimeProj(rBuf.head)
              if (!rt.isNullAt(0)) { fRow = rBuf.head; fT = rt.getLong(0) }
            }
            val fOk = fRow != null && (tolB.isEmpty || fT - ltV <= tolB.get)
            if (dirB == 1) {
              // forward = first right at >= lt: an equal-time run was
              // consumed by the backward scan, so lastMatchTime == lt
              // IS the forward match at delta 0
              if (lastMatch != null && !ltNull && lastMatchTime == ltV)
                chosen = lastMatch
              else if (fOk) chosen = fRow
            } else { // nearest: smaller |delta|, ties backward
              if (bOk && fOk)
                chosen = if (ltV - lastMatchTime <= fT - ltV) lastMatch
                  else fRow
              else if (bOk) chosen = lastMatch
              else if (fOk) chosen = fRow
            }
          }
          outProj(joined(lRow, if (chosen != null) chosen else nullRight))
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

/** Custom optimizer rule for the custom operator: conjuncts that only
  * reference the LEFT side of an as-of join push below it (each left
  * row's match depends only on itself). Right-side predicates must NOT
  * push — filtering candidate rows changes which row is "latest". */
object PushFilterThroughAsOfJoin
    extends org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan]
    with org.apache.spark.sql.catalyst.expressions.PredicateHelper {
  import org.apache.spark.sql.catalyst.expressions.And
  import org.apache.spark.sql.catalyst.plans.logical.Filter
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, j: AsOfJoin) =>
      val (pushable, rest) = splitConjunctivePredicates(cond)
        .partition(p => p.deterministic &&
          p.references.subsetOf(j.left.outputSet))
      if (pushable.isEmpty) f
      else {
        val pushed = j.copy(left = Filter(pushable.reduce(And), j.left))
        if (rest.isEmpty) pushed else Filter(rest.reduce(And), pushed)
      }
  }
}

/** Column pruning through the custom operator: Catalyst's
  * ColumnPruning does not know AsOfJoin, so without this a SELECT of
  * two columns above an as-of join still reads every column of both
  * children from the scan. When a Project above the join needs only a
  * subset, push narrowing Projects into both children (always keeping
  * join keys and time columns); FileSourceStrategy then collapses
  * them into the Parquet ReadSchema. */
object PruneAsOfJoinColumns
    extends org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions.AttributeSet
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case p @ Project(projList, j: AsOfJoin) =>
      val needed = AttributeSet(projList.flatMap(_.references)) ++
        AttributeSet((j.leftKeys ++ j.rightKeys :+ j.leftTime :+ j.rightTime)
          .flatMap(_.references))
      def pruneChild(c: LogicalPlan): LogicalPlan = {
        val keep = c.output.filter(needed.contains)
        if (keep.size < c.output.size) Project(keep, c) else c
      }
      val nl = pruneChild(j.left)
      val nr = pruneChild(j.right)
      if (nl.eq(j.left) && nr.eq(j.right)) p
      else Project(projList, j.copy(left = nl, right = nr))
  }
}

object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoin(l, r, lk, rk, lt, rt, tol, dir) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, rk, lt, rt, tol, dir) :: Nil
    case _ => Nil
  }
}

/** DataFrame-level API. Time columns must be LongType (epoch seconds —
  * the engine's portable time representation). `direction` is
  * `backward` (default) | `forward` | `nearest` — the same semantics
  * family as the window-form queries (`j_asof`, `j_asof_tol`,
  * `j_asof_nearest`). The session must carry [[graft.GraftExtensions]],
  * which plans the node. */
object AsOf {
  val directions: Set[String] = Set("backward", "forward", "nearest")

  def join(leftDf: DataFrame, rightDf: DataFrame,
           keys: Seq[(String, String)],
           leftTimeCol: String, rightTimeCol: String,
           tolerance: Option[Long] = None,
           direction: String = "backward"): DataFrame = {
    val spark = leftDf.sparkSession
    val lPlan = leftDf.queryExecution.analyzed
    val rPlan0 = rightDf.queryExecution.analyzed
    // re-alias the right side when lineages overlap (self-join case) so
    // attribute ids stay unambiguous in the combined plan
    val rPlan =
      if (lPlan.outputSet.intersect(rPlan0.outputSet).nonEmpty)
        Project(rPlan0.output.map(a => Alias(a, a.name)()), rPlan0)
      else rPlan0
    def attr(plan: LogicalPlan, name: String): Attribute =
      plan.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"no column $name"))
    val node = AsOfJoin(lPlan, rPlan,
      keys.map(k => attr(lPlan, k._1)), keys.map(k => attr(rPlan, k._2)),
      attr(lPlan, leftTimeCol), attr(rPlan, rightTimeCol), tolerance,
      direction)
    GraftBridge.ofRows(spark, node)
  }
}
