package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{GenericArrayData, TypeUtils}
import org.apache.spark.sql.types._

/** Native bounded-heap top-k-per-group aggregate: keeps the k SMALLEST
  * struct values (lexicographic field order — put the sort key first
  * and a unique tiebreak last) and emits them as a sorted array.
  *
  * Why not `row_number() OVER (...) <= k`? Spark 4's
  * InferWindowGroupLimit already prunes that pattern map-side to
  * groups·k rows per mapper (measured: PERF.md round 5), so the naive
  * "window shuffles Θ(input)" claim is stale. What the heap aggregate
  * still buys, measured at sf0.1 (100k events / 1500 groups):
  *   - shuffle RECORDS: one partial-buffer row per group per mapper
  *     regardless of k (1,500 vs the window's 7,500 at k=5);
  *   - no map-side sort: WindowGroupLimitExec needs its FULL input
  *     slice locally sorted on (key, order) before pruning — at 100 TB
  *     that is a spillable sort of every scanned row, vs this
  *     aggregate's O(n log k) streaming heap with no sort at all;
  *   - applies where the rank-filter pattern isn't statically
  *     recognizable (k from a config table, filter applied in a later
  *     stage, top-k feeding an array-typed consumer directly).
  * This is the SURVEY build-plan extension path (b): a custom Catalyst
  * aggregate before a custom operator.
  *
  * Determinism: the heap keeps the k smallest under the struct's TOTAL
  * order (callers include a unique tiebreak field), so the result is
  * independent of partitioning and arrival order — asserted by
  * TopKAggSpec, hash-gated by the `a_topk_agg` oracle.
  *
  * `distinct = true` (SQL name `topk_min_distinct`) dedups ON INSERT:
  * a row order-equal to one already kept is skipped, so the result is
  * the k smallest DISTINCT values. This replaces the
  * `.distinct().groupBy().agg(topk_min)` two-shuffle pattern
  * (distinct shuffles on (group, value), the agg re-shuffles on
  * group) with ONE map-side-combined shuffle — the graph_anf_kmv
  * round merge. Exact by the same merge law: distinct-top-k(A∪B) =
  * distinct-top-k(distinct-top-k(A) ∪ distinct-top-k(B)), since a
  * duplicate contributes nothing to the distinct kept set. The dup
  * scan is O(k) per insert against the bounded heap (k ≤ 8 in every
  * caller) — cheaper than the avoided exchange by orders of
  * magnitude.
  */
case class TopKMin(
    child: Expression,
    kExpr: Expression,
    distinct: Boolean = false,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.PriorityQueue[InternalRow]] {

  private lazy val structType = child.dataType.asInstanceOf[StructType]
  private lazy val k: Int = kExpr.eval().asInstanceOf[Number].intValue()
  private lazy val ordering: Ordering[InternalRow] =
    TypeUtils.getInterpretedOrdering(structType)
      .asInstanceOf[Ordering[InternalRow]]
  // UnsafeProjection is NOT thread-safe / reusable rows must be copied;
  // created lazily per task deserialization is fine (single-threaded
  // per aggregate instance).
  @transient private lazy val toUnsafe = UnsafeProjection.create(structType)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case s: StructType =>
      if (!org.apache.spark.sql.catalyst.expressions.RowOrdering.isOrderable(s))
        TypeCheckResult.TypeCheckFailure(
          s"topk_min struct is not orderable: ${s.simpleString}")
      else if (!kExpr.foldable)
        TypeCheckResult.TypeCheckFailure("topk_min k must be a literal")
      else if (kExpr.eval() == null)
        // guard BEFORE the lazy `k` dereference: CAST(NULL AS INT) is
        // foldable but evaluates to null — without this branch the
        // Number cast below NPEs during analysis instead of failing
        // the type check cleanly.
        TypeCheckResult.TypeCheckFailure(
          "topk_min k must be a non-null literal")
      else if (k <= 0)
        TypeCheckResult.TypeCheckFailure(s"topk_min k must be positive, got $k")
      else TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"topk_min requires a STRUCT input, got ${other.simpleString}")
  }

  override def dataType: DataType = ArrayType(structType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String =
    if (distinct) "topk_min_distinct" else "topk_min"
  override def children: Seq[Expression] = Seq(child, kExpr)

  /** distinct mode: is `row` order-equal to a kept element? O(k) scan
    * of the bounded heap (k ≤ 8 in every caller). Uses the struct's
    * interpreted ordering, not equals(), so UnsafeRow (deserialized
    * partials) and GenericInternalRow (fresh evals) compare by VALUE. */
  private def containsEquiv(
      buf: java.util.PriorityQueue[InternalRow], row: InternalRow): Boolean = {
    val it = buf.iterator()
    while (it.hasNext) if (ordering.equiv(it.next(), row)) return true
    false
  }

  override def createAggregationBuffer(): java.util.PriorityQueue[InternalRow] =
    // max-heap: head is the LARGEST of the kept k, evicted first
    new java.util.PriorityQueue[InternalRow](math.max(k, 1),
      ordering.reverse)

  override def update(
      buf: java.util.PriorityQueue[InternalRow],
      input: InternalRow): java.util.PriorityQueue[InternalRow] = {
    val v = child.eval(input)
    if (v != null) {
      val row = v.asInstanceOf[InternalRow]
      if (buf.size < k) {
        if (!(distinct && containsEquiv(buf, row))) buf.offer(row.copy())
      } else if (ordering.lt(row, buf.peek())) {
        if (!(distinct && containsEquiv(buf, row))) {
          buf.poll()
          buf.offer(row.copy())
        }
      }
    }
    buf
  }

  override def merge(
      buf: java.util.PriorityQueue[InternalRow],
      other: java.util.PriorityQueue[InternalRow])
      : java.util.PriorityQueue[InternalRow] = {
    val it = other.iterator()
    while (it.hasNext) {
      val row = it.next()
      if (buf.size < k) {
        if (!(distinct && containsEquiv(buf, row))) buf.offer(row)
      } else if (ordering.lt(row, buf.peek())) {
        if (!(distinct && containsEquiv(buf, row))) {
          buf.poll(); buf.offer(row)
        }
      }
    }
    buf
  }

  override def eval(buf: java.util.PriorityQueue[InternalRow]): Any = {
    val arr = new Array[InternalRow](buf.size)
    var i = 0
    val it = buf.iterator()
    while (it.hasNext) { arr(i) = it.next(); i += 1 }
    java.util.Arrays.sort(arr, ordering)
    new GenericArrayData(arr.asInstanceOf[Array[Any]])
  }

  override def serialize(
      buf: java.util.PriorityQueue[InternalRow]): Array[Byte] = {
    val rows = new Array[Array[Byte]](buf.size)
    var total = 4
    var i = 0
    val it = buf.iterator()
    while (it.hasNext) {
      rows(i) = toUnsafe(it.next()).copy().getBytes
      total += 4 + rows(i).length
      i += 1
    }
    val bb = ByteBuffer.allocate(total)
    bb.putInt(rows.length)
    rows.foreach { b => bb.putInt(b.length); bb.put(b) }
    bb.array()
  }

  override def deserialize(
      bytes: Array[Byte]): java.util.PriorityQueue[InternalRow] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = createAggregationBuffer()
    var i = 0
    while (i < n) {
      val len = bb.getInt
      val rowBytes = new Array[Byte](len)
      bb.get(rowBytes)
      val row = new UnsafeRow(structType.length)
      row.pointTo(rowBytes, len)
      buf.offer(row)
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKMin =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKMin =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKMin =
    copy(child = newChildren(0), kExpr = newChildren(1))
}
