package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** `kmv_min(v, k)` — the k smallest DISTINCT BIGINT values per group,
  * as a sorted ARRAY<BIGINT>: the K-minimum-values sketch primitive
  * (Beyer et al. 2007), specialized to PRIMITIVE longs.
  *
  * Why this exists beside `topk_min_distinct` (the generic struct
  * heap): the generic TypedImperativeAggregate path compares rows
  * through an interpreted ordering whose megamorphic call sites are
  * JIT-fragile — measured BIMODAL on the ANF-KMV rounds (the same
  * 4.8M-row aggregation read 5.3 s or 19.4 s at sf0.1 depending on
  * whether unrelated STARTUP work had polluted the JVM's call-site
  * profiles before C2 compiled the compare loop; that bimodality is
  * the real story behind the r12 driver reading 14.7 s where the
  * builder read 6.4). This class touches no InternalRow, no
  * UnsafeProjection, and no ordering object: the buffer is a sorted
  * long[k] with insertion-shift maintenance (k ≤ 64 — for the k=8
  * sketch an insert is a ≤8-slot System.arraycopy), every compare is
  * a primitive `<` — monomorphic, profile-proof, and allocation-free
  * per row. `topk_min`/`topk_min_distinct` remain the general form
  * for struct-ordered top-k (tie-broken multi-field orders); use
  * THIS one whenever the sort key is a bare long and duplicates are
  * meaningless — which is every hash-sketch site.
  *
  * Merge is distinct-union + re-min-k (exact by the top-k merge law
  * over the total long order); NULLs are skipped. Deterministic for
  * any partitioning — KmvMinSpec pins equality with the generic
  * aggregate and with distinct-then-window.
  */
case class KmvMin(
    child: Expression,
    kExpr: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[KmvMin.Buf] {

  private lazy val k: Int = kExpr.eval().asInstanceOf[Number].intValue()

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType =>
      if (!kExpr.foldable)
        TypeCheckResult.TypeCheckFailure("kmv_min k must be a literal")
      else if (kExpr.eval() == null)
        TypeCheckResult.TypeCheckFailure(
          "kmv_min k must be a non-null literal")
      else if (k <= 0 || k > 4096)
        TypeCheckResult.TypeCheckFailure(
          s"kmv_min k must be in (0, 4096], got $k")
      else TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"kmv_min requires a BIGINT input, got ${other.simpleString}")
  }

  override def dataType: DataType =
    ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "kmv_min"
  override def children: Seq[Expression] = Seq(child, kExpr)

  override def createAggregationBuffer(): KmvMin.Buf =
    new KmvMin.Buf(new Array[Long](k), 0)

  /** Insert keeping `vals[0..n)` sorted ascending and distinct. */
  private def insert(buf: KmvMin.Buf, v: Long): Unit = {
    val a = buf.vals
    val n = buf.n
    if (n == k && v >= a(n - 1)) return
    // binary search for the insertion point (k ≤ 4096; for the k=8
    // sketch this is ~3 primitive compares)
    var lo = 0
    var hi = n
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (a(mid) < v) lo = mid + 1 else hi = mid
    }
    if (lo < n && a(lo) == v) return // distinct: already kept
    val last = if (n == k) n - 1 else n
    if (last > lo) System.arraycopy(a, lo, a, lo + 1, last - lo)
    a(lo) = v
    if (n < k) buf.n = n + 1
  }

  override def update(buf: KmvMin.Buf, input: InternalRow): KmvMin.Buf = {
    val v = child.eval(input)
    if (v != null) insert(buf, v.asInstanceOf[Long])
    buf
  }

  override def merge(buf: KmvMin.Buf, other: KmvMin.Buf): KmvMin.Buf = {
    var i = 0
    while (i < other.n) { insert(buf, other.vals(i)); i += 1 }
    buf
  }

  override def eval(buf: KmvMin.Buf): Any = {
    val out = new Array[Long](buf.n)
    System.arraycopy(buf.vals, 0, out, 0, buf.n)
    new GenericArrayData(out)
  }

  override def serialize(buf: KmvMin.Buf): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 8 * buf.n)
    bb.putInt(buf.n)
    var i = 0
    while (i < buf.n) { bb.putLong(buf.vals(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): KmvMin.Buf = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val vals = new Array[Long](k)
    var i = 0
    while (i < n) { vals(i) = bb.getLong(); i += 1 }
    new KmvMin.Buf(vals, n)
  }

  override def withNewMutableAggBufferOffset(n: Int): KmvMin =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): KmvMin =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): KmvMin =
    copy(child = c(0), kExpr = c(1))
}

object KmvMin {
  /** Sorted distinct prefix: `vals[0..n)` ascending. */
  final class Buf(val vals: Array[Long], var n: Int)
}
