package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** HyperLogLog-style REGISTER aggregates: a fixed array of m
  * registers per group, merged by element-wise max — the mergeable
  * sketch family's approx-distinct member (HLL; Flajolet et al. 2007,
  * HyperANF Boldi-Rosa-Vigna 2011), beside the exact bitmap
  * (`a_bitmap_distinct`), KMV (`graph_anf_kmv`), CMS and DDSketch
  * members already in the engine.
  *
  * Two input shapes, one buffer:
  *  - [[RegUpdate]] (`hll_reg_update(idx, rho, m)`): scalar per-row
  *    (register index, rank) pairs — the INGEST form. Avoids
  *    materializing a per-row m-element array (which would also be an
  *    interpreted HOF in the hot path — the AHash64/HilbertD
  *    invariant).
  *  - [[RegMerge]] (`hll_reg_merge(regs, m)`): element-wise max of
  *    already-built register arrays — the MERGE form for sketch
  *    round-trips (the ANF neighborhood rounds, partition partials,
  *    day→week rollups).
  *
  * Why max-merge matters at 100 TB: registers are idempotent under
  * replay (max(a, a) = a), so at-least-once redelivery cannot inflate
  * the estimate — the same property the bitmap/OR and top-k partials
  * have, and exactly what count-based partials lack. State is O(m)
  * longs per group at ANY cardinality.
  *
  * Determinism: element-wise max is associative + commutative, so
  * results are independent of partitioning and arrival order. The
  * register CONTENTS are integers and hash-gate cleanly; only the
  * final harmonic-mean estimate is floating point, and the registered
  * queries keep that OUT of the gated frame (spec-pinned instead).
  */
abstract class RegAggBase
  extends TypedImperativeAggregate[Array[Long]] {

  protected def mExpr: Expression
  protected lazy val m: Int = mExpr.eval().asInstanceOf[Number].intValue()

  protected def checkM(): TypeCheckResult =
    if (!mExpr.foldable)
      TypeCheckResult.TypeCheckFailure(s"$prettyName m must be a literal")
    else if (mExpr.eval() == null)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName m must be a non-null literal")
    else if (m <= 0 || m > (1 << 20))
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName m must be in (0, 2^20], got $m")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType =
    ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false

  override def createAggregationBuffer(): Array[Long] = new Array[Long](m)

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < m) { if (other(i) > buf(i)) buf(i) = other(i); i += 1 }
    buf
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 * buf.length)
    var i = 0
    while (i < buf.length) { bb.putLong(buf(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val out = new Array[Long](bytes.length / 8)
    var i = 0
    while (i < out.length) { out(i) = bb.getLong(); i += 1 }
    out
  }
}

/** `hll_reg_update(idx, rho, m)` — fold scalar (register, rank) pairs
  * into the m-register buffer. NULL idx/rho rows are skipped; idx is
  * taken mod m defensively (callers already reduce it). */
case class RegUpdate(
    idx: Expression,
    rho: Expression,
    override val mExpr: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends RegAggBase {

  override def prettyName: String = "hll_reg_update"
  override def children: Seq[Expression] = Seq(idx, rho, mExpr)

  override def checkInputDataTypes(): TypeCheckResult =
    (idx.dataType, rho.dataType) match {
      case (LongType | IntegerType | ShortType | ByteType,
            LongType | IntegerType | ShortType | ByteType) => checkM()
      case other => TypeCheckResult.TypeCheckFailure(
        s"hll_reg_update needs integral (idx, rho), got $other")
    }

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val iv = idx.eval(input)
    val rv = rho.eval(input)
    if (iv != null && rv != null) {
      val i = (iv.asInstanceOf[Number].longValue() % m).toInt
      val j = if (i < 0) i + m else i
      val r = rv.asInstanceOf[Number].longValue()
      if (r > buf(j)) buf(j) = r
    }
    buf
  }

  override def withNewMutableAggBufferOffset(n: Int): RegUpdate =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): RegUpdate =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): RegUpdate =
    copy(idx = c(0), rho = c(1), mExpr = c(2))
}

/** `hll_reg_merge(regs, m)` — element-wise max of already-built
  * register arrays (ARRAY<BIGINT>, shorter arrays treated as
  * zero-padded; NULL arrays skipped). */
case class RegMerge(
    regs: Expression,
    override val mExpr: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends RegAggBase {

  override def prettyName: String = "hll_reg_merge"
  override def children: Seq[Expression] = Seq(regs, mExpr)

  override def checkInputDataTypes(): TypeCheckResult = regs.dataType match {
    case ArrayType(LongType | IntegerType | ShortType | ByteType, _) =>
      checkM()
    case other => TypeCheckResult.TypeCheckFailure(
      s"hll_reg_merge needs ARRAY of integral, got ${other.simpleString}")
  }

  private lazy val elemType =
    regs.dataType.asInstanceOf[ArrayType].elementType

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val av = regs.eval(input)
    if (av != null) {
      val arr = av.asInstanceOf[ArrayData]
      val n = math.min(arr.numElements(), m)
      var i = 0
      while (i < n) {
        if (!arr.isNullAt(i)) {
          val v = elemType match {
            case LongType => arr.getLong(i)
            case IntegerType => arr.getInt(i).toLong
            case ShortType => arr.getShort(i).toLong
            case _ => arr.getByte(i).toLong
          }
          if (v > buf(i)) buf(i) = v
        }
        i += 1
      }
    }
    buf
  }

  override def withNewMutableAggBufferOffset(n: Int): RegMerge =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): RegMerge =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): RegMerge =
    copy(regs = c(0), mExpr = c(1))
}
