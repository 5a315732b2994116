package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType}

/** Snappy raw-block codec — the remaining member of the lake codec
  * family (it is the historical default inside parquet/ORC pages and
  * Spark shuffle). Same adversary posture as [[Lz4]]:
  *
  *  - `snappy_read(bytes)` — a FROM-SCRATCH decoder for the raw
  *    Snappy block format: the uncompressed-length varint preamble,
  *    then the tag walk — 2-bit element types (literal with the
  *    60..63 extended-length encodings; copies with 1-, 2- and
  *    4-byte little-endian offsets), offset/length bounds checked
  *    against the produced prefix, overlapping copies executed
  *    byte-wise, and the declared length required to land EXACTLY.
  *    Any malformation (varint overrun, zero/out-of-range offset,
  *    literal/copy overrun, short or long output, trailing bytes)
  *    returns NULL — reject-never-misdecode.
  *  - `snappy_write(bytes)` — the classpath snappy-java compressor
  *    (org.xerial.snappy), the INDEPENDENT implementation: the gated
  *    round trip (mm_snappy_roundtrip) validates our decoder against
  *    foreign output inside the plan.
  *
  * The framed stream format (sNaPpY chunks with masked CRC-32C) is
  * deliberately out of contract — lakes embed RAW blocks (parquet
  * page compression, Hadoop's block codec both wrap raw blocks in
  * their own framing), so raw is the format a 100 TB pipeline
  * actually meets. Reference re-expressed: push-ai/mta-rtf-dbt has
  * no compression surface (BigQuery SQL models). */
object SnappyRead {

  /** Decode a raw Snappy block; null on any malformation. */
  def read(b: Array[Byte]): Array[Byte] = {
    // uncompressed-length varint (max 5 bytes, 32-bit)
    var p = 0
    var declared = 0L
    var shift = 0
    var done = false
    while (!done) {
      if (p >= b.length || shift > 31) return null
      val v = b(p) & 0xff
      p += 1
      declared |= (v & 0x7fL) << shift
      shift += 7
      if ((v & 0x80) == 0) done = true
    }
    // the format's largest expansion is a 3-byte copy emitting 64
    // bytes, so no valid stream declares more than 22x its remaining
    // bytes: reject before allocating the declared length
    if (declared > Int.MaxValue.toLong || declared > 22L * (b.length - p))
      return null
    val n = declared.toInt
    val out = new Array[Byte](n)
    var d = 0
    while (p < b.length) {
      val tag = b(p) & 0xff
      p += 1
      (tag & 3) match {
        case 0 => // literal
          var len = (tag >>> 2) + 1
          if (len > 60) {
            val extra = len - 60 // 1..4 length bytes, LE
            if (p + extra > b.length) return null
            len = 0
            var i = 0
            while (i < extra) {
              len |= (b(p + i) & 0xff) << (8 * i)
              i += 1
            }
            len += 1
            p += extra
            if (len <= 0) return null
          }
          if (p + len > b.length || d + len > n) return null
          System.arraycopy(b, p, out, d, len)
          p += len
          d += len
        case c => // copy
          var len = 0
          var off = 0
          if (c == 1) {
            if (p >= b.length) return null
            len = ((tag >>> 2) & 0x7) + 4
            off = ((tag >>> 5) << 8) | (b(p) & 0xff)
            p += 1
          } else {
            val ob = if (c == 2) 2 else 4
            if (p + ob > b.length) return null
            len = (tag >>> 2) + 1
            var i = 0
            while (i < ob) {
              off |= (b(p + i) & 0xff) << (8 * i)
              i += 1
            }
            p += ob
          }
          if (off <= 0 || off > d || d + len > n) return null
          var k = 0
          val m = d - off
          while (k < len) { out(d + k) = out(m + k); k += 1 }
          d += len
      }
    }
    if (d != n) return null
    out
  }

  def write(data: Array[Byte]): Array[Byte] =
    org.xerial.snappy.Snappy.compress(data)
}

/** `snappy_read(bytes)` — from-scratch raw-block decoder; NULL on any
  * malformation. See [[SnappyRead]]. */
case class SnappyReadExpr(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType != BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult
        .TypeCheckFailure("snappy_read requires a BINARY input, got " +
          child.dataType.simpleString)
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult
        .TypeCheckSuccess

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def prettyName: String = "snappy_read"

  override def nullSafeEval(bytes: Any): Any =
    SnappyRead.read(bytes.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b => {
      s"""
         |${ev.value} = graft.functions.SnappyRead.read($b);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })

  override protected def withNewChildInternal(
      newChild: Expression): SnappyReadExpr = copy(child = newChild)
}

/** `snappy_write(bytes)` — raw block via the classpath snappy-java
  * compressor (the independent implementation). See [[SnappyRead]]. */
case class SnappyWriteExpr(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType != BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult
        .TypeCheckFailure("snappy_write requires a BINARY input, got " +
          child.dataType.simpleString)
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult
        .TypeCheckSuccess

  override def dataType: DataType = BinaryType
  override def prettyName: String = "snappy_write"

  override def nullSafeEval(bytes: Any): Any =
    SnappyRead.write(bytes.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b => {
      s"""
         |${ev.value} = graft.functions.SnappyRead.write($b);
       """.stripMargin
    })

  override protected def withNewChildInternal(
      newChild: Expression): SnappyWriteExpr = copy(child = newChild)
}
