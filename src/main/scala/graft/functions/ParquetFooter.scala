package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `parquet_footer(bytes)` — the parquet FOOTER read from scratch,
  * including a from-scratch THRIFT COMPACT PROTOCOL decoder (the
  * wire format the footer's FileMetaData is serialized in: nibble
  * field-header deltas, zigzag varints, varint-length binaries,
  * size-nibble list headers with the 0xF escape). The walk: `PAR1`
  * leading magic, trailing magic, the 4-byte LE footer length, then
  * FileMetaData → schema elements (leaf = no children), num_rows,
  * row groups → column chunks → ColumnMetaData (codec enum, value
  * counts, compressed/uncompressed sizes).
  *
  * Why a 100 TB engine wants this: footer metadata is how you AUDIT
  * a lake without scanning it — row counts, codec uniformity,
  * row-group shape — and the datasource's own reader can't be its
  * own auditor. The gate (mm_parquet_footer) has Spark write
  * zstd-parquet partitions and this expression verify, per file,
  * that the DECLARED row counts and value counts equal what DuckDB
  * counts in the same files, the codec is the configured one on
  * every chunk, and the leaf schema is exactly the written
  * projection.
  *
  * Returns `STRUCT<num_rows BIGINT, n_row_groups BIGINT, n_leaves
  * BIGINT, leaves STRING (comma-joined leaf names in schema order),
  * codecs STRING (comma-joined sorted distinct codec names),
  * sum_values BIGINT (Σ chunk num_values), compressed_bytes BIGINT,
  * uncompressed_bytes BIGINT>`; NULL on any malformation (bad
  * magic, truncated footer, unknown compact type, overrun). */
object ParquetFooter {

  val outType: StructType = StructType(Seq(
    StructField("num_rows", LongType, nullable = false),
    StructField("n_row_groups", LongType, nullable = false),
    StructField("n_leaves", LongType, nullable = false),
    StructField("leaves", StringType, nullable = false),
    StructField("codecs", StringType, nullable = false),
    StructField("sum_values", LongType, nullable = false),
    StructField("compressed_bytes", LongType, nullable = false),
    StructField("uncompressed_bytes", LongType, nullable = false)))

  private val CODEC_NAMES = Array("UNCOMPRESSED", "SNAPPY", "GZIP",
    "LZO", "BROTLI", "LZ4", "ZSTD", "LZ4_RAW")

  private final class Corrupt extends RuntimeException(null, null,
    false, false)
  private def corrupt(): Nothing = throw new Corrupt

  // ── thrift compact protocol reader ──────────────────────────────
  private final val T_STOP = 0
  private final val T_TRUE = 1
  private final val T_FALSE = 2
  private final val T_BYTE = 3
  private final val T_I16 = 4
  private final val T_I32 = 5
  private final val T_I64 = 6
  private final val T_DOUBLE = 7
  private final val T_BINARY = 8
  private final val T_LIST = 9
  private final val T_SET = 10
  private final val T_MAP = 11
  private final val T_STRUCT = 12

  private final class Tc(val b: Array[Byte], var p: Int, val end: Int) {
    def u8(): Int = {
      if (p >= end) corrupt()
      val v = b(p) & 0xff
      p += 1
      v
    }
    def varint(): Long = {
      var v = 0L
      var shift = 0
      while (true) {
        if (p >= end || shift > 63) corrupt()
        val x = u8()
        v |= (x & 0x7fL) << shift
        shift += 7
        if ((x & 0x80) == 0) return v
      }
      v
    }
    def zigzag(): Long = {
      val v = varint()
      (v >>> 1) ^ -(v & 1L)
    }
    def binary(): Array[Byte] = {
      val n = varint()
      if (n < 0 || n > Int.MaxValue || p + n > end) corrupt()
      val a = java.util.Arrays.copyOfRange(b, p, p + n.toInt)
      p += n.toInt
      a
    }
    /** (size, elemType) of a list/set header. */
    def listHeader(): (Int, Int) = {
      val h = u8()
      val t = h & 0xf
      val s = (h >>> 4) & 0xf
      val size = if (s == 15) {
        val v = varint()
        if (v < 0 || v > Int.MaxValue) corrupt()
        v.toInt
      } else s
      (size, t)
    }
    def skip(tpe: Int): Unit = tpe match {
      case T_TRUE | T_FALSE => ()
      case T_BYTE => u8()
      case T_I16 | T_I32 | T_I64 => zigzag()
      case T_DOUBLE =>
        if (p + 8 > end) corrupt()
        p += 8
      case T_BINARY => binary()
      case T_LIST | T_SET =>
        val (n, et) = listHeader()
        var i = 0
        while (i < n) { skip(et); i += 1 }
      case T_MAP =>
        val n = varint()
        if (n < 0) corrupt()
        if (n > 0) {
          val kv = u8()
          val kt = (kv >>> 4) & 0xf
          val vt = kv & 0xf
          var i = 0L
          while (i < n) { skip(kt); skip(vt); i += 1 }
        }
      case T_STRUCT => skipStruct()
      case _ => corrupt()
    }
    def skipStruct(): Unit = {
      var lastId = 0
      var done = false
      while (!done) {
        val h = u8()
        if (h == T_STOP) done = true
        else {
          val delta = (h >>> 4) & 0xf
          val t = h & 0xf
          lastId = if (delta == 0) zigzag().toInt else lastId + delta
          // booleans carry their value in the type nibble
          skip(t)
        }
      }
    }
    /** Walk a struct's fields, dispatching on field id. The handler
      * must fully consume the field's value (or call skip). */
    def struct(f: (Int, Int) => Unit): Unit = {
      var lastId = 0
      var done = false
      while (!done) {
        val h = u8()
        if (h == T_STOP) done = true
        else {
          val delta = (h >>> 4) & 0xf
          val t = h & 0xf
          lastId = if (delta == 0) zigzag().toInt else lastId + delta
          f(lastId, t)
        }
      }
    }
  }

  def read(b: Array[Byte]): InternalRow = {
    try {
      val n = b.length
      if (n < 12) return null
      if (!(b(0) == 'P' && b(1) == 'A' && b(2) == 'R' && b(3) == '1'))
        return null
      if (!(b(n - 4) == 'P' && b(n - 3) == 'A' && b(n - 2) == 'R' &&
        b(n - 1) == '1')) return null
      val flen = (b(n - 8) & 0xff) | ((b(n - 7) & 0xff) << 8) |
        ((b(n - 6) & 0xff) << 16) | ((b(n - 5) & 0xff) << 24)
      if (flen <= 0 || flen > n - 12) return null
      val tc = new Tc(b, n - 8 - flen, n - 8)
      var numRows = 0L
      var nRowGroups = 0L
      val leaves = scala.collection.mutable.ArrayBuffer.empty[String]
      val codecs = scala.collection.mutable.SortedSet.empty[String]
      var sumValues = 0L
      var compBytes = 0L
      var uncompBytes = 0L
      tc.struct { (id, t) =>
        (id, t) match {
          case (2, T_LIST) => // schema: list<SchemaElement>
            val (cnt, et) = tc.listHeader()
            if (et != T_STRUCT) corrupt()
            var i = 0
            while (i < cnt) {
              var name: String = null
              var children = -1L
              tc.struct { (fid, ft) =>
                (fid, ft) match {
                  case (4, T_BINARY) =>
                    name = new String(tc.binary(), "UTF-8")
                  case (5, T_I32) => children = tc.zigzag()
                  case (_, ft2) => tc.skip(ft2)
                }
              }
              // leaf = no num_children (or 0); skip the root (i == 0)
              if (i > 0 && children <= 0 && name != null)
                leaves += name
              i += 1
            }
          case (3, T_I64) => numRows = tc.zigzag()
          case (4, T_LIST) => // row_groups
            val (cnt, et) = tc.listHeader()
            if (et != T_STRUCT) corrupt()
            nRowGroups = cnt.toLong
            var i = 0
            while (i < cnt) {
              tc.struct { (gid, gt) =>
                (gid, gt) match {
                  case (1, T_LIST) => // columns: list<ColumnChunk>
                    val (cc, cet) = tc.listHeader()
                    if (cet != T_STRUCT) corrupt()
                    var j = 0
                    while (j < cc) {
                      tc.struct { (cid, ct) =>
                        (cid, ct) match {
                          case (3, T_STRUCT) => // ColumnMetaData
                            tc.struct { (mid, mt) =>
                              (mid, mt) match {
                                case (4, T_I32) =>
                                  val c = tc.zigzag().toInt
                                  codecs += (if (c >= 0 &&
                                    c < CODEC_NAMES.length)
                                    CODEC_NAMES(c)
                                  else s"UNKNOWN_$c")
                                case (5, T_I64) =>
                                  sumValues += tc.zigzag()
                                case (6, T_I64) =>
                                  uncompBytes += tc.zigzag()
                                case (7, T_I64) =>
                                  compBytes += tc.zigzag()
                                case (_, mt2) => tc.skip(mt2)
                              }
                            }
                          case (_, ct2) => tc.skip(ct2)
                        }
                      }
                      j += 1
                    }
                  case (_, gt2) => tc.skip(gt2)
                }
              }
              i += 1
            }
          case (_, t2) => tc.skip(t2)
        }
      }
      InternalRow(numRows, nRowGroups, leaves.length.toLong,
        UTF8String.fromString(leaves.mkString(",")),
        UTF8String.fromString(codecs.mkString(",")),
        sumValues, compBytes, uncompBytes)
    } catch {
      case _: Corrupt => null
      case _: ArrayIndexOutOfBoundsException => null
    }
  }
}

/** `parquet_footer(bytes)` — from-scratch thrift-compact footer
  * decode; NULL on malformation. See [[ParquetFooter]]. */
case class ParquetFooterExpr(child: Expression)
    extends UnaryExpression {

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType != BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult
        .TypeCheckFailure("parquet_footer requires a BINARY input, " +
          "got " + child.dataType.simpleString)
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult
        .TypeCheckSuccess

  override def dataType: DataType = ParquetFooter.outType
  override def nullable: Boolean = true
  override def prettyName: String = "parquet_footer"

  override def nullSafeEval(bytes: Any): Any =
    ParquetFooter.read(bytes.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b => {
      s"""
         |${ev.value} = graft.functions.ParquetFooter.read($b);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })

  override protected def withNewChildInternal(
      newChild: Expression): ParquetFooterExpr = copy(child = newChild)
}
