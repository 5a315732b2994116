package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Avro Object Container Files — the classic row-format ingest
  * container (Kafka archives, event dumps, warehouse exports ship as
  * `.avro`), walked FROM SCRATCH:
  *
  *  - `avro_read(bytes)` — parses the OCF layout per the Avro 1.11+
  *    spec: `Obj\x01` magic, the file-metadata map in Avro binary
  *    map encoding (zigzag-varint counts, negative-count blocks with
  *    byte sizes), the 16-byte sync marker, then data blocks
  *    (row-count varint, byte-size varint, payload, sync marker
  *    REQUIRED to equal the header's after every block). The writer
  *    schema is read from `avro.schema` with a small from-scratch
  *    JSON parser and must be a record of primitives — long / int /
  *    string / bytes / double / float / boolean — or two-branch
  *    `["null", prim]` unions (the shapes row-dump files actually
  *    use; anything fancier returns NULL rather than guessing). Rows
  *    are decoded with the Avro binary primitives (zigzag varints,
  *    length-prefixed strings/bytes, LE doubles) and emitted in LONG
  *    form, `ARRAY<STRUCT<row BIGINT, field STRING, value STRING>>`
  *    (row-major, fields in schema order; bytes hex-encoded, null
  *    branches as 'null') so one static return type serves any
  *    writer schema. Block codecs: `null`, `deflate` (raw DEFLATE →
  *    the JDK Inflater), `snappy` (block + 4-byte big-endian CRC-32
  *    of the UNCOMPRESSED data, recomputed — payload decoded by OUR
  *    from-scratch [[SnappyRead]]), and `zstandard` (decoded by OUR
  *    from-scratch [[ZstdCodec]]) — the codec family composing into
  *    the container family. Any malformation returns NULL.
  *  - `avro_write(entries, codec)` — the INDEPENDENT writer: the
  *    real Avro library on Spark's classpath (DataFileWriter +
  *    GenericRecord, schema `{doc_id: long, text: string}`), so the
  *    gated round trip validates our walker against reference output
  *    inside the plan, per codec.
  *
  * Reference re-expressed: push-ai/mta-rtf-dbt ingests dlt-flattened
  * rows (BigQuery SQL models); this supplies the upstream ingest
  * container those rows arrive in. */
object AvroOcf {

  // ── minimal JSON (schema) parser ────────────────────────────────
  private sealed trait J
  private final case class JStr(s: String) extends J
  private final case class JNum(s: String) extends J
  private final case class JBool(b: Boolean) extends J
  private case object JNull extends J
  private final case class JArr(xs: List[J]) extends J
  private final case class JObj(xs: List[(String, J)]) extends J

  private final class JParse(s: String) {
    private var p = 0
    private def ws(): Unit =
      while (p < s.length && Character.isWhitespace(s.charAt(p))) p += 1
    private def fail(): Nothing = throw new IllegalArgumentException
    private def expect(c: Char): Unit = {
      ws()
      if (p >= s.length || s.charAt(p) != c) fail()
      p += 1
    }
    def value(): J = {
      ws()
      if (p >= s.length) fail()
      s.charAt(p) match {
        case '"' => JStr(string())
        case '{' =>
          p += 1
          ws()
          if (p < s.length && s.charAt(p) == '}') { p += 1; JObj(Nil) }
          else {
            val buf = List.newBuilder[(String, J)]
            var more = true
            while (more) {
              ws()
              val k = string()
              expect(':')
              buf += ((k, value()))
              ws()
              if (p < s.length && s.charAt(p) == ',') p += 1
              else more = false
            }
            expect('}')
            JObj(buf.result())
          }
        case '[' =>
          p += 1
          ws()
          if (p < s.length && s.charAt(p) == ']') { p += 1; JArr(Nil) }
          else {
            val buf = List.newBuilder[J]
            var more = true
            while (more) {
              buf += value()
              ws()
              if (p < s.length && s.charAt(p) == ',') p += 1
              else more = false
            }
            expect(']')
            JArr(buf.result())
          }
        case 't' =>
          if (!s.startsWith("true", p)) fail()
          p += 4; JBool(true)
        case 'f' =>
          if (!s.startsWith("false", p)) fail()
          p += 5; JBool(false)
        case 'n' =>
          if (!s.startsWith("null", p)) fail()
          p += 4; JNull
        case _ =>
          val st = p
          while (p < s.length && "-+.eE0123456789".indexOf(
            s.charAt(p)) >= 0) p += 1
          if (p == st) fail()
          JNum(s.substring(st, p))
      }
    }
    private def string(): String = {
      ws()
      if (p >= s.length || s.charAt(p) != '"') fail()
      p += 1
      val sb = new StringBuilder
      while (p < s.length && s.charAt(p) != '"') {
        val c = s.charAt(p)
        if (c == '\\') {
          p += 1
          if (p >= s.length) fail()
          s.charAt(p) match {
            case '"' => sb.append('"')
            case '\\' => sb.append('\\')
            case '/' => sb.append('/')
            case 'b' => sb.append('\b')
            case 'f' => sb.append('\f')
            case 'n' => sb.append('\n')
            case 'r' => sb.append('\r')
            case 't' => sb.append('\t')
            case 'u' =>
              if (p + 4 >= s.length) fail()
              sb.append(Integer.parseInt(
                s.substring(p + 1, p + 5), 16).toChar)
              p += 4
            case _ => fail()
          }
        } else sb.append(c)
        p += 1
      }
      if (p >= s.length) fail()
      p += 1
      sb.toString
    }
  }

  // supported field shapes
  private final val T_LONG = 0
  private final val T_INT = 1
  private final val T_STRING = 2
  private final val T_BYTES = 3
  private final val T_DOUBLE = 4
  private final val T_FLOAT = 5
  private final val T_BOOL = 6

  private final case class Field(name: String, tpe: Int,
                                 nullable: Boolean,
                                 nullFirst: Boolean)

  private def primOf(s: String): Int = s match {
    case "long" => T_LONG
    case "int" => T_INT
    case "string" => T_STRING
    case "bytes" => T_BYTES
    case "double" => T_DOUBLE
    case "float" => T_FLOAT
    case "boolean" => T_BOOL
    case _ => -1
  }

  /** Parse the writer schema; null when out of contract. */
  private def parseSchema(json: String): Array[Field] =
    try {
      val root = new JParse(json).value() match {
        case o: JObj => o
        case _ => return null
      }
      def get(o: JObj, k: String): Option[J] =
        o.xs.find(_._1 == k).map(_._2)
      if (!get(root, "type").contains(JStr("record"))) return null
      val fields = get(root, "fields") match {
        case Some(JArr(xs)) => xs
        case _ => return null
      }
      fields.map {
        case fo: JObj =>
          val name = get(fo, "name") match {
            case Some(JStr(n)) => n
            case _ => return null
          }
          get(fo, "type") match {
            case Some(JStr(t)) =>
              val pt = primOf(t)
              if (pt < 0) return null
              Field(name, pt, nullable = false, nullFirst = false)
            case Some(JArr(List(JStr(a), JStr(b)))) =>
              if (a == "null") {
                val pt = primOf(b)
                if (pt < 0) return null
                Field(name, pt, nullable = true, nullFirst = true)
              } else if (b == "null") {
                val pt = primOf(a)
                if (pt < 0) return null
                Field(name, pt, nullable = true, nullFirst = false)
              } else return null
            case _ => return null
          }
        case _ => return null
      }.toArray
    } catch {
      case _: Exception => null
    }

  // ── Avro binary primitives ──────────────────────────────────────
  private final class Corrupt extends RuntimeException(null, null,
    false, false)
  private def corrupt(): Nothing = throw new Corrupt

  private final class Rd(val b: Array[Byte], var p: Int, val end: Int) {
    def varint(): Long = {
      var v = 0L
      var shift = 0
      var more = true
      while (more) {
        if (p >= end || shift > 63) corrupt()
        val x = b(p) & 0xff
        p += 1
        v |= (x & 0x7fL) << shift
        shift += 7
        more = (x & 0x80) != 0
      }
      v
    }
    def zigzag(): Long = {
      val v = varint()
      (v >>> 1) ^ -(v & 1L)
    }
    def bytes(n: Int): Array[Byte] = {
      if (n < 0 || p + n > end) corrupt()
      val a = java.util.Arrays.copyOfRange(b, p, p + n)
      p += n
      a
    }
  }

  private val HEX = "0123456789abcdef".toCharArray

  private def renderValue(rd: Rd, tpe: Int): String = tpe match {
    case T_LONG | T_INT => rd.zigzag().toString
    case T_STRING =>
      val n = rd.zigzag()
      if (n < 0 || n > Int.MaxValue) corrupt()
      new String(rd.bytes(n.toInt), "UTF-8")
    case T_BYTES =>
      val n = rd.zigzag()
      if (n < 0 || n > Int.MaxValue) corrupt()
      val a = rd.bytes(n.toInt)
      val sb = new StringBuilder(a.length * 2)
      a.foreach { x =>
        sb.append(HEX((x >> 4) & 0xf)).append(HEX(x & 0xf))
      }
      sb.toString
    case T_DOUBLE =>
      var v = 0L
      val a = rd.bytes(8)
      var i = 0
      while (i < 8) { v |= (a(i) & 0xffL) << (8 * i); i += 1 }
      java.lang.Double.longBitsToDouble(v).toString
    case T_FLOAT =>
      var v = 0
      val a = rd.bytes(4)
      var i = 0
      while (i < 4) { v |= (a(i) & 0xff) << (8 * i); i += 1 }
      java.lang.Float.intBitsToFloat(v).toString
    case T_BOOL =>
      val a = rd.bytes(1)
      if (a(0) == 1) "true"
      else if (a(0) == 0) "false"
      else corrupt()
  }

  /** Inflate a raw-deflate payload (bomb-capped). */
  private def inflateRaw(b: Array[Byte]): Array[Byte] = {
    val inf = new java.util.zip.Inflater(true)
    try {
      inf.setInput(b)
      val out = new java.io.ByteArrayOutputStream(b.length * 3 + 64)
      val buf = new Array[Byte](8192)
      while (!inf.finished()) {
        val k = inf.inflate(buf)
        if (k > 0) out.write(buf, 0, k)
        else if (!inf.finished()) corrupt()
        if (out.size() > (1 << 28)) corrupt()
      }
      out.toByteArray
    } catch {
      case _: java.util.zip.DataFormatException => corrupt()
    } finally inf.end()
  }

  /** Walk the whole container; null on any malformation. */
  def read(b: Array[Byte]): ArrayData = {
    try {
      if (b.length < 4 + 16 || b(0) != 'O' || b(1) != 'b' ||
        b(2) != 'j' || b(3) != 1) return null
      val rd = new Rd(b, 4, b.length)
      // file metadata map: blocks of count (+ optional byte size if
      // negative), terminated by 0
      var schemaJson: String = null
      var codec = "null"
      var mCount = rd.zigzag()
      while (mCount != 0L) {
        val n = if (mCount < 0) { rd.zigzag(); -mCount } else mCount
        var i = 0L
        while (i < n) {
          val kLen = rd.zigzag()
          if (kLen < 0) corrupt()
          val key = new String(rd.bytes(kLen.toInt), "UTF-8")
          val vLen = rd.zigzag()
          if (vLen < 0) corrupt()
          val v = rd.bytes(vLen.toInt)
          if (key == "avro.schema")
            schemaJson = new String(v, "UTF-8")
          else if (key == "avro.codec")
            codec = new String(v, "UTF-8")
          i += 1
        }
        mCount = rd.zigzag()
      }
      if (schemaJson == null) return null
      val fields = parseSchema(schemaJson)
      if (fields == null) return null
      val sync = rd.bytes(16)
      val out = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
      var rowIdx = 0L
      while (rd.p < rd.end) {
        val rows = rd.zigzag()
        val size = rd.zigzag()
        if (rows < 0 || size < 0 || size > Int.MaxValue) corrupt()
        val raw = rd.bytes(size.toInt)
        val payload = codec match {
          case "null" => raw
          case "deflate" => inflateRaw(raw)
          case "snappy" =>
            // block + 4-byte BIG-ENDIAN CRC-32 of the uncompressed
            if (raw.length < 4) corrupt()
            val data = SnappyRead.read(
              java.util.Arrays.copyOf(raw, raw.length - 4))
            if (data == null) corrupt()
            val c = new java.util.zip.CRC32
            c.update(data, 0, data.length)
            val stored =
              ((raw(raw.length - 4) & 0xffL) << 24) |
                ((raw(raw.length - 3) & 0xffL) << 16) |
                ((raw(raw.length - 2) & 0xffL) << 8) |
                (raw(raw.length - 1) & 0xffL)
            if (c.getValue != stored) corrupt()
            data
          case "zstandard" =>
            val data = ZstdCodec.read(raw)
            if (data == null) corrupt()
            data
          case _ => return null // unsupported codec
        }
        val pr = new Rd(payload, 0, payload.length)
        var r = 0L
        while (r < rows) {
          var f = 0
          while (f < fields.length) {
            val fd = fields(f)
            val v: String =
              if (fd.nullable) {
                val branch = pr.zigzag()
                val isNull =
                  if (fd.nullFirst) branch == 0L else branch == 1L
                val isVal =
                  if (fd.nullFirst) branch == 1L else branch == 0L
                if (isNull) "null"
                else if (isVal) renderValue(pr, fd.tpe)
                else corrupt()
              } else renderValue(pr, fd.tpe)
            out += InternalRow(rowIdx, UTF8String.fromString(fd.name),
              UTF8String.fromString(v))
            f += 1
          }
          r += 1
          rowIdx += 1
        }
        if (pr.p != pr.end) corrupt() // exact block consumption
        val blockSync = rd.bytes(16)
        if (!java.util.Arrays.equals(blockSync, sync)) corrupt()
      }
      new GenericArrayData(out.toArray)
    } catch {
      case _: Corrupt => null
      case _: ArrayIndexOutOfBoundsException => null
      case _: NegativeArraySizeException => null
    }
  }

  private lazy val docSchema = new org.apache.avro.Schema.Parser().parse(
    """{"type":"record","name":"doc","fields":[
      |{"name":"doc_id","type":"long"},
      |{"name":"text","type":"string"}]}""".stripMargin)

  /** The independent writer: the real Avro library, one container
    * per call with the given codec ('null' | 'deflate' | 'snappy' |
    * 'zstandard'). */
  def write(entries: ArrayData, codec: String): Array[Byte] = {
    val factory = codec match {
      case "null" => org.apache.avro.file.CodecFactory.nullCodec()
      case "deflate" =>
        org.apache.avro.file.CodecFactory.deflateCodec(6)
      case "snappy" => org.apache.avro.file.CodecFactory.snappyCodec()
      case "zstandard" =>
        org.apache.avro.file.CodecFactory.zstandardCodec(3)
      case _ => return null
    }
    val bos = new java.io.ByteArrayOutputStream(1024)
    val w = new org.apache.avro.file.DataFileWriter(
      new org.apache.avro.generic.GenericDatumWriter[
        org.apache.avro.generic.GenericRecord](docSchema))
    w.setCodec(factory)
    // deterministic sync marker: the gate hash must be stable, and
    // the default marker is random per writer
    val sync = new Array[Byte](16)
    var i = 0
    while (i < 16) { sync(i) = (i * 17 + 3).toByte; i += 1 }
    w.create(docSchema, bos, sync)
    val n = entries.numElements()
    i = 0
    while (i < n) {
      if (entries.isNullAt(i)) { w.close(); return null }
      val row = entries.getStruct(i, 2)
      if (row.isNullAt(0) || row.isNullAt(1)) { w.close(); return null }
      val rec = new org.apache.avro.generic.GenericData.Record(docSchema)
      rec.put("doc_id", java.lang.Long.valueOf(row.getLong(0)))
      rec.put("text", row.getUTF8String(1).toString)
      w.append(rec)
      i += 1
    }
    w.close()
    bos.toByteArray
  }
}

/** `avro_read(bytes)` — from-scratch OCF walk + Avro binary row
  * decode in long form; NULL on malformation. See [[AvroOcf]]. */
case class AvroRead(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType != BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult
        .TypeCheckFailure("avro_read requires a BINARY input, got " +
          child.dataType.simpleString)
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult
        .TypeCheckSuccess

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("row", LongType, nullable = false),
    StructField("field", StringType, nullable = false),
    StructField("value", StringType, nullable = false))),
    containsNull = false)

  override def nullable: Boolean = true
  override def prettyName: String = "avro_read"

  override def nullSafeEval(bytes: Any): Any =
    AvroOcf.read(bytes.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b => {
      s"""
         |${ev.value} = graft.functions.AvroOcf.read($b);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })

  override protected def withNewChildInternal(
      newChild: Expression): AvroRead = copy(child = newChild)
}

/** `avro_write(entries, codec)` — OCF via the real Avro library (the
  * independent writer). See [[AvroOcf]]. */
case class AvroWriteExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = (left.dataType match {
      case ArrayType(StructType(fs), _) if fs.length == 2 =>
        fs(0).dataType == LongType && fs(1).dataType == StringType
      case _ => false
    }) && right.dataType == StringType
    if (!ok)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult
        .TypeCheckFailure("avro_write requires (ARRAY<STRUCT<doc_id " +
          "BIGINT, text STRING>>, STRING codec), got (" +
          s"${left.dataType.simpleString}, " +
          right.dataType.simpleString + ")")
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult
        .TypeCheckSuccess
  }

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def prettyName: String = "avro_write"

  override def nullSafeEval(entries: Any, codec: Any): Any =
    AvroOcf.write(entries.asInstanceOf[ArrayData],
      codec.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (e, c) => {
      s"""
         |${ev.value} =
         |  graft.functions.AvroOcf.write($e, $c.toString());
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): AvroWriteExpr =
    copy(left = newLeft, right = newRight)
}
