package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType}

/** `gunzip(bytes)` — a REAL gzip (RFC 1952) member decoder as a
  * native expression: the ingest-side sibling of [[PngDecode]]'s
  * container work, because at 100 TB the corpus usually ARRIVES
  * gzip-compressed (Common-Crawl-shaped ingest) and decompression is
  * the first per-row operator in the pipeline. Nothing synthetic: the
  * header is parsed per the spec — magic `1f 8b`, CM=8 (deflate),
  * and ALL the optional fields the flag byte can declare (FEXTRA's
  * length-prefixed block, zero-terminated FNAME and FCOMMENT, the
  * FHCRC half-CRC — each skipped/validated, the paths real gzip
  * writers actually produce) — the payload goes through
  * `java.util.zip.Inflater(nowrap)` (full DEFLATE), and the trailer's
  * CRC-32 and ISIZE (mod 2³²) are RECOMPUTED over the decompressed
  * bytes and compared.
  *
  * Returns the decompressed bytes, or NULL for malformed input (bad
  * magic, unknown compression method, reserved flag bits, truncation,
  * inflate failure, CRC or ISIZE mismatch) — the `try_`-style
  * corrupt-blob semantic an ingest gate filters on rather than
  * crashing the job. Single-member form: trailing garbage after the
  * member (including a second member) is rejected, which is the
  * honest contract for a per-row blob column (concatenated-member
  * streams are a file-level concern). */
case class Gunzip(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType != BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"gunzip requires a BINARY input, got ${child.dataType.simpleString}")
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def prettyName: String = "gunzip"

  override def nullSafeEval(bytes: Any): Any =
    Gunzip.decode(bytes.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b => {
      // decode() returns null on malformed input → propagate as NULL
      s"""
         |${ev.value} = graft.functions.Gunzip.decode($b);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin
    })

  override protected def withNewChildInternal(
      newChild: Expression): Gunzip = copy(child = newChild)
}

object Gunzip {

  /** Decode one gzip member; null on any malformation. */
  def decode(b: Array[Byte]): Array[Byte] = {
    if (b.length < 18) return null // header(10) + empty deflate + trailer(8)
    if (b(0) != 0x1f.toByte || b(1) != 0x8b.toByte) return null
    if (b(2) != 8) return null // CM must be deflate
    val flg = b(3) & 0xff
    if ((flg & 0xe0) != 0) return null // reserved bits must be zero
    var pos = 10 // MTIME(4) XFL OS skipped — informational
    if ((flg & 0x04) != 0) { // FEXTRA: little-endian length prefix
      if (pos + 2 > b.length) return null
      val xlen = (b(pos) & 0xff) | ((b(pos + 1) & 0xff) << 8)
      pos += 2 + xlen
      if (pos > b.length) return null
    }
    if ((flg & 0x08) != 0) { // FNAME: zero-terminated
      while (pos < b.length && b(pos) != 0) pos += 1
      if (pos >= b.length) return null
      pos += 1
    }
    if ((flg & 0x10) != 0) { // FCOMMENT: zero-terminated
      while (pos < b.length && b(pos) != 0) pos += 1
      if (pos >= b.length) return null
      pos += 1
    }
    if ((flg & 0x02) != 0) { // FHCRC: CRC-16 of the header so far
      if (pos + 2 > b.length) return null
      val crc = new java.util.zip.CRC32()
      crc.update(b, 0, pos)
      val want = (b(pos) & 0xff) | ((b(pos + 1) & 0xff) << 8)
      if ((crc.getValue & 0xffffL).toInt != want) return null
      pos += 2
    }
    if (b.length - pos < 8) return null // room for the trailer
    val inf = new java.util.zip.Inflater(true) // nowrap: raw deflate
    try {
      inf.setInput(b, pos, b.length - pos - 8)
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](4096)
      while (!inf.finished()) {
        val n = inf.inflate(buf)
        if (n == 0 && !inf.finished()) return null // truncated/needs-input
        out.write(buf, 0, n)
        if (out.size() > (b.length.toLong << 12) + (1 << 20))
          return null // decompression-bomb guard: >4096x + 1MB
      }
      // the member must consume exactly the pre-trailer payload:
      // trailing garbage or a second member is a malformed blob here
      if (inf.getRemaining != 0) return null
      val raw = out.toByteArray
      val tOff = b.length - 8
      def le4(off: Int): Long =
        (b(off) & 0xffL) | ((b(off + 1) & 0xffL) << 8) |
          ((b(off + 2) & 0xffL) << 16) | ((b(off + 3) & 0xffL) << 24)
      val crc = new java.util.zip.CRC32()
      crc.update(raw)
      if (crc.getValue != le4(tOff)) return null
      if ((raw.length.toLong & 0xffffffffL) != le4(tOff + 4)) return null
      raw
    } catch {
      case _: java.util.zip.DataFormatException => null
    } finally inf.end()
  }
}
