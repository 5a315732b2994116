package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `zip_list(bytes)` — a REAL ZIP (PKWARE APPNOTE) archive walker as a
  * native expression: the fourth corpus container beside gzip, WARC
  * and ustar (dataset shards ship as `.zip` too, and ZIP is the one
  * container whose correct read order is BACKWARDS). The walk is what
  * any conformant reader does: find the End-Of-Central-Directory
  * record by scanning back from EOF (its comment field makes the tail
  * variable-length), jump to the central directory it addresses, read
  * one CDFH per member, then follow each member's local-file-header
  * offset to the payload. Per member the CRC-32 is RECOMPUTED over
  * the UNCOMPRESSED bytes (java.util.zip.CRC32 — zero codec deps) and
  * compared to the stored value; method 0 (stored) is read directly
  * and method 8 (deflate) is genuinely inflated
  * (java.util.zip.Inflater in raw mode), so real `ZipOutputStream`
  * output parses, not just the synthesized stored form.
  *
  * Returns `ARRAY<STRUCT<name STRING, method BIGINT, size BIGINT,
  * crc_ok BOOLEAN, payload_sum BIGINT>>` in central-directory order
  * (`size` = uncompressed size field; `payload_sum` = exact byte sum
  * of the uncompressed payload — truncation-visible). A structurally
  * broken member (bad LFH signature, payload overrun, inflate error,
  * size/CRC mismatch, unsupported method) is flagged `crc_ok = false`
  * with `payload_sum = 0` and the walk CONTINUES to the next CD entry
  * (central-directory entries are independent — unlike tar, one bad
  * member doesn't hide the rest). A blob with no EOCD returns an
  * empty array. NULL input stays NULL.
  *
  * Member names are decoded as UTF-8 UNCONDITIONALLY — the
  * general-purpose bit 11 (EFS) flag is not consulted, so a legacy
  * CP437-named archive yields mojibake names (payload walk, sizes
  * and CRC checks are unaffected; every modern writer, including
  * `ZipOutputStream`, emits UTF-8). Branch on the CDFH flags at
  * cd+8 if pre-Unicode archives ever matter. */
case class ZipList(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType != BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"zip_list requires a BINARY input, got " +
          child.dataType.simpleString)
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("name", StringType, nullable = false),
    StructField("method", LongType, nullable = false),
    StructField("size", LongType, nullable = false),
    StructField("crc_ok", BooleanType, nullable = false),
    StructField("payload_sum", LongType, nullable = false))),
    containsNull = false)

  override def prettyName: String = "zip_list"

  override def nullSafeEval(bytes: Any): Any =
    ZipList.list(bytes.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b => {
      s"""
         |${ev.value} = graft.functions.ZipList.list($b);
       """.stripMargin
    })

  override protected def withNewChildInternal(
      newChild: Expression): ZipList = copy(child = newChild)
}

object ZipList {

  private def le16(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)

  private def le32(b: Array[Byte], off: Int): Long =
    (b(off) & 0xffL) | ((b(off + 1) & 0xffL) << 8) |
      ((b(off + 2) & 0xffL) << 16) | ((b(off + 3) & 0xffL) << 24)

  /** Inflate a raw-deflate stream to exactly `cap` bytes; null on any
    * error, on truncation, or if the stream decodes to more than
    * `cap`. The 1-byte probe after the buffer fills serves two cases
    * the naive fill loop gets wrong: a VALID stream whose terminating
    * block needs one more inflate() call after the last data byte
    * (would read as !finished → false negative), and the cap == 0
    * empty member (a real ZipOutputStream shape — the loop must still
    * drive the inflater to finished). */
  private def inflateRaw(b: Array[Byte], off: Int, len: Int,
                         cap: Int): Array[Byte] = {
    val inf = new java.util.zip.Inflater(true)
    try {
      inf.setInput(b, off, len)
      val out = new Array[Byte](cap)
      val probe = new Array[Byte](1)
      var n = 0
      while (!inf.finished()) {
        val k =
          if (n < cap) inf.inflate(out, n, cap - n)
          else inf.inflate(probe, 0, 1)
        if (k > 0 && n >= cap) return null // decodes past usize
        n += k
        if (k == 0 && !inf.finished()) return null // truncated/dict
      }
      if (n != cap) null else out
    } catch {
      case _: java.util.zip.DataFormatException => null
    } finally inf.end()
  }

  def list(b: Array[Byte]): ArrayData = {
    val out = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
    def row(name: String, method: Long, size: Long, ok: Boolean,
            psum: Long): InternalRow =
      InternalRow(UTF8String.fromString(name), method, size, ok, psum)
    // EOCD: scan back from EOF (max comment 65535 + 22-byte record)
    var eocd = -1
    var p = b.length - 22
    val lo = math.max(0, b.length - 22 - 65535)
    while (eocd < 0 && p >= lo) {
      if (b(p) == 0x50 && b(p + 1) == 0x4b && b(p + 2) == 0x05 &&
        b(p + 3) == 0x06) eocd = p
      p -= 1
    }
    if (eocd < 0) return new GenericArrayData(Array.empty[InternalRow])
    val nEntries = le16(b, eocd + 10)
    // all 32-bit fields stay LONG until bound-checked against the
    // blob length — a crafted cd/lfh/csize near 2^31 must flag (or
    // stop) cleanly, never go negative through toInt and throw
    var cdL = le32(b, eocd + 16)
    var e = 0
    while (e < nEntries && cdL + 46 <= b.length) {
      val cd = cdL.toInt // safe: cdL + 46 <= b.length < 2^31
      // CDFH signature PK\x01\x02
      if (!(b(cd) == 0x50 && b(cd + 1) == 0x4b && b(cd + 2) == 0x01 &&
        b(cd + 3) == 0x02)) return new GenericArrayData(out.toArray)
      val method = le16(b, cd + 10).toLong
      val crc = le32(b, cd + 16)
      val csizeL = le32(b, cd + 20)
      val usizeL = le32(b, cd + 24)
      val nlen = le16(b, cd + 28)
      val xlen = le16(b, cd + 30)
      val clen = le16(b, cd + 32)
      val lfhL = le32(b, cd + 42)
      val name =
        if (cd + 46 + nlen <= b.length)
          new String(b, cd + 46, nlen, "UTF-8")
        else ""
      // decompression-bomb guard: deflate expands at most ~1032x, so
      // a usize past that bound is structurally a lie — flag it
      // rather than allocate attacker-chosen memory
      val usizeSane = usizeL <= 1032L * csizeL + 64L &&
        usizeL <= Int.MaxValue.toLong
      // follow the LFH to the payload (LFH name/extra lengths are
      // authoritative for the payload offset — they can differ from
      // the CD's, e.g. extra-field-only-in-LFH writers)
      var ok = false
      var psum = 0L
      if (lfhL + 30 <= b.length && usizeSane && {
        val lfh = lfhL.toInt
        b(lfh) == 0x50 && b(lfh + 1) == 0x4b &&
          b(lfh + 2) == 0x03 && b(lfh + 3) == 0x04
      }) {
        val lfh = lfhL.toInt
        val lnlen = le16(b, lfh + 26)
        val lxlen = le16(b, lfh + 28)
        val dataOff = lfh + 30 + lnlen + lxlen
        if (dataOff.toLong + csizeL <= b.length) {
          val csize = csizeL.toInt
          val usize = usizeL.toInt
          val raw: Array[Byte] =
            if (method == 0L) {
              if (csize == usize) {
                val a = new Array[Byte](usize)
                System.arraycopy(b, dataOff, a, 0, usize)
                a
              } else null
            } else if (method == 8L)
              inflateRaw(b, dataOff, csize, usize)
            else null
          if (raw != null) {
            val c = new java.util.zip.CRC32
            c.update(raw, 0, raw.length)
            if (c.getValue == crc) {
              ok = true
              var j = 0
              while (j < raw.length) { psum += (raw(j) & 0xffL); j += 1 }
            }
          }
        }
      }
      out += row(name, method, usizeL, ok, if (ok) psum else 0L)
      cdL += 46L + nlen + xlen + clen
      e += 1
    }
    new GenericArrayData(out.toArray)
  }
}
