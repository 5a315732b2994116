package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** The WRITE side of the archive containers — `zip_write` and
  * `tar_write`, completing the read/write symmetry the codec family
  * already has for gzip (gzip_write/gunzip) and bzip2
  * (bzip2_write/bzip2_read): a corpus release at 100 TB ships as
  * archives, not only as loose compressed members, and the two
  * archive formats the read side already walks (`zip_list`'s
  * backwards EOCD walk, `tar_list`'s ustar walk) now have
  * from-scratch writers the gates can round-trip through.
  *
  *  - `zip_write(ARRAY<STRUCT<name STRING, payload BINARY>>)` — a
  *    complete PKWARE APPNOTE archive: one DEFLATED (method 8) local
  *    file header + payload per entry with the real LZ77+fixed-
  *    Huffman encoder ([[Deflate.deflateFixed]]) as the compressor
  *    and `java.util.zip.CRC32` over the UNCOMPRESSED bytes, then
  *    the central directory and the end-of-central-directory record.
  *    The EFS flag (general-purpose bit 11) is set: names are UTF-8
  *    by declaration, matching `zip_list`'s unconditional-UTF-8 read
  *    and `java.util.zip.ZipFile`'s flag-honoring one. Round-trip
  *    adversaries are java.util.zip (ZipWriteSpec reads our archive
  *    with the JDK's own ZipInputStream/ZipFile, so LFH/CDFH/EOCD
  *    layout AND the deflated bodies are validated by an independent
  *    implementation) and our own conformant `zip_list` inside the
  *    gated plan (which re-inflates with the JDK Inflater and
  *    RECOMPUTES every CRC-32 — a single wrong Huffman bit fails the
  *    member).
  *  - `tar_write(ARRAY<STRUCT<name STRING, payload BINARY>>)` — a
  *    POSIX ustar stream: 512-byte headers (NUL-padded name, octal
  *    mode/uid/gid/size/mtime, the checksum computed over the header
  *    with the checksum field AS SPACES, typeflag '0', magic
  *    "ustar\0" version "00"), payload padded to 512, two zero
  *    blocks at EOF. Adversary in TarWriteSpec is the unshaded
  *    commons-compress `TarArchiveInputStream` on Spark's classpath,
  *    both directions; in-plan the round trip runs through our
  *    `tar_list` (which recomputes the header checksum).
  *
  * Deterministic by construction (mtime 0, mode 0644, no extra
  * fields), so the archive bytes — and therefore the gate hashes —
  * are stable across runs and engines. Names longer than 100 bytes
  * (tar) or entries past 65535 (zip EOCD's 16-bit count) return
  * NULL — the caller shards long before either bound at release
  * scale. Reference re-expressed: push-ai/mta-rtf-dbt has no binary
  * container surface (BigQuery SQL models only); this extends the
  * corpus-release lifecycle with the archive shapes releases ship
  * as.
  */
object ArchiveWrite {

  private[functions] def checkEntries(dt: DataType, fname: String)
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = dt match {
      case ArrayType(StructType(fields), _) if fields.length == 2 =>
        fields(0).dataType == StringType &&
          fields(1).dataType == BinaryType
      case _ => false
    }
    if (!ok)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult
        .TypeCheckFailure(s"$fname requires " +
          s"ARRAY<STRUCT<name STRING, payload BINARY>>, got " +
          dt.simpleString)
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult
        .TypeCheckSuccess
  }

  private def wr16(out: java.io.ByteArrayOutputStream, v: Int): Unit = {
    out.write(v & 0xff); out.write((v >>> 8) & 0xff)
  }

  private def wr32(out: java.io.ByteArrayOutputStream, v: Long): Unit = {
    out.write((v & 0xff).toInt); out.write(((v >>> 8) & 0xff).toInt)
    out.write(((v >>> 16) & 0xff).toInt)
    out.write(((v >>> 24) & 0xff).toInt)
  }

  /** Build the full ZIP archive; null if any name/payload is null,
    * entries exceed the EOCD 16-bit count, or a size exceeds the
    * 32-bit (non-zip64) field. */
  def zip(entries: ArrayData): Array[Byte] = {
    val n = entries.numElements()
    if (n > 0xffff) return null
    val out = new java.io.ByteArrayOutputStream(1024)
    val names = new Array[Array[Byte]](n)
    val crcs = new Array[Long](n)
    val csizes = new Array[Int](n)
    val usizes = new Array[Int](n)
    val offsets = new Array[Long](n)
    var i = 0
    while (i < n) {
      if (entries.isNullAt(i)) return null
      val row = entries.getStruct(i, 2)
      if (row.isNullAt(0) || row.isNullAt(1)) return null
      val name = row.getUTF8String(0).getBytes
      val payload = row.getBinary(1)
      if (name.length > 0xffff) return null
      val c = new java.util.zip.CRC32
      c.update(payload, 0, payload.length)
      val deflated = Deflate.deflateFixed(payload)
      names(i) = name
      crcs(i) = c.getValue
      csizes(i) = deflated.length
      usizes(i) = payload.length
      offsets(i) = out.size().toLong
      // LFH: sig, ver-needed 2.0 (deflate), flags EFS (bit 11),
      // method 8, time/date 0, crc, csize, usize, nlen, xlen 0
      wr32(out, 0x04034b50L); wr16(out, 20); wr16(out, 0x0800)
      wr16(out, 8); wr16(out, 0); wr16(out, 0)
      wr32(out, crcs(i)); wr32(out, deflated.length.toLong)
      wr32(out, payload.length.toLong); wr16(out, name.length)
      wr16(out, 0)
      out.write(name, 0, name.length)
      out.write(deflated, 0, deflated.length)
      i += 1
    }
    val cdOff = out.size().toLong
    i = 0
    while (i < n) {
      // CDFH: sig, made-by 2.0, ver-needed 2.0, flags EFS, method 8,
      // time/date 0, crc, csize, usize, nlen, xlen 0, clen 0,
      // disk 0, int-attr 0, ext-attr 0, LFH offset
      wr32(out, 0x02014b50L); wr16(out, 20); wr16(out, 20)
      wr16(out, 0x0800); wr16(out, 8); wr16(out, 0); wr16(out, 0)
      wr32(out, crcs(i)); wr32(out, csizes(i).toLong)
      wr32(out, usizes(i).toLong); wr16(out, names(i).length)
      wr16(out, 0); wr16(out, 0); wr16(out, 0); wr16(out, 0)
      wr32(out, 0L); wr32(out, offsets(i))
      out.write(names(i), 0, names(i).length)
      i += 1
    }
    val cdSize = out.size().toLong - cdOff
    if (out.size().toLong + 22 > 0xffffffffL) return null
    // EOCD: sig, disk 0, cd-disk 0, entries (disk/total), cd size,
    // cd offset, comment len 0
    wr32(out, 0x06054b50L); wr16(out, 0); wr16(out, 0)
    wr16(out, n); wr16(out, n); wr32(out, cdSize); wr32(out, cdOff)
    wr16(out, 0)
    out.toByteArray
  }

  /** Build the ustar stream; null on null/oversized names. The
    * checksum is written as 6 octal digits + NUL + SPACE — the
    * historical ustar form every reader (incl. commons-compress)
    * expects. */
  def tar(entries: ArrayData): Array[Byte] = {
    val n = entries.numElements()
    val out = new java.io.ByteArrayOutputStream(1024)
    var i = 0
    while (i < n) {
      if (entries.isNullAt(i)) return null
      val row = entries.getStruct(i, 2)
      if (row.isNullAt(0) || row.isNullAt(1)) return null
      val name = row.getUTF8String(0).getBytes
      val payload = row.getBinary(1)
      if (name.length > 100) return null
      val hdr = new Array[Byte](512)
      System.arraycopy(name, 0, hdr, 0, name.length)
      def octal(v: Long, off: Int, width: Int): Unit = {
        // width-1 octal digits, NUL-terminated (ustar numeric form)
        val s = java.lang.Long.toOctalString(v)
        val pad = width - 1 - s.length
        var j = 0
        while (j < pad) { hdr(off + j) = '0'; j += 1 }
        var k = 0
        while (k < s.length) { hdr(off + pad + k) = s.charAt(k).toByte
          k += 1 }
        hdr(off + width - 1) = 0
      }
      octal(0x1a4L, 100, 8)          // mode 0644
      octal(0L, 108, 8); octal(0L, 116, 8) // uid, gid
      octal(payload.length.toLong, 124, 12) // size
      octal(0L, 136, 12)             // mtime
      java.util.Arrays.fill(hdr, 148, 156, ' '.toByte) // chksum spaces
      hdr(156) = '0'                 // typeflag: regular file
      // magic "ustar\0" + version "00"
      hdr(257) = 'u'; hdr(258) = 's'; hdr(259) = 't'; hdr(260) = 'a'
      hdr(261) = 'r'; hdr(262) = 0; hdr(263) = '0'; hdr(264) = '0'
      var sum = 0L
      var j = 0
      while (j < 512) { sum += (hdr(j) & 0xffL); j += 1 }
      val cs = java.lang.Long.toOctalString(sum)
      val pad = 6 - cs.length
      j = 0
      while (j < pad) { hdr(148 + j) = '0'; j += 1 }
      var k = 0
      while (k < cs.length) { hdr(148 + pad + k) = cs.charAt(k).toByte
        k += 1 }
      hdr(154) = 0; hdr(155) = ' '
      out.write(hdr, 0, 512)
      out.write(payload, 0, payload.length)
      val rem = payload.length % 512
      if (rem != 0) out.write(new Array[Byte](512 - rem), 0, 512 - rem)
      i += 1
    }
    out.write(new Array[Byte](1024), 0, 1024) // two zero EOF blocks
    out.toByteArray
  }
}

/** `zip_write(entries)` — complete ZIP archive (deflated members,
  * central directory, EOCD). See [[ArchiveWrite]]. */
case class ZipWrite(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    ArchiveWrite.checkEntries(child.dataType, "zip_write")

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def prettyName: String = "zip_write"

  override def nullSafeEval(entries: Any): Any =
    ArchiveWrite.zip(entries.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, e => {
      s"""
         |${ev.value} = graft.functions.ArchiveWrite.zip($e);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })

  override protected def withNewChildInternal(
      newChild: Expression): ZipWrite = copy(child = newChild)
}

/** `tar_write(entries)` — POSIX ustar stream with recomputable header
  * checksums and the two-zero-block EOF. See [[ArchiveWrite]]. */
case class TarWrite(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    ArchiveWrite.checkEntries(child.dataType, "tar_write")

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def prettyName: String = "tar_write"

  override def nullSafeEval(entries: Any): Any =
    ArchiveWrite.tar(entries.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, e => {
      s"""
         |${ev.value} = graft.functions.ArchiveWrite.tar($e);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })

  override protected def withNewChildInternal(
      newChild: Expression): TarWrite = copy(child = newChild)
}
