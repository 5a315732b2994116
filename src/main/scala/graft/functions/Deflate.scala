package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType}

/** A REAL DEFLATE (RFC 1951) *encoder* — the write side of the shard
  * pipeline. The repo's container work so far is read-heavy (gunzip /
  * zip_list / tar_list / WARC ingest decode real formats); a corpus
  * pipeline at 100 TB also *writes* its releases, and the standard
  * release shape is `.warc.gz`/`.json.gz` shards: one gzip MEMBER per
  * record, concatenated, so the file stays seekable per record. This
  * file supplies that write path with zero codec deps:
  *
  *  - `deflate_fixed(bytes)`  — raw DEFLATE: greedy LZ77 over a 32 KiB
  *    window (hash-chain match finder, lengths 3–258, distances up to
  *    32768, overlapping-copy RLE included) entropy-coded with the
  *    fixed Huffman alphabet (BTYPE=01) in one final block. Real
  *    compression, not stored framing — `java.util.zip.Inflater` and
  *    `GZIPInputStream` are the adversaries in DeflateSpec.
  *  - `gzip_write(bytes)`    — a full RFC 1952 member around it
  *    (header, CRC-32 + ISIZE trailer); `gunzip(gzip_write(x)) = x`
  *    is the mm_deflate_roundtrip gate.
  *  - `gzip_members(bytes)`  — the multi-member walker the single-blob
  *    `gunzip` deliberately refuses (its contract: one member per
  *    blob): parses CONCATENATED members — the `.warc.gz` shard layout
  *    — validating every header, CRC-32 and ISIZE, and returns the
  *    decompressed payloads in file order. NULL on any malformation
  *    (corrupt-shard semantics, never a throw).
  *
  * Fixed-Huffman-only is a deliberate scale choice, not a shortcut:
  * the encoder is one pass, allocation-light (two int arrays), and
  * branch-predictable — per-record members are small (a document
  * each), where a dynamic-Huffman header's ~50–100 byte overhead and
  * the second histogram pass buy little. The format is still fully
  * general DEFLATE; any inflater reads it.
  *
  * Reference re-expressed (push-ai/mta-rtf-dbt has no binary-container
  * surface at all — its models are BigQuery SQL over already-ingested
  * rows); this extends the engine's corpus-release lifecycle
  * (corpus_release, web_release) with the on-disk shard format those
  * releases ship as.
  */
object Deflate {

  // length code -> (base, extra bits), codes 257..285 (RFC 1951 §3.2.5)
  private val lenBase = Array(
    3, 4, 5, 6, 7, 8, 9, 10, 11, 13, 15, 17, 19, 23, 27, 31, 35, 43,
    51, 59, 67, 83, 99, 115, 131, 163, 195, 227, 258)
  private val lenBits = Array(
    0, 0, 0, 0, 0, 0, 0, 0, 1, 1, 1, 1, 2, 2, 2, 2, 3, 3, 3, 3, 4, 4,
    4, 4, 5, 5, 5, 5, 0)
  // distance code -> (base, extra bits), codes 0..29
  private val dstBase = Array(
    1, 2, 3, 4, 5, 7, 9, 13, 17, 25, 33, 49, 65, 97, 129, 193, 257,
    385, 513, 769, 1025, 1537, 2049, 3073, 4097, 6145, 8193, 12289,
    16385, 24577)
  private val dstBits = Array(
    0, 0, 0, 0, 1, 1, 2, 2, 3, 3, 4, 4, 5, 5, 6, 6, 7, 7, 8, 8, 9, 9,
    10, 10, 11, 11, 12, 12, 13, 13)

  // length value (3..258) -> length code index (0..28), precomputed
  private val lenCodeOf: Array[Int] = {
    val t = new Array[Int](259)
    var c = 0
    var l = 3
    while (l <= 258) {
      while (c < 28 && l >= lenBase(c + 1)) c += 1
      t(l) = c
      l += 1
    }
    t
  }

  private final val WSIZE = 32768
  private final val WMASK = WSIZE - 1
  private final val HBITS = 15
  private final val HSIZE = 1 << HBITS
  private final val MAXCHAIN = 128

  /** Raw DEFLATE, one BFINAL fixed-Huffman block. */
  def deflateFixed(data: Array[Byte]): Array[Byte] = {
    val n = data.length
    val out = new java.io.ByteArrayOutputStream(n / 2 + 64)
    var acc = 0L
    var nb = 0
    def put(v: Int, bits: Int): Unit = {
      acc |= (v.toLong & ((1L << bits) - 1)) << nb
      nb += bits
      while (nb >= 8) { out.write((acc & 0xff).toInt); acc >>>= 8; nb -= 8 }
    }
    // Huffman codes are packed MSB-first (RFC 1951 §3.1.1): reverse.
    def putCode(code: Int, bits: Int): Unit = {
      var r = 0; var x = code; var i = 0
      while (i < bits) { r = (r << 1) | (x & 1); x >>= 1; i += 1 }
      put(r, bits)
    }
    def sym(v: Int): Unit =
      if (v < 144) putCode(0x30 + v, 8)
      else if (v < 256) putCode(0x190 + (v - 144), 9)
      else if (v < 280) putCode(v - 256, 7)
      else putCode(0xc0 + (v - 280), 8)

    put(1, 1) // BFINAL
    put(1, 2) // BTYPE=01 fixed Huffman

    if (n > 0) {
      val head = new Array[Int](HSIZE)
      java.util.Arrays.fill(head, -1)
      val prev = new Array[Int](math.min(n, WSIZE))
      def hash(i: Int): Int =
        (((data(i) & 0xff) << 10) ^ ((data(i + 1) & 0xff) << 5) ^
          (data(i + 2) & 0xff)) & (HSIZE - 1)
      def insert(i: Int): Unit = {
        val h = hash(i)
        prev(i & WMASK) = head(h)
        head(h) = i
      }
      var i = 0
      while (i < n) {
        var bestLen = 0
        var bestDist = 0
        if (i + 2 < n) {
          val maxL = math.min(258, n - i)
          var cand = head(hash(i))
          var chain = MAXCHAIN
          while (cand >= 0 && i - cand <= WSIZE && chain > 0) {
            var l = 0
            while (l < maxL && data(cand + l) == data(i + l)) l += 1
            if (l > bestLen) {
              bestLen = l; bestDist = i - cand
              if (l >= maxL) chain = 1 // can't do better
            }
            chain -= 1
            val nxt = prev(cand & WMASK)
            cand = if (nxt < cand) nxt else -1 // chain entry recycled
          }
        }
        if (bestLen >= 3) {
          val lc = lenCodeOf(bestLen)
          sym(257 + lc)
          if (lenBits(lc) > 0) put(bestLen - lenBase(lc), lenBits(lc))
          var dc = 29
          while (dstBase(dc) > bestDist) dc -= 1
          putCode(dc, 5)
          if (dstBits(dc) > 0) put(bestDist - dstBase(dc), dstBits(dc))
          val end = i + bestLen
          while (i < end) { if (i + 2 < n) insert(i); i += 1 }
        } else {
          sym(data(i) & 0xff)
          if (i + 2 < n) insert(i)
          i += 1
        }
      }
    }
    sym(256) // end of block
    if (nb > 0) out.write((acc & 0xff).toInt) // flush, zero-padded
    out.toByteArray
  }

  /** One full RFC 1952 gzip member around [[deflateFixed]]. */
  def gzip(data: Array[Byte]): Array[Byte] = {
    val body = deflateFixed(data)
    val out = new java.io.ByteArrayOutputStream(body.length + 18)
    // magic, CM=deflate, FLG=0, MTIME=0 (determinism), XFL=0, OS=255
    out.write(Array[Byte](0x1f, 0x8b.toByte, 8, 0, 0, 0, 0, 0, 0,
      0xff.toByte))
    out.write(body)
    val crc = new java.util.zip.CRC32()
    crc.update(data)
    val c = crc.getValue
    val isize = data.length.toLong & 0xffffffffL
    var k = 0
    while (k < 4) { out.write(((c >>> (8 * k)) & 0xff).toInt); k += 1 }
    k = 0
    while (k < 4) { out.write(((isize >>> (8 * k)) & 0xff).toInt); k += 1 }
    out.toByteArray
  }

  /** End of the gzip header starting at `pos`, or -1 if malformed —
    * the same walk [[Gunzip.decode]] does, shared by the member
    * walker. Requires at least 8 trailer bytes beyond the returned
    * offset to be checked by the caller. */
  private def headerEnd(b: Array[Byte], start: Int): Int = {
    if (start + 18 > b.length) return -1
    if (b(start) != 0x1f.toByte || b(start + 1) != 0x8b.toByte) return -1
    if (b(start + 2) != 8) return -1
    val flg = b(start + 3) & 0xff
    if ((flg & 0xe0) != 0) return -1
    var pos = start + 10
    if ((flg & 0x04) != 0) {
      if (pos + 2 > b.length) return -1
      val xlen = (b(pos) & 0xff) | ((b(pos + 1) & 0xff) << 8)
      pos += 2 + xlen
      if (pos > b.length) return -1
    }
    if ((flg & 0x08) != 0) {
      while (pos < b.length && b(pos) != 0) pos += 1
      if (pos >= b.length) return -1
      pos += 1
    }
    if ((flg & 0x10) != 0) {
      while (pos < b.length && b(pos) != 0) pos += 1
      if (pos >= b.length) return -1
      pos += 1
    }
    if ((flg & 0x02) != 0) {
      if (pos + 2 > b.length) return -1
      val crc = new java.util.zip.CRC32()
      crc.update(b, start, pos - start)
      val want = (b(pos) & 0xff) | ((b(pos + 1) & 0xff) << 8)
      if ((crc.getValue & 0xffffL).toInt != want) return -1
      pos += 2
    }
    pos
  }

  /** Decode CONCATENATED gzip members (the .warc.gz shard layout) into
    * their payloads, in order. Null on any malformation: bad header,
    * inflate failure, CRC/ISIZE mismatch, trailing garbage that is not
    * a further member, or an empty blob. */
  def members(b: Array[Byte]): Array[Array[Byte]] = {
    if (b == null || b.length == 0) return null
    val acc = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    var pos = 0
    var totalOut = 0L
    val outCap = (b.length.toLong << 12) + (1L << 20) // bomb guard
    while (pos < b.length) {
      val pStart = headerEnd(b, pos)
      if (pStart < 0) return null
      if (b.length - pStart < 8) return null
      val inf = new java.util.zip.Inflater(true)
      try {
        inf.setInput(b, pStart, b.length - pStart)
        val out = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](4096)
        while (!inf.finished()) {
          val k = inf.inflate(buf)
          if (k == 0 && !inf.finished()) return null
          out.write(buf, 0, k)
          totalOut += k
          if (totalOut > outCap) return null
        }
        val consumed = (b.length - pStart) - inf.getRemaining
        val tOff = pStart + consumed
        if (tOff + 8 > b.length) return null
        val raw = out.toByteArray
        def le4(off: Int): Long =
          (b(off) & 0xffL) | ((b(off + 1) & 0xffL) << 8) |
            ((b(off + 2) & 0xffL) << 16) | ((b(off + 3) & 0xffL) << 24)
        val crc = new java.util.zip.CRC32()
        crc.update(raw)
        if (crc.getValue != le4(tOff)) return null
        if ((raw.length.toLong & 0xffffffffL) != le4(tOff + 4)) return null
        acc += raw
        pos = tOff + 8
      } catch {
        case _: java.util.zip.DataFormatException => return null
      } finally inf.end()
    }
    acc.toArray
  }
}

/** `gzip_write(bytes)` — one RFC 1952 member, real LZ77+fixed-Huffman
  * DEFLATE body. Never fails on non-null input. See [[Deflate]]. */
case class GzipWrite(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType != BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"gzip_write requires a BINARY input, got ${child.dataType.simpleString}")
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "gzip_write"

  override def nullSafeEval(bytes: Any): Any =
    Deflate.gzip(bytes.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b => {
      s"${ev.value} = graft.functions.Deflate.gzip($b);"
    })

  override protected def withNewChildInternal(
      newChild: Expression): GzipWrite = copy(child = newChild)
}

/** `gzip_members(bytes)` — concatenated-member gzip walk (the .warc.gz
  * shard layout): ARRAY<BINARY> of payloads, or NULL on malformation.
  * See [[Deflate.members]]. */
case class GzipMembers(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType != BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"gzip_members requires a BINARY input, got ${child.dataType.simpleString}")
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = ArrayType(BinaryType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "gzip_members"

  override def nullSafeEval(bytes: Any): Any = {
    val r = Deflate.members(bytes.asInstanceOf[Array[Byte]])
    if (r == null) null else new GenericArrayData(r.asInstanceOf[Array[Any]])
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b => {
      s"""
         |byte[][] parts = graft.functions.Deflate.members($b);
         |if (parts == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} =
         |    new org.apache.spark.sql.catalyst.util.GenericArrayData((Object[]) parts);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(
      newChild: Expression): GzipMembers = copy(child = newChild)
}
