package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType}

/** LZ4 — the low-latency member of the shard-compression family
  * (gzip/bzip2 cover the ratio end; LZ4 is what lakes reach for when
  * decode bandwidth dominates, and `.lz4` shards are a standard
  * streaming-ingest shape).
  *
  *  - `lz4_read(bytes)` — a FROM-SCRATCH LZ4 Frame (v1.6.x spec) +
  *    block-format decoder: magic, FLG/BD descriptor with the
  *    header-checksum byte VERIFIED (XXH32 of the descriptor, second
  *    byte), per-block LE size words with the uncompressed-bit,
  *    optional per-block XXH32 checksums, the token/literal/offset
  *    match walk of the block format (overlapping copies included),
  *    the EndMark, the optional content XXH32 and the declared
  *    content size — all re-validated. CONCATENATED frames decode in
  *    order (the seekable multi-frame shard layout, like
  *    `gzip_members`), and skippable frames (0x184D2A5x) are
  *    skipped per spec. The XXH32 itself is implemented from scratch
  *    ([[Lz4.xxh32]]) and cross-anchored against lz4-java's
  *    XXHashFactory in Lz4Spec. Any malformation — bad magic,
  *    version != 01, reserved bits, dictionary ID (unsupported per
  *    contract), bad header/block/content checksum, offset 0 or past
  *    the decoded prefix, literal/match overrun, missing EndMark,
  *    content-size mismatch, trailing garbage — returns NULL, never
  *    a throw and never a misdecode.
  *  - `lz4_write(bytes)` — the write side via lz4-java's frame
  *    writer on Spark's classpath (block-independence + content size
  *    + content checksum), the INDEPENDENT compressor: the gated
  *    round trip (mm_lz4_roundtrip) therefore validates our decoder
  *    against a foreign implementation's output inside the plan
  *    itself, the same adversary posture as corpus_bz2_ingest. A
  *    from-scratch LZ4 *encoder* would be redundant armor here — the
  *    decode side is where a crawl pipeline meets hostile bytes.
  *
  * Reference re-expressed: push-ai/mta-rtf-dbt has no compression
  * surface (BigQuery SQL models); this extends the corpus shard
  * lifecycle's codec family. */
object Lz4 {

  private final val MAGIC = 0x184d2204
  private final val SKIP_BASE = 0x184d2a50

  /** XXH32 (seed 0 unless given) over b[off, off+len) — from
    * scratch; cross-anchored against lz4-java in Lz4Spec. */
  def xxh32(b: Array[Byte], off: Int, len: Int, seed: Int = 0): Int = {
    val P1 = -1640531535 // 2654435761
    val P2 = -2048144777 // 2246822519
    val P3 = -1028477379 // 3266489917
    val P4 = 668265263
    val P5 = 374761393
    var p = off
    val end = off + len
    var h: Int = 0
    if (len >= 16) {
      var v1 = seed + P1 + P2
      var v2 = seed + P2
      var v3 = seed + 0
      var v4 = seed - P1
      val limit = end - 16
      while (p <= limit) {
        v1 = Integer.rotateLeft(v1 + le32i(b, p) * P2, 13) * P1
        v2 = Integer.rotateLeft(v2 + le32i(b, p + 4) * P2, 13) * P1
        v3 = Integer.rotateLeft(v3 + le32i(b, p + 8) * P2, 13) * P1
        v4 = Integer.rotateLeft(v4 + le32i(b, p + 12) * P2, 13) * P1
        p += 16
      }
      h = Integer.rotateLeft(v1, 1) + Integer.rotateLeft(v2, 7) +
        Integer.rotateLeft(v3, 12) + Integer.rotateLeft(v4, 18)
    } else h = seed + P5
    h += len
    while (p + 4 <= end) {
      h = Integer.rotateLeft(h + le32i(b, p) * P3, 17) * P4
      p += 4
    }
    while (p < end) {
      h = Integer.rotateLeft(h + (b(p) & 0xff) * P5, 11) * P1
      p += 1
    }
    h ^= h >>> 15
    h *= P2
    h ^= h >>> 13
    h *= P3
    h ^= h >>> 16
    h
  }

  private def le32i(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8) |
      ((b(off + 2) & 0xff) << 16) | ((b(off + 3) & 0xff) << 24)

  /** Decode one LZ4 BLOCK into dst at doff with dcap capacity;
    * returns bytes produced, or -1 on malformation. */
  private[functions] def decodeBlock(src: Array[Byte], soff: Int,
                                     slen: Int, dst: Array[Byte],
                                     doff: Int, dcap: Int): Int = {
    var s = soff
    val send = soff + slen
    var d = doff
    val dend = doff + dcap
    while (s < send) {
      val token = src(s) & 0xff
      s += 1
      // literals
      var litLen = token >>> 4
      if (litLen == 15) {
        var more = 255
        while (more == 255) {
          if (s >= send) return -1
          more = src(s) & 0xff
          s += 1
          litLen += more
          if (litLen < 0) return -1
        }
      }
      if (s + litLen > send || d + litLen > dend) return -1
      System.arraycopy(src, s, dst, d, litLen)
      s += litLen
      d += litLen
      if (s == send) return d - doff // last sequence: literals only
      // match
      if (s + 2 > send) return -1
      val offset = (src(s) & 0xff) | ((src(s + 1) & 0xff) << 8)
      s += 2
      if (offset == 0 || d - offset < doff) return -1
      var matchLen = (token & 0xf) + 4
      if ((token & 0xf) == 15) {
        var more = 255
        while (more == 255) {
          if (s >= send) return -1
          more = src(s) & 0xff
          s += 1
          matchLen += more
          if (matchLen < 0) return -1
        }
      }
      if (d + matchLen > dend) return -1
      // overlap-correct byte copy
      var m = d - offset
      var k = 0
      while (k < matchLen) { dst(d + k) = dst(m + k); k += 1 }
      d += matchLen
    }
    d - doff
  }

  private val blockMax = Array(0, 0, 0, 0, 1 << 16, 1 << 18, 1 << 20,
    1 << 22)

  /** Decode all concatenated frames; null on any malformation. */
  def read(b: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(b.length * 2 + 64)
    var p = 0
    var sawFrame = false
    while (p < b.length) {
      if (p + 4 > b.length) return null
      val magic = le32i(b, p)
      p += 4
      if ((magic & 0xfffffff0) == SKIP_BASE) {
        if (p + 4 > b.length) return null
        val sz = le32i(b, p)
        p += 4
        if (sz < 0 || p + sz > b.length) return null
        p += sz
      } else if (magic == MAGIC) {
        sawFrame = true
        val hdrStart = p
        if (p + 2 > b.length) return null
        val flg = b(p) & 0xff
        val bd = b(p + 1) & 0xff
        p += 2
        if ((flg >>> 6) != 1) return null      // version must be 01
        if ((flg & 0x02) != 0) return null     // reserved bit
        if ((flg & 0x01) != 0) return null     // dictID unsupported
        val blockChecksum = (flg & 0x10) != 0
        val hasSize = (flg & 0x08) != 0
        val contentChecksum = (flg & 0x04) != 0
        val bsCode = (bd >>> 4) & 0x7
        if ((bd & 0x8f) != 0) return null      // BD reserved bits
        if (bsCode < 4) return null
        val maxBlock = blockMax(bsCode)
        var declared = -1L
        if (hasSize) {
          if (p + 8 > b.length) return null
          declared = (le32i(b, p) & 0xffffffffL) |
            ((le32i(b, p + 4) & 0xffffffffL) << 32)
          p += 8
        }
        if (p + 1 > b.length) return null
        val hc = b(p) & 0xff
        if (((xxh32(b, hdrStart, p - hdrStart) >>> 8) & 0xff) != hc)
          return null
        p += 1
        // frame-local accumulation keeps the content-checksum pass
        // O(frame), not O(total) — a many-frame shard blob would
        // otherwise re-materialize the whole output per frame
        val fout = new java.io.ByteArrayOutputStream(1 << 12)
        val buf = new Array[Byte](maxBlock)
        var endMark = false
        while (!endMark) {
          if (p + 4 > b.length) return null
          val word = le32i(b, p)
          p += 4
          if (word == 0) endMark = true
          else {
            val uncompressed = (word & 0x80000000) != 0
            val sz = word & 0x7fffffff
            if (sz <= 0 || sz > maxBlock || p + sz > b.length)
              return null
            if (blockChecksum) {
              if (p + sz + 4 > b.length) return null
              if (le32i(b, p + sz) != xxh32(b, p, sz)) return null
            }
            if (uncompressed) fout.write(b, p, sz)
            else {
              val n = decodeBlock(b, p, sz, buf, 0, maxBlock)
              if (n < 0) return null
              fout.write(buf, 0, n)
            }
            p += sz + (if (blockChecksum) 4 else 0)
          }
        }
        if (declared >= 0 && fout.size().toLong != declared)
          return null
        val content = fout.toByteArray
        if (contentChecksum) {
          if (p + 4 > b.length) return null
          if (le32i(b, p) != xxh32(content, 0, content.length))
            return null
          p += 4
        }
        out.write(content, 0, content.length)
      } else return null
    }
    if (!sawFrame && b.length > 0) return null
    out.toByteArray
  }

  /** Frame write via lz4-java (the independent compressor):
    * 64 KiB blocks, block independence, content size + checksum. */
  def write(data: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream(data.length / 2 + 64)
    val os = new net.jpountz.lz4.LZ4FrameOutputStream(bos,
      net.jpountz.lz4.LZ4FrameOutputStream.BLOCKSIZE.SIZE_64KB,
      data.length.toLong,
      net.jpountz.lz4.LZ4FrameOutputStream.FLG.Bits.BLOCK_INDEPENDENCE,
      net.jpountz.lz4.LZ4FrameOutputStream.FLG.Bits.CONTENT_SIZE,
      net.jpountz.lz4.LZ4FrameOutputStream.FLG.Bits.CONTENT_CHECKSUM)
    os.write(data)
    os.close()
    bos.toByteArray
  }
}

/** `lz4_read(bytes)` — from-scratch LZ4 frame+block decoder; NULL on
  * any malformation. See [[Lz4]]. */
case class Lz4Read(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType != BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult
        .TypeCheckFailure("lz4_read requires a BINARY input, got " +
          child.dataType.simpleString)
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult
        .TypeCheckSuccess

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def prettyName: String = "lz4_read"

  override def nullSafeEval(bytes: Any): Any =
    Lz4.read(bytes.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b => {
      s"""
         |${ev.value} = graft.functions.Lz4.read($b);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })

  override protected def withNewChildInternal(
      newChild: Expression): Lz4Read = copy(child = newChild)
}

/** `lz4_write(bytes)` — LZ4 frame via the classpath lz4-java writer
  * (the independent compressor). See [[Lz4]]. */
case class Lz4Write(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType != BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult
        .TypeCheckFailure("lz4_write requires a BINARY input, got " +
          child.dataType.simpleString)
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult
        .TypeCheckSuccess

  override def dataType: DataType = BinaryType
  override def prettyName: String = "lz4_write"

  override def nullSafeEval(bytes: Any): Any =
    Lz4.write(bytes.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b => {
      s"""
         |${ev.value} = graft.functions.Lz4.write($b);
       """.stripMargin
    })

  override protected def withNewChildInternal(
      newChild: Expression): Lz4Write = copy(child = newChild)
}
