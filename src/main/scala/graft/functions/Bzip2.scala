package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType}

/** A from-scratch bzip2 CODEC PAIR — `bzip2_write(bytes)` /
  * `bzip2_read(bytes)` — the block-sorting compressor family (BWT +
  * MTF + RLE + multi-table Huffman), implemented from the public
  * format description. bzip2 matters to a corpus pipeline for one
  * concrete reason: the large public text dumps (Wikipedia among
  * them) ship as .bz2, so a 100 TB ingest meets this format right
  * after gzip.
  *
  * Both directions are REAL and independently anchored: the Hadoop
  * client runtime on Spark's classpath ships a shaded
  * commons-compress bzip2, and Bzip2Spec round-trips OUR writer
  * through THAT reader and that writer through OUR reader — the
  * cross-adversary property (same posture as DeflateSpec vs the JDK
  * Inflater). The block CRC is the unreflected CRC-32 (poly
  * 0x04C11DB7, init/xorout 0xFFFFFFFF — the "CRC-32/BZIP2"
  * parameterization), pinned in the spec by its textbook check
  * vector.
  *
  * Decoder (full format): stream header `BZh1..9`; per block the
  * 48-bit block magic, block CRC, randomized-block flag (REJECTED —
  * deprecated since 0.9.5, no modern writer emits it), 24-bit
  * origPtr, two-level symbol map, 2–6 Huffman tables with
  * delta-coded lengths, MTF'd unary selectors every 50 symbols,
  * canonical-Huffman symbol decode, RUNA/RUNB bijective-base-2 zero
  * runs, MTF inverse, counting-sort inverse BWT, RLE1 inverse, block
  * CRC RECOMPUTED over the reconstructed bytes; stream footer magic
  * and the rotating combined CRC verified, trailing garbage
  * rejected. NULL on any malformation, never a throw.
  *
  * Encoder: RLE1 with greedy block chunking (level-1 blocks: RLE1 of
  * each chunk ≤ 100000 bytes, runs never split), rotation BWT via
  * prefix-doubling (O(n log² n) — immune to the periodic-input
  * quadratic trap of naive rotation sort), MTF + RUNA/RUNB zero-run
  * coding, real per-block Huffman (frequency tree with the classic
  * halve-and-retry depth limiting to ≤15), the minimum-legal two
  * coding groups, canonical code assignment matching the decoder's
  * (length, symbol) order.
  *
  * Reference re-expressed: push-ai/mta-rtf-dbt has no binary surface
  * (BigQuery SQL models only); this completes the engine's
  * compression family: inflate+deflate (RFC 1951/1952) and now the
  * block-sorting class.
  */
object Bzip2 {

  private object Malformed extends RuntimeException {
    override def fillInStackTrace(): Throwable = this
  }

  /** Unreflected CRC-32 (poly 0x04C11DB7) — the bzip2 block CRC. */
  val CrcTab: Array[Int] = Array.tabulate(256) { v =>
    var c = v << 24
    var k = 0
    while (k < 8) {
      c = if ((c & 0x80000000) != 0) (c << 1) ^ 0x04c11db7 else c << 1
      k += 1
    }
    c
  }

  /** CRC-32/BZIP2 of a byte range: init 0xFFFFFFFF, xorout same. */
  def crc32(b: Array[Byte], from: Int, until: Int): Int = {
    var c = 0xffffffff
    var i = from
    while (i < until) {
      c = (c << 8) ^ CrcTab(((c >>> 24) ^ (b(i) & 0xff)) & 0xff)
      i += 1
    }
    ~c
  }

  private final val BlockCap = 100000 // level-1 block: RLE1 bytes

  // ── bit I/O (MSB-first, the bzip2 packing order) ──────────────────

  private final class Br(b: Array[Byte]) {
    var pos: Long = 0L
    private val lim: Long = b.length.toLong << 3
    def bit(): Int = {
      if (pos >= lim) throw Malformed
      val v = ((b((pos >>> 3).toInt) & 0xff) >>> (7 - (pos & 7L).toInt)) & 1
      pos += 1
      v
    }
    def bits(n: Int): Long = {
      var v = 0L
      var k = 0
      while (k < n) { v = (v << 1) | bit(); k += 1 }
      v
    }
    def bytesLeft: Boolean = pos < lim
  }

  private final class Bw {
    private val out = new java.io.ByteArrayOutputStream()
    private var acc = 0
    private var n = 0
    def put(v: Long, bits: Int): Unit = {
      var k = bits - 1
      while (k >= 0) {
        acc = (acc << 1) | ((v >>> k) & 1L).toInt
        n += 1
        if (n == 8) { out.write(acc); acc = 0; n = 0 }
        k -= 1
      }
    }
    def finishToBytes(): Array[Byte] = {
      if (n > 0) { out.write(acc << (8 - n)); acc = 0; n = 0 }
      out.toByteArray
    }
  }

  // ── decoder ───────────────────────────────────────────────────────

  /** Decompress one bzip2 stream; null on any malformation. */
  def decompress(b: Array[Byte]): Array[Byte] = {
    try {
      if (b.length < 10) return null
      if (b(0) != 'B' || b(1) != 'Z' || b(2) != 'h') return null
      val level = b(3) - '0'
      if (level < 1 || level > 9) return null
      val cap = level * 100000
      val br = new Br(b)
      br.pos = 32
      val out = new java.io.ByteArrayOutputStream(b.length * 4)
      var combined = 0
      var done = false
      while (!done) {
        val magic = br.bits(48)
        if (magic == 0x314159265359L) {
          val blockCrc = br.bits(32).toInt
          if (br.bit() != 0) throw Malformed // randomized: deprecated
          val origPtr = br.bits(24).toInt
          // two-level symbol map
          val inUse16 = br.bits(16).toInt
          val used = new Array[Int](256)
          var nUsed = 0
          var g = 0
          while (g < 16) {
            if ((inUse16 & (0x8000 >>> g)) != 0) {
              val m = br.bits(16).toInt
              var j = 0
              while (j < 16) {
                if ((m & (0x8000 >>> j)) != 0) {
                  used(nUsed) = g * 16 + j
                  nUsed += 1
                }
                j += 1
              }
            }
            g += 1
          }
          if (nUsed == 0) throw Malformed
          val alpha = nUsed + 2
          val nGroups = br.bits(3).toInt
          if (nGroups < 2 || nGroups > 6) throw Malformed
          val nSel = br.bits(15).toInt
          if (nSel < 1) throw Malformed
          // selectors: unary, MTF'd over group ids
          val selMtf = Array.tabulate(nGroups)(identity)
          val sel = new Array[Int](nSel)
          var s = 0
          while (s < nSel) {
            var j = 0
            while (br.bit() == 1) {
              j += 1
              if (j >= nGroups) throw Malformed
            }
            val v = selMtf(j)
            while (j > 0) { selMtf(j) = selMtf(j - 1); j -= 1 }
            selMtf(0) = v
            sel(s) = v
            s += 1
          }
          // Huffman tables: delta-coded lengths
          val lens = Array.ofDim[Int](nGroups, alpha)
          g = 0
          while (g < nGroups) {
            var cur = br.bits(5).toInt
            var sy = 0
            while (sy < alpha) {
              var guard = 0
              while (br.bit() == 1) {
                if (br.bit() == 0) cur += 1 else cur -= 1
                if (cur < 1 || cur > 23) throw Malformed
                guard += 1
                if (guard > 64) throw Malformed
              }
              lens(g)(sy) = cur
              sy += 1
            }
            g += 1
          }
          // canonical decode tables per group
          val minL = new Array[Int](nGroups)
          val maxL = new Array[Int](nGroups)
          val firstCode = Array.ofDim[Int](nGroups, 25)
          val firstIdx = Array.ofDim[Int](nGroups, 25)
          val numAt = Array.ofDim[Int](nGroups, 25)
          val perm = Array.ofDim[Int](nGroups, alpha)
          g = 0
          while (g < nGroups) {
            var mn = 24
            var mx = 1
            var sy = 0
            while (sy < alpha) {
              val l = lens(g)(sy)
              if (l < mn) mn = l
              if (l > mx) mx = l
              numAt(g)(l) += 1
              sy += 1
            }
            minL(g) = mn; maxL(g) = mx
            var pp = 0
            var l = mn
            var code = 0
            while (l <= mx) {
              firstCode(g)(l) = code
              firstIdx(g)(l) = pp
              sy = 0
              while (sy < alpha) {
                if (lens(g)(sy) == l) { perm(g)(pp) = sy; pp += 1 }
                sy += 1
              }
              code = (code + numAt(g)(l)) << 1
              l += 1
            }
            g += 1
          }
          def readSym(grp: Int): Int = {
            var l = minL(grp)
            var code = br.bits(l).toInt
            while (code - firstCode(grp)(l) >= numAt(grp)(l)) {
              code = (code << 1) | br.bit()
              l += 1
              if (l > maxL(grp)) throw Malformed
            }
            perm(grp)(firstIdx(grp)(l) + code - firstCode(grp)(l))
          }
          // MTF + RLE2 inverse into the BWT buffer
          val bwt = new Array[Byte](cap)
          var n = 0
          val mtf = new Array[Int](nUsed)
          System.arraycopy(used, 0, mtf, 0, nUsed)
          val eob = alpha - 1
          var groupPos = 0
          var groupCnt = 0
          var run = 0L
          var runShift = 0
          var sym = -1
          while (sym != eob) {
            if (groupCnt == 0) {
              if (groupPos >= nSel) throw Malformed
              groupCnt = 50
              groupPos += 1
            }
            groupCnt -= 1
            sym = readSym(sel(groupPos - 1))
            if (sym <= 1) { // RUNA / RUNB
              run += (sym + 1).toLong << runShift
              runShift += 1
              if (runShift > 40) throw Malformed
            } else {
              if (run > 0) {
                if (n + run > cap) throw Malformed
                val c = mtf(0).toByte
                var r = 0L
                while (r < run) { bwt(n) = c; n += 1; r += 1 }
                run = 0; runShift = 0
              }
              if (sym != eob) {
                var j = sym - 1
                if (j >= nUsed) throw Malformed
                val v = mtf(j)
                while (j > 0) { mtf(j) = mtf(j - 1); j -= 1 }
                mtf(0) = v
                if (n >= cap) throw Malformed
                bwt(n) = v.toByte
                n += 1
              }
            }
          }
          if (run > 0) { // flush a run that ran straight into EOB
            if (n + run > cap) throw Malformed
            val c = mtf(0).toByte
            var r = 0L
            while (r < run) { bwt(n) = c; n += 1; r += 1 }
          }
          if (n == 0 || origPtr >= n) throw Malformed
          // inverse BWT: counting links
          val cftab = new Array[Int](257)
          var i = 0
          while (i < n) { cftab((bwt(i) & 0xff) + 1) += 1; i += 1 }
          i = 1
          while (i <= 256) { cftab(i) += cftab(i - 1); i += 1 }
          val tt = new Array[Int](n)
          i = 0
          while (i < n) {
            val c = bwt(i) & 0xff
            tt(cftab(c)) = i
            cftab(c) += 1
            i += 1
          }
          // walk + RLE1 inverse + block CRC over reconstructed bytes
          var p = tt(origPtr)
          var crc = 0xffffffff
          var runLen = 0
          var prev = -1
          var k = 0
          while (k < n) {
            val ch = bwt(p) & 0xff
            p = tt(p)
            k += 1
            if (runLen == 4) {
              // ch is the RLE1 count byte: emit ch more copies of prev
              var r = 0
              while (r < ch) {
                out.write(prev)
                crc = (crc << 8) ^
                  CrcTab(((crc >>> 24) ^ prev) & 0xff)
                r += 1
              }
              runLen = 0
              prev = -1
            } else {
              if (ch == prev) runLen += 1 else { runLen = 1; prev = ch }
              out.write(ch)
              crc = (crc << 8) ^ CrcTab(((crc >>> 24) ^ ch) & 0xff)
            }
          }
          if (runLen == 4) throw Malformed // dangling run, count missing
          if (~crc != blockCrc) throw Malformed
          combined = ((combined << 1) | (combined >>> 31)) ^ blockCrc
        } else if (magic == 0x177245385090L) {
          val streamCrc = br.bits(32).toInt
          if (streamCrc != combined) throw Malformed
          // byte-align; nothing but padding may remain
          if ((br.pos & 7) != 0) br.pos = (br.pos + 7) & ~7L
          if (br.bytesLeft) throw Malformed
          done = true
        } else throw Malformed
      }
      out.toByteArray
    } catch {
      case _: RuntimeException => null
    }
  }

  // ── encoder ───────────────────────────────────────────────────────

  /** BWT of the rotations of `data` via prefix doubling. Returns
    * (lastColumn, origPtr). */
  private def bwt(data: Array[Byte]): (Array[Byte], Int) = {
    val n = data.length
    val sa = Array.tabulate(n)(identity)
    var rank = new Array[Int](n)
    var i = 0
    while (i < n) { rank(i) = data(i) & 0xff; i += 1 }
    var h = 1
    val tmp = new Array[Int](n)
    val boxed = new Array[Integer](n)
    while (h < n) {
      val hh = h
      def key2(i: Int): Int = rank((i + hh) % n)
      i = 0
      while (i < n) { boxed(i) = Integer.valueOf(sa(i)); i += 1 }
      java.util.Arrays.sort(boxed, (a: Integer, b: Integer) => {
        val c = Integer.compare(rank(a), rank(b))
        if (c != 0) c else Integer.compare(key2(a), key2(b))
      })
      i = 0
      while (i < n) { sa(i) = boxed(i).intValue(); i += 1 }
      tmp(sa(0)) = 0
      i = 1
      while (i < n) {
        val a = sa(i - 1); val b = sa(i)
        tmp(b) = tmp(a) + (if (rank(a) != rank(b) ||
          key2(a) != key2(b)) 1 else 0)
        i += 1
      }
      System.arraycopy(tmp, 0, rank, 0, n)
      if (rank(sa(n - 1)) == n - 1) h = n // all distinct: done
      else h <<= 1
    }
    val last = new Array[Byte](n)
    var orig = -1
    i = 0
    while (i < n) {
      if (sa(i) == 0) orig = i
      last(i) = data((sa(i) + n - 1) % n)
      i += 1
    }
    (last, orig)
  }

  /** Huffman code lengths, depth-limited to 15 by halve-and-retry. */
  private def huffLengths(freqIn: Array[Int]): Array[Int] = {
    val m = freqIn.length
    var freq = freqIn.map(f => math.max(1, f))
    while (true) {
      // simple O(m log m) tree build
      val pq = new java.util.PriorityQueue[(Int, Int)](m,
        (a: (Int, Int), b: (Int, Int)) => Integer.compare(a._1, b._1))
      val parent = new Array[Int](2 * m)
      var next = m
      var i = 0
      while (i < m) { pq.add((freq(i), i)); i += 1 }
      while (pq.size() > 1) {
        val a = pq.poll(); val b = pq.poll()
        parent(a._2) = next; parent(b._2) = next
        pq.add((a._1 + b._1, next))
        next += 1
      }
      val root = pq.poll()._2
      val depth = new Array[Int](m)
      var maxD = 0
      i = 0
      while (i < m) {
        var d = 0
        var v = i
        while (v != root) { v = parent(v); d += 1 }
        depth(i) = math.max(1, d)
        if (depth(i) > maxD) maxD = depth(i)
        i += 1
      }
      if (maxD <= 15 || m < 3) return depth
      freq = freq.map(f => (f >> 1) + 1)
    }
    throw new IllegalStateException("unreachable")
  }

  /** Compress; single-writer shape: level-1 blocks (RLE1 chunks of
    * ≤ 100000 bytes), two identical coding groups (the legal
    * minimum), all selectors 0. */
  def compress(data: Array[Byte]): Array[Byte] = {
    val w = new Bw
    w.put('B', 8); w.put('Z', 8); w.put('h', 8); w.put('1', 8)
    var combined = 0
    var pos = 0
    while (pos < data.length) {
      // RLE1-encode greedily into one block (runs never split)
      val rle = new java.io.ByteArrayOutputStream(BlockCap + 8)
      val start = pos
      var full = false
      while (pos < data.length && !full) {
        val c = data(pos)
        var run = 1
        while (pos + run < data.length && run < 255 + 4 &&
          data(pos + run) == c) run += 1
        val emit = math.min(run, 4) + (if (run >= 4) 1 else 0)
        if (rle.size() + emit > BlockCap) full = true
        else {
          var r = 0
          while (r < math.min(run, 4)) { rle.write(c & 0xff); r += 1 }
          if (run >= 4) rle.write(run - 4)
          pos += run
        }
      }
      val chunkEnd = pos
      val rleBytes = rle.toByteArray
      val blockCrc = crc32(data, start, chunkEnd)
      combined = ((combined << 1) | (combined >>> 31)) ^ blockCrc
      val (lastCol, origPtr) = bwt(rleBytes)
      // symbol map
      val usedFlag = new Array[Boolean](256)
      lastCol.foreach(b => usedFlag(b & 0xff) = true)
      val used = (0 until 256).filter(usedFlag).toArray
      val nUsed = used.length
      val alpha = nUsed + 2
      val eob = alpha - 1
      // MTF + RLE2
      val symBuf = scala.collection.mutable.ArrayBuffer.empty[Int]
      val mtf = used.clone()
      var zRun = 0L
      def flushRun(): Unit = {
        var r = zRun
        while (r > 0) {
          val d = (((r - 1) % 2) + 1).toInt // bijective base-2 digit
          symBuf += (d - 1) // 0=RUNA, 1=RUNB
          r = (r - d) / 2
        }
        zRun = 0
      }
      var i = 0
      while (i < lastCol.length) {
        val v = lastCol(i) & 0xff
        if (mtf(0) == v) zRun += 1
        else {
          flushRun()
          var j = 1
          while (mtf(j) != v) j += 1
          symBuf += (j + 1)
          while (j > 0) { mtf(j) = mtf(j - 1); j -= 1 }
          mtf(0) = v
        }
        i += 1
      }
      flushRun()
      symBuf += eob
      // Huffman over the symbol stream (one real table, written twice
      // — two groups is the legal minimum)
      val freq = new Array[Int](alpha)
      symBuf.foreach(s => freq(s) += 1)
      val lens = huffLengths(freq)
      // canonical codes in (length, symbol) order
      val codes = new Array[Int](alpha)
      var code = 0
      var l = lens.min
      val maxLen = lens.max
      while (l <= maxLen) {
        var sy = 0
        while (sy < alpha) {
          if (lens(sy) == l) { codes(sy) = code; code += 1 }
          sy += 1
        }
        code <<= 1
        l += 1
      }
      val nSel = (symBuf.length + 49) / 50
      // block header
      w.put(0x314159265359L, 48)
      w.put(blockCrc.toLong & 0xffffffffL, 32)
      w.put(0, 1) // not randomized
      w.put(origPtr.toLong, 24)
      var inUse16 = 0
      for (gi <- 0 until 16)
        if (used.exists(u => u >> 4 == gi)) inUse16 |= 0x8000 >>> gi
      w.put(inUse16.toLong, 16)
      for (gi <- 0 until 16 if (inUse16 & (0x8000 >>> gi)) != 0) {
        var m = 0
        for (j <- 0 until 16 if usedFlag(gi * 16 + j))
          m |= 0x8000 >>> j
        w.put(m.toLong, 16)
      }
      w.put(2, 3) // nGroups = 2
      w.put(nSel.toLong, 15)
      var ssel = 0
      while (ssel < nSel) { w.put(0, 1); ssel += 1 } // selector 0, MTF'd
      var grp = 0
      while (grp < 2) { // identical tables
        var cur = lens(0)
        w.put(cur.toLong, 5)
        var sy = 0
        while (sy < alpha) {
          while (cur < lens(sy)) { w.put(2, 2); cur += 1 } // "10"
          while (cur > lens(sy)) { w.put(3, 2); cur -= 1 } // "11"
          w.put(0, 1)
          sy += 1
        }
        grp += 1
      }
      symBuf.foreach(s => w.put(codes(s).toLong, lens(s)))
    }
    w.put(0x177245385090L, 48)
    w.put(combined.toLong & 0xffffffffL, 32)
    w.finishToBytes()
  }
}

/** `bzip2_write(bytes)` — see [[Bzip2.compress]]. */
case class Bzip2Write(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType != BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"bzip2_write requires a BINARY input, got ${child.dataType.simpleString}")
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "bzip2_write"
  override def nullSafeEval(bytes: Any): Any =
    Bzip2.compress(bytes.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b =>
      s"${ev.value} = graft.functions.Bzip2.compress($b);")
  override protected def withNewChildInternal(
      newChild: Expression): Bzip2Write = copy(child = newChild)
}

/** `bzip2_read(bytes)` — see [[Bzip2.decompress]]; NULL on malformed. */
case class Bzip2Read(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType != BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"bzip2_read requires a BINARY input, got ${child.dataType.simpleString}")
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def prettyName: String = "bzip2_read"
  override def nullSafeEval(bytes: Any): Any =
    Bzip2.decompress(bytes.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b => {
      s"""
         |${ev.value} = graft.functions.Bzip2.decompress($b);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin
    })
  override protected def withNewChildInternal(
      newChild: Expression): Bzip2Read = copy(child = newChild)
}
