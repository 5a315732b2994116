package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType}

/** XZ / LZMA2 — the last member of the shard-codec family decoded
  * FROM SCRATCH (gzip, bzip2, LZ4, snappy and zstd already are):
  * Wikipedia dumps and most long-term archival corpora ship as
  * `.xz`. Nothing here wraps a library:
  *
  *  - the full LZMA range decoder (11-bit adaptive probabilities,
  *    the shift-5 adaptation rule, byte-wise normalization below
  *    2^24) with the complete state machine — 12 states, literal
  *    coders with (lc, lp) context and the matched-byte mode, the
  *    choice/low/mid/high length coders, 6-bit distance-slot trees
  *    per length state, direct bits, the 4-bit reverse align tree,
  *    and the rep0–rep3 repeat-distance logic incl. short rep;
  *  - the LZMA2 chunk layer: control bytes (end, uncompressed with
  *    and without dict reset, compressed with the four reset
  *    modes), per-chunk range-coder init, props-byte decoding
  *    ((pb·5 + lp)·9 + lc), and EXACT pack/unpack size accounting —
  *    a chunk that does not consume or produce exactly its declared
  *    bytes is corrupt;
  *  - the XZ container: stream header magic + flags with their
  *    CRC-32, block headers (filter chain must be exactly one
  *    LZMA2 filter, header CRC-32, padding-zero enforcement), block
  *    padding, the integrity CHECK over the decompressed block
  *    (None, CRC-32, CRC-64/ECMA — the CRC-64 table built from
  *    scratch — and SHA-256 via MessageDigest), the index (record
  *    counts and sizes re-validated against what the blocks
  *    actually declared and produced), and the stream footer
  *    (backward size, flag echo, CRC-32, YZ magic). CONCATENATED
  *    streams decode in order with stream padding allowed between
  *    them.
  *
  * `xz_write(bytes)` is the INDEPENDENT compressor: org.tukaani.xz
  * on Spark's classpath (the reference Java implementation, CRC-64
  * check), so the gated round trip (mm_xz_roundtrip) validates this
  * decoder against reference output inside the plan; XzSpec adds
  * commons-compress as a second foreign writer plus preset sweeps
  * and malformed classes. Any malformation returns NULL. */
object XzCodec {

  private final val MAX_OUT = 1 << 28

  private final class Corrupt extends RuntimeException(null, null,
    false, false)
  private def corrupt(): Nothing = throw new Corrupt

  // ── CRC-64/ECMA (xz's default check), table from scratch ────────
  private val crc64Tab: Array[Long] = {
    val poly = 0xC96C5795D7870F42L // reflected ECMA-182
    val t = new Array[Long](256)
    var i = 0
    while (i < 256) {
      var c = i.toLong
      var k = 0
      while (k < 8) {
        c = if ((c & 1L) != 0L) (c >>> 1) ^ poly else c >>> 1
        k += 1
      }
      t(i) = c
      i += 1
    }
    t
  }

  def crc64(b: Array[Byte], off: Int, len: Int): Long = {
    var c = ~0L
    var i = off
    while (i < off + len) {
      c = crc64Tab(((c ^ b(i)) & 0xff).toInt) ^ (c >>> 8)
      i += 1
    }
    ~c
  }

  private def crc32(b: Array[Byte], off: Int, len: Int): Long = {
    val c = new java.util.zip.CRC32
    c.update(b, off, len)
    c.getValue
  }

  // ── the output window (whole-stream dictionary) ─────────────────
  private final class Win {
    var buf = new Array[Byte](1 << 16)
    var len = 0
    /** dictionary start (reset point): back-references may not
      * reach before it */
    var dictStart = 0
    private def ensure(extra: Int): Unit = {
      if (len + extra > MAX_OUT) corrupt()
      if (len + extra > buf.length) {
        var n = buf.length
        while (n < len + extra) n <<= 1
        buf = java.util.Arrays.copyOf(buf, n)
      }
    }
    def put(v: Byte): Unit = {
      ensure(1)
      buf(len) = v
      len += 1
    }
    def putAll(b: Array[Byte], off: Int, l: Int): Unit = {
      ensure(l)
      System.arraycopy(b, off, buf, len, l)
      len += l
    }
    def copy(dist: Int, l: Int): Unit = {
      // dist is 0-based: source byte = len - dist - 1
      if (dist < 0 || len - dist - 1 < dictStart) corrupt()
      ensure(l)
      val from = len - dist - 1
      var k = 0
      while (k < l) { buf(len + k) = buf(from + k); k += 1 }
      len += l
    }
    def byteBack(dist: Int): Int = {
      if (len - dist - 1 < dictStart) corrupt()
      buf(len - dist - 1) & 0xff
    }
    def reset(): Unit = dictStart = len
  }

  // ── LZMA decoder state (probs + state vars) ─────────────────────
  private final val NUM_STATES = 12
  private final val INIT_PROB: Short = 1024

  private final class Lzma {
    var lc = 0
    var lp = 0
    var pb = 0
    // probability arrays
    var lit: Array[Short] = _
    val isMatch = new Array[Short](NUM_STATES << 4)
    val isRep = new Array[Short](NUM_STATES)
    val isRepG0 = new Array[Short](NUM_STATES)
    val isRepG1 = new Array[Short](NUM_STATES)
    val isRepG2 = new Array[Short](NUM_STATES)
    val isRep0Long = new Array[Short](NUM_STATES << 4)
    val distSlot = new Array[Short](4 << 6)
    val posDecoders = new Array[Short](115)
    val align = new Array[Short](16)
    // length coders: [0] match, [1] rep
    val lenChoice = new Array[Short](2)
    val lenChoice2 = new Array[Short](2)
    val lenLow = new Array[Short](2 << 7)  // 16 pos states × 8
    val lenMid = new Array[Short](2 << 7)
    val lenHigh = new Array[Short](2 << 8)
    var state = 0
    var rep0 = 0
    var rep1 = 0
    var rep2 = 0
    var rep3 = 0

    def setProps(props: Int): Unit = {
      if (props >= 225) corrupt()
      lc = props % 9
      lp = (props / 9) % 5
      pb = props / 45
      if (lc + lp > 4) corrupt() // LZMA2 restriction
      lit = new Array[Short]((0x300 << (lc + lp)))
    }

    def resetState(): Unit = {
      state = 0
      rep0 = 0; rep1 = 0; rep2 = 0; rep3 = 0
      java.util.Arrays.fill(isMatch, INIT_PROB)
      java.util.Arrays.fill(isRep, INIT_PROB)
      java.util.Arrays.fill(isRepG0, INIT_PROB)
      java.util.Arrays.fill(isRepG1, INIT_PROB)
      java.util.Arrays.fill(isRepG2, INIT_PROB)
      java.util.Arrays.fill(isRep0Long, INIT_PROB)
      java.util.Arrays.fill(distSlot, INIT_PROB)
      java.util.Arrays.fill(posDecoders, INIT_PROB)
      java.util.Arrays.fill(align, INIT_PROB)
      java.util.Arrays.fill(lenChoice, INIT_PROB)
      java.util.Arrays.fill(lenChoice2, INIT_PROB)
      java.util.Arrays.fill(lenLow, INIT_PROB)
      java.util.Arrays.fill(lenMid, INIT_PROB)
      java.util.Arrays.fill(lenHigh, INIT_PROB)
      if (lit != null) java.util.Arrays.fill(lit, INIT_PROB)
    }
  }

  /** Range decoder over one compressed chunk [s, e). */
  private final class Rc(b: Array[Byte], var p: Int, val e: Int) {
    if (p >= e || b(p) != 0) corrupt() // first byte must be 0
    p += 1
    var range: Int = 0xffffffff
    var code: Int = 0
    var i = 0
    while (i < 4) {
      if (p >= e) corrupt()
      code = (code << 8) | (b(p) & 0xff)
      p += 1
      i += 1
    }

    private def normalize(): Unit =
      if ((range & 0xff000000) == 0) {
        range <<= 8
        if (p >= e) corrupt()
        code = (code << 8) | (b(p) & 0xff)
        p += 1
      }

    def bit(probs: Array[Short], idx: Int): Int = {
      val pr = probs(idx) & 0xffff
      val bound = (range >>> 11) * pr
      val r =
        if (Integer.compareUnsigned(code, bound) < 0) {
          range = bound
          probs(idx) = (pr + ((2048 - pr) >>> 5)).toShort
          0
        } else {
          range -= bound
          code -= bound
          probs(idx) = (pr - (pr >>> 5)).toShort
          1
        }
      normalize()
      r
    }

    def direct(n: Int): Int = {
      var res = 0
      var k = n
      while (k > 0) {
        range = range >>> 1
        code -= range
        val t = 0 - (code >>> 31)
        code += range & t
        normalize()
        res = (res << 1) + t + 1
        k -= 1
      }
      res
    }

    def tree(probs: Array[Short], off: Int, n: Int): Int = {
      var m = 1
      var k = 0
      while (k < n) { m = (m << 1) + bit(probs, off + m); k += 1 }
      m - (1 << n)
    }

    def rtree(probs: Array[Short], off: Int, n: Int): Int = {
      var m = 1
      var sym = 0
      var k = 0
      while (k < n) {
        val bt = bit(probs, off + m)
        m = (m << 1) + bt
        sym |= bt << k
        k += 1
      }
      sym
    }

    /** Range-coder end condition for a chunk: all bytes consumed
      * and code == 0 is NOT required by LZMA2 (sizes bound it);
      * exact byte consumption is checked by the caller. */
    def done: Boolean = p == e
  }

  private def lenDecode(rc: Rc, lz: Lzma, which: Int,
                        posState: Int): Int =
    if (rc.bit(lz.lenChoice, which) == 0)
      2 + rc.tree(lz.lenLow, (which << 7) + (posState << 3), 3)
    else if (rc.bit(lz.lenChoice2, which) == 0)
      10 + rc.tree(lz.lenMid, (which << 7) + (posState << 3), 3)
    else
      18 + rc.tree(lz.lenHigh, which << 8, 8)

  /** Decode one LZMA2 compressed chunk: exactly `unpack` bytes out,
    * consuming exactly [s, e). */
  private def lzmaChunk(b: Array[Byte], s: Int, e: Int, lz: Lzma,
                        win: Win, unpack: Int): Unit = {
    val rc = new Rc(b, s, e)
    val pbMask = (1 << lz.pb) - 1
    val lpMask = (1 << lz.lp) - 1
    val target = win.len + unpack
    while (win.len < target) {
      val posState = (win.len - win.dictStart) & pbMask
      // NOTE: LZMA2 position context uses the uncompressed position
      // within the dictionary-reset scope; total position since the
      // last dict reset
      if (rc.bit(lz.isMatch, (lz.state << 4) + posState) == 0) {
        // literal
        val prev = if (win.len == win.dictStart) 0
          else win.buf(win.len - 1) & 0xff
        val ctx = (((win.len - win.dictStart) & lpMask) << lz.lc) +
          (prev >>> (8 - lz.lc))
        val off = 0x300 * ctx
        var symbol = 1
        if (lz.state >= 7) {
          var matchByte = win.byteBack(lz.rep0)
          var cont = true
          while (cont && symbol < 0x100) {
            val matchBit = (matchByte >> 7) & 1
            matchByte = (matchByte << 1) & 0xff
            val bt = rc.bit(lz.lit,
              off + ((1 + matchBit) << 8) + symbol)
            symbol = (symbol << 1) | bt
            if (matchBit != bt) {
              while (symbol < 0x100)
                symbol = (symbol << 1) | rc.bit(lz.lit, off + symbol)
              cont = false
            }
          }
        } else {
          while (symbol < 0x100)
            symbol = (symbol << 1) | rc.bit(lz.lit, off + symbol)
        }
        win.put((symbol & 0xff).toByte)
        lz.state =
          if (lz.state < 4) 0
          else if (lz.state < 10) lz.state - 3
          else lz.state - 6
      } else {
        var len = 0
        if (rc.bit(lz.isRep, lz.state) == 0) {
          // new match
          lz.rep3 = lz.rep2; lz.rep2 = lz.rep1; lz.rep1 = lz.rep0
          len = lenDecode(rc, lz, 0, posState)
          val distState = math.min(len - 2, 3)
          val slot = rc.tree(lz.distSlot, distState << 6, 6)
          if (slot < 4) lz.rep0 = slot
          else {
            val numDirect = (slot >> 1) - 1
            var dist = (2 | (slot & 1)) << numDirect
            if (slot < 14)
              dist += rc.rtree(lz.posDecoders, dist - slot, numDirect)
            else {
              dist += rc.direct(numDirect - 4) << 4
              dist += rc.rtree(lz.align, 0, 4)
            }
            if (dist == -1) corrupt() // 0xFFFFFFFF end marker:
            // LZMA2 forbids it (sizes delimit chunks)
            lz.rep0 = dist
          }
          lz.state = if (lz.state < 7) 7 else 10
        } else {
          // rep match
          if (rc.bit(lz.isRepG0, lz.state) == 0) {
            if (rc.bit(lz.isRep0Long,
              (lz.state << 4) + posState) == 0) {
              // short rep: one byte from rep0
              lz.state = if (lz.state < 7) 9 else 11
              win.copy(lz.rep0, 1)
              if (win.len > target) corrupt()
              // continue main loop
              len = -1
            }
          } else {
            var dist = 0
            if (rc.bit(lz.isRepG1, lz.state) == 0) {
              dist = lz.rep1
              lz.rep1 = lz.rep0
            } else if (rc.bit(lz.isRepG2, lz.state) == 0) {
              dist = lz.rep2
              lz.rep2 = lz.rep1
              lz.rep1 = lz.rep0
            } else {
              dist = lz.rep3
              lz.rep3 = lz.rep2
              lz.rep2 = lz.rep1
              lz.rep1 = lz.rep0
            }
            lz.rep0 = dist
          }
          if (len == 0) {
            len = lenDecode(rc, lz, 1, posState)
            lz.state = if (lz.state < 7) 8 else 11
          }
        }
        if (len > 0) {
          if (win.len + len > target) corrupt()
          win.copy(lz.rep0, len)
        }
      }
    }
    if (!rc.done) corrupt() // exact pack-size consumption
  }

  /** LZMA2 chunk stream over [s, e); returns bytes consumed must
    * equal e - s and the produced length. */
  private def lzma2(b: Array[Byte], s: Int, e: Int, win: Win): Long = {
    val lz = new Lzma
    var havePropsEver = false
    var needInit = true
    var p = s
    val startLen = win.len
    var done = false
    while (!done) {
      if (p >= e) corrupt()
      val c = b(p) & 0xff
      p += 1
      if (c == 0) done = true
      else if (c == 1 || c == 2) {
        // uncompressed chunk (1 = dict reset first)
        if (p + 2 > e) corrupt()
        val size = (((b(p) & 0xff) << 8) | (b(p + 1) & 0xff)) + 1
        p += 2
        if (p + size > e) corrupt()
        if (c == 1) win.reset()
        win.putAll(b, p, size)
        p += size
        needInit = true // uncompressed chunk resets LZMA state
      } else if (c >= 0x80) {
        val unpack = (((c & 0x1f) << 16) |
          ((b(p) & 0xff) << 8) | (b(p + 1) & 0xff)) + 1
        val pack = (((b(p + 2) & 0xff) << 8) | (b(p + 3) & 0xff)) + 1
        p += 4
        val mode = (c >>> 5) & 3
        if (mode == 3) win.reset()
        if (mode >= 2) {
          if (p >= e) corrupt()
          lz.setProps(b(p) & 0xff)
          p += 1
          havePropsEver = true
        }
        if (!havePropsEver) corrupt()
        // after an uncompressed chunk the next LZMA chunk MUST carry
        // a state reset (LZMA2 format rule) — enforce, don't paper
        if (needInit && mode == 0) corrupt()
        if (mode >= 1) lz.resetState()
        needInit = false
        if (p + pack > e) corrupt()
        lzmaChunk(b, p, p + pack, lz, win, unpack)
        p += pack
      } else corrupt()
    }
    if (p != e) corrupt()
    (win.len - startLen).toLong
  }

  // ── XZ container ────────────────────────────────────────────────
  private val MAGIC = Array(0xfd, '7', 'z', 'X', 'Z', 0x00)
    .map(_.toByte)

  private def xzVarint(b: Array[Byte], pp: Array[Int]): Long = {
    var v = 0L
    var shift = 0
    while (true) {
      if (pp(0) >= b.length || shift > 63) corrupt()
      val x = b(pp(0)) & 0xff
      pp(0) += 1
      v |= (x & 0x7fL) << shift
      shift += 7
      if ((x & 0x80) == 0) {
        if (x == 0 && shift > 7) corrupt() // non-minimal encoding
        return v
      }
    }
    v
  }

  /** Decode all concatenated XZ streams; null on malformation. */
  def read(b: Array[Byte]): Array[Byte] = {
    try {
      val win = new Win
      var p = 0
      while (p < b.length) {
        // stream padding between streams: 4-byte-aligned zeros
        if (b(p) == 0) {
          val start = p
          while (p < b.length && b(p) == 0) p += 1
          if ((p - start) % 4 != 0) corrupt()
          if (p >= b.length) return finish(win)
        }
        p = stream(b, p, win)
      }
      finish(win)
    } catch {
      case _: Corrupt => null
      case _: ArrayIndexOutOfBoundsException => null
      case _: NegativeArraySizeException => null
    }
  }

  private def finish(win: Win): Array[Byte] =
    java.util.Arrays.copyOf(win.buf, win.len)

  /** One XZ stream; returns the offset past its footer. */
  private def stream(b: Array[Byte], start: Int, win: Win): Int = {
    var p = start
    if (p + 12 > b.length) corrupt()
    var i = 0
    while (i < 6) {
      if (b(p + i) != MAGIC(i)) corrupt()
      i += 1
    }
    p += 6
    val flagHi = b(p) & 0xff
    val checkType = b(p + 1) & 0xff
    if (flagHi != 0 || (checkType & 0xf0) != 0) corrupt()
    if (crc32(b, p, 2) != ((b(p + 2) & 0xffL) |
      ((b(p + 3) & 0xffL) << 8) | ((b(p + 4) & 0xffL) << 16) |
      ((b(p + 5) & 0xffL) << 24))) corrupt()
    p += 6
    val checkLen = checkType match {
      case 0x00 => 0
      case 0x01 => 4  // CRC32
      case 0x04 => 8  // CRC64
      case 0x0a => 32 // SHA-256
      case _ => corrupt()
    }
    // blocks until the index indicator (0x00 where a block-header
    // size byte would be)
    val records = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long)] // (unpaddedSize, uncompressedSize)
    var atIndex = false
    while (!atIndex) {
      if (p >= b.length) corrupt()
      val hdrSizeByte = b(p) & 0xff
      if (hdrSizeByte == 0) atIndex = true
      else {
        val blockStart = p
        val hdrSize = (hdrSizeByte + 1) * 4
        if (p + hdrSize > b.length) corrupt()
        // header CRC32 (last 4 bytes of the header)
        val hcrc = (b(p + hdrSize - 4) & 0xffL) |
          ((b(p + hdrSize - 3) & 0xffL) << 8) |
          ((b(p + hdrSize - 2) & 0xffL) << 16) |
          ((b(p + hdrSize - 1) & 0xffL) << 24)
        if (crc32(b, p, hdrSize - 4) != hcrc) corrupt()
        val flags = b(p + 1) & 0xff
        val nFilters = (flags & 0x3) + 1
        if ((flags & 0x3c) != 0) corrupt() // reserved
        val hasCompSize = (flags & 0x40) != 0
        val hasUncompSize = (flags & 0x80) != 0
        val pp = Array(p + 2)
        var declComp = -1L
        var declUncomp = -1L
        if (hasCompSize) declComp = xzVarint(b, pp)
        if (hasUncompSize) declUncomp = xzVarint(b, pp)
        if (nFilters != 1) corrupt() // contract: plain LZMA2 only
        val filterId = xzVarint(b, pp)
        if (filterId != 0x21L) corrupt()
        val propLen = xzVarint(b, pp)
        if (propLen != 1L) corrupt()
        val dictProp = b(pp(0)) & 0xff
        if (dictProp > 40) corrupt()
        pp(0) += 1
        // header padding to hdrSize - 4 must be zeros
        while (pp(0) < p + hdrSize - 4) {
          if (b(pp(0)) != 0) corrupt()
          pp(0) += 1
        }
        p += hdrSize
        // compressed data (LZMA2 chunks); find its extent by
        // decoding — lzma2 stops at its end marker
        val dataStart = p
        // decode; we need the end offset: lzma2 walks chunks, so
        // re-walk to find the end first is wasteful — decode while
        // tracking
        val before = win.len
        val endOff = {
          // walk chunk headers to find the end, then decode the
          // whole range (keeps lzma2's exact-consumption contract)
          var q = dataStart
          var done2 = false
          while (!done2) {
            if (q >= b.length) corrupt()
            val c = b(q) & 0xff
            q += 1
            if (c == 0) done2 = true
            else if (c == 1 || c == 2) {
              if (q + 2 > b.length) corrupt()
              val size = (((b(q) & 0xff) << 8) | (b(q + 1) & 0xff)) + 1
              q += 2 + size
            } else if (c >= 0x80) {
              if (q + 4 > b.length) corrupt()
              val pack = (((b(q + 2) & 0xff) << 8) |
                (b(q + 3) & 0xff)) + 1
              q += 4
              if (((c >>> 5) & 3) >= 2) q += 1
              q += pack
            } else corrupt()
            if (q > b.length) corrupt()
          }
          q
        }
        val produced = lzma2(b, dataStart, endOff, win)
        if (declUncomp >= 0 && produced != declUncomp) corrupt()
        p = endOff
        // block padding to 4-byte multiple of (header + data)
        val unpadded0 = (p - blockStart).toLong
        while (((p - blockStart) & 3) != 0) {
          if (p >= b.length || b(p) != 0) corrupt()
          p += 1
        }
        if (declComp >= 0 && (endOff - dataStart).toLong != declComp)
          corrupt()
        // the check over the decompressed block
        if (p + checkLen > b.length) corrupt()
        checkType match {
          case 0x00 => ()
          case 0x01 =>
            val want = (b(p) & 0xffL) | ((b(p + 1) & 0xffL) << 8) |
              ((b(p + 2) & 0xffL) << 16) | ((b(p + 3) & 0xffL) << 24)
            if (crc32(win.buf, before, win.len - before) != want)
              corrupt()
          case 0x04 =>
            var want = 0L
            var k = 0
            while (k < 8) {
              want |= (b(p + k) & 0xffL) << (8 * k)
              k += 1
            }
            if (crc64(win.buf, before, win.len - before) != want)
              corrupt()
          case 0x0a =>
            val md = java.security.MessageDigest.getInstance("SHA-256")
            md.update(win.buf, before, win.len - before)
            val dig = md.digest()
            var k = 0
            while (k < 32) {
              if (dig(k) != b(p + k)) corrupt()
              k += 1
            }
        }
        p += checkLen
        // unpadded size = header + compressed data + check (no
        // block padding)
        records += ((unpadded0 + checkLen, produced))
      }
    }
    // ── index ──
    val indexStart = p
    p += 1 // the 0x00 indicator
    val pp = Array(p)
    val nRec = xzVarint(b, pp)
    if (nRec != records.length.toLong) corrupt()
    var r = 0
    while (r < records.length) {
      val unp = xzVarint(b, pp)
      val unc = xzVarint(b, pp)
      if (unp != records(r)._1 || unc != records(r)._2) corrupt()
      r += 1
    }
    p = pp(0)
    // index padding to 4-byte multiple
    while (((p - indexStart) & 3) != 0) {
      if (p >= b.length || b(p) != 0) corrupt()
      p += 1
    }
    // index CRC32
    if (p + 4 > b.length) corrupt()
    val icrc = (b(p) & 0xffL) | ((b(p + 1) & 0xffL) << 8) |
      ((b(p + 2) & 0xffL) << 16) | ((b(p + 3) & 0xffL) << 24)
    if (crc32(b, indexStart, p - indexStart) != icrc) corrupt()
    p += 4
    val indexSize = (p - indexStart).toLong
    // ── footer ──
    if (p + 12 > b.length) corrupt()
    val fcrc = (b(p) & 0xffL) | ((b(p + 1) & 0xffL) << 8) |
      ((b(p + 2) & 0xffL) << 16) | ((b(p + 3) & 0xffL) << 24)
    if (crc32(b, p + 4, 6) != fcrc) corrupt()
    val backward = ((b(p + 4) & 0xffL) | ((b(p + 5) & 0xffL) << 8) |
      ((b(p + 6) & 0xffL) << 16) | ((b(p + 7) & 0xffL) << 24))
    if ((backward + 1) * 4 != indexSize) corrupt()
    if ((b(p + 8) & 0xff) != 0 || (b(p + 9) & 0xff) != checkType)
      corrupt()
    if (b(p + 10) != 'Y' || b(p + 11) != 'Z') corrupt()
    p + 12
  }

  /** The independent compressor: org.tukaani.xz (preset-6 coding
    * parameters, CRC-64 check — the xz defaults) with the DICTIONARY
    * SIZED TO THE INPUT: preset 6's fixed 8 MiB dictionary is
    * allocated per call, and on kilobyte-scale per-record payloads
    * that allocation dominates by ~100× (ScaleProbe read 24 ms/doc
    * before, ~linear-in-bytes after). A dictionary larger than the
    * input buys nothing — real per-record shard writers size it
    * exactly this way. */
  def write(data: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream(data.length / 2 + 128)
    val opts = new org.tukaani.xz.LZMA2Options(6)
    val dict = math.min(1 << 23,
      math.max(4096, Integer.highestOneBit(
        math.max(1, data.length - 1)) << 1))
    opts.setDictSize(dict)
    val os = new org.tukaani.xz.XZOutputStream(bos, opts)
    os.write(data)
    os.close()
    bos.toByteArray
  }
}

/** `xz_read(bytes)` — from-scratch XZ/LZMA2/LZMA decoder; NULL on
  * any malformation. See [[XzCodec]]. */
case class XzRead(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType != BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult
        .TypeCheckFailure("xz_read requires a BINARY input, got " +
          child.dataType.simpleString)
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult
        .TypeCheckSuccess

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def prettyName: String = "xz_read"

  override def nullSafeEval(bytes: Any): Any =
    XzCodec.read(bytes.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b => {
      s"""
         |${ev.value} = graft.functions.XzCodec.read($b);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })

  override protected def withNewChildInternal(
      newChild: Expression): XzRead = copy(child = newChild)
}

/** `xz_write(bytes)` — one XZ stream via the classpath org.tukaani.xz
  * writer (the reference Java implementation). See [[XzCodec]]. */
case class XzWrite(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType != BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult
        .TypeCheckFailure("xz_write requires a BINARY input, got " +
          child.dataType.simpleString)
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult
        .TypeCheckSuccess

  override def dataType: DataType = BinaryType
  override def prettyName: String = "xz_write"

  override def nullSafeEval(bytes: Any): Any =
    XzCodec.write(bytes.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b => {
      s"""
         |${ev.value} = graft.functions.XzCodec.write($b);
       """.stripMargin
    })

  override protected def withNewChildInternal(
      newChild: Expression): XzWrite = copy(child = newChild)
}
