package graft

import org.apache.spark.sql.functions._

import graft.functions.FlacDecode

/** FlacDecode against a REAL test-side FLAC encoder: Rice-coded
  * residuals over fixed and LPC predictors, stereo decorrelation
  * modes, wasted bits, escape partitions, metadata-block skipping,
  * MD5 verification — plus the textbook CRC check vectors that anchor
  * the CRC tables to the public spec (so encoder and decoder can't
  * drift together), and the malformed classes (rejects-never-
  * misdecodes). */
class FlacSpec extends SparkSuite {
  import spark.implicits._

  // ── bit writer (MSB-first, the FLAC packing order) ────────────────
  private final class BitW {
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
    def align(): Unit = while (n != 0) put(0, 1)
    def snapshot: Array[Byte] = {
      require(n == 0, "unaligned snapshot")
      out.toByteArray
    }
  }

  // ── test-side encoder ─────────────────────────────────────────────

  private def zig(v: Long): Long = (v << 1) ^ (v >> 63)

  private def writeRice(w: BitW, vals: Seq[Long], order: Int,
                        blockSize: Int, po: Int, prm: Int,
                        method: Int = 0,
                        escapeParts: Set[Int] = Set.empty,
                        escapeBits: Int = 9): Unit = {
    val pbits = if (method == 0) 4 else 5
    val escape = (1 << pbits) - 1
    w.put(method, 2)
    w.put(po, 4)
    val psize = blockSize >> po
    var idx = 0
    for (k <- 0 until (1 << po)) {
      val cnt = if (k == 0) psize - order else psize
      if (escapeParts(k)) {
        w.put(escape, pbits)
        w.put(escapeBits, 5)
        for (_ <- 0 until cnt) {
          w.put(vals(idx) & ((1L << escapeBits) - 1), escapeBits)
          idx += 1
        }
      } else {
        w.put(prm, pbits)
        for (_ <- 0 until cnt) {
          val u = zig(vals(idx))
          val q = (u >>> prm).toInt
          w.put(1, q + 1) // q zeros then the terminating 1
          if (prm > 0) w.put(u & ((1L << prm) - 1), prm)
          idx += 1
        }
      }
    }
  }

  /** One subframe. kind: "const" | "verbatim" | "fixedN" | "lpc" */
  private def writeSubframe(w: BitW, s: Array[Long], bps: Int,
                            kind: String, wasted: Int = 0,
                            po: Int = 0, prm: Int = 6,
                            method: Int = 0,
                            escapeParts: Set[Int] = Set.empty,
                            escapeBits: Int = 9,
                            lpcCoef: Array[Long] = Array(32L),
                            lpcPrec: Int = 7,
                            lpcShift: Int = 5): Unit = {
    val eff = if (wasted > 0) s.map(_ >> wasted) else s
    val ebps = bps - wasted
    w.put(0, 1) // pad
    // the wasted flag bit precedes the unary count:
    // flag=1 then (wasted-1) zeros and a 1
    def headerW(typ: Int): Unit = {
      w.put(typ, 6)
      if (wasted > 0) { w.put(1, 1); w.put(1, wasted) }
      else w.put(0, 1)
    }
    kind match {
      case "const" =>
        headerW(0)
        w.put(eff(0) & ((1L << ebps) - 1), ebps)
      case "verbatim" =>
        headerW(1)
        eff.foreach(v => w.put(v & ((1L << ebps) - 1), ebps))
      case k if k.startsWith("fixed") =>
        val order = k.stripPrefix("fixed").toInt
        headerW(8 | order)
        for (i <- 0 until order)
          w.put(eff(i) & ((1L << ebps) - 1), ebps)
        val res = (order until eff.length).map { i =>
          order match {
            case 0 => eff(i)
            case 1 => eff(i) - eff(i - 1)
            case 2 => eff(i) - 2 * eff(i - 1) + eff(i - 2)
            case 3 => eff(i) - 3 * eff(i - 1) + 3 * eff(i - 2) -
              eff(i - 3)
            case 4 => eff(i) - 4 * eff(i - 1) + 6 * eff(i - 2) -
              4 * eff(i - 3) + eff(i - 4)
          }
        }
        writeRice(w, res, order, eff.length, po, prm, method,
          escapeParts, escapeBits)
      case "lpc" =>
        val order = lpcCoef.length
        headerW(0x20 | (order - 1))
        for (i <- 0 until order)
          w.put(eff(i) & ((1L << ebps) - 1), ebps)
        w.put(lpcPrec - 1, 4)
        w.put(lpcShift & 0x1f, 5)
        lpcCoef.foreach(c => w.put(c & ((1L << lpcPrec) - 1), lpcPrec))
        val res = (order until eff.length).map { i =>
          var acc = 0L
          for (j <- 0 until order) acc += lpcCoef(j) * eff(i - 1 - j)
          eff(i) - (acc >> lpcShift)
        }
        writeRice(w, res, order, eff.length, po, prm, method,
          escapeParts, escapeBits)
    }
  }

  private def utf8Num(w: BitW, v: Long): Unit = {
    if (v < 0x80) w.put(v, 8)
    else if (v < 0x800) {
      w.put(0xc0 | (v >> 6), 8); w.put(0x80 | (v & 0x3f), 8)
    } else if (v < 0x10000) {
      w.put(0xe0 | (v >> 12), 8)
      w.put(0x80 | ((v >> 6) & 0x3f), 8)
      w.put(0x80 | (v & 0x3f), 8)
    } else {
      w.put(0xf0 | (v >> 18), 8)
      w.put(0x80 | ((v >> 12) & 0x3f), 8)
      w.put(0x80 | ((v >> 6) & 0x3f), 8)
      w.put(0x80 | (v & 0x3f), 8)
    }
  }

  /** One frame over per-channel RAW samples (already decorrelated for
    * asn 8/9/10: pass the channel data as stored, side channels get
    * bps+1). kinds: one per stored channel. */
  private def frame(chans: Seq[Array[Long]], bps: Int, asn: Int,
                    frameIdx: Long, srCode: Int = 9,
                    srExtra: Option[(Long, Int)] = None,
                    ssCode: Int = 4,
                    kinds: Seq[String] = null,
                    wasted: Int = 0, po: Int = 0, prm: Int = 6,
                    method: Int = 0,
                    escapeParts: Set[Int] = Set.empty,
                    escapeBits: Int = 9,
                    lpcCoef: Array[Long] = Array(32L),
                    lpcPrec: Int = 7, lpcShift: Int = 5,
                    corruptSubframeType: Boolean = false)
      : Array[Byte] = {
    val blockSize = chans.head.length
    val w = new BitW
    w.put(0x3ffe, 14)
    w.put(0, 1)
    w.put(0, 1) // fixed blocking strategy
    val bsCode = blockSize match {
      case 192 => 1
      case 576 => 2
      case 4096 => 12
      case n if n <= 256 => 6
      case _ => 7
    }
    w.put(bsCode, 4)
    w.put(srCode, 4)
    w.put(asn, 4)
    w.put(ssCode, 3)
    w.put(0, 1)
    utf8Num(w, frameIdx)
    if (bsCode == 6) w.put(blockSize - 1, 8)
    if (bsCode == 7) w.put(blockSize - 1, 16)
    srExtra.foreach { case (v, bits) => w.put(v, bits) }
    val hdr = w.snapshot
    w.put(FlacDecode.crc8(hdr, 0, hdr.length), 8)
    val ks = if (kinds == null) chans.map(_ => "verbatim") else kinds
    for ((c, i) <- chans.zipWithIndex) {
      val side = (asn == 8 && i == 1) || (asn == 9 && i == 0) ||
        (asn == 10 && i == 1)
      if (corruptSubframeType && i == 0) {
        w.put(0, 1); w.put(2, 6); w.put(0, 1) // reserved type 000010
        c.foreach(v => w.put(v & 0xffff, 16))
      } else
        writeSubframe(w, c, if (side) bps + 1 else bps, ks(i), wasted,
          po, prm, method, escapeParts, escapeBits, lpcCoef, lpcPrec,
          lpcShift)
    }
    w.align()
    val body = w.snapshot
    w.put(FlacDecode.crc16(body, 0, body.length), 16)
    w.snapshot
  }

  /** Assemble a stream; `output` = the DECODED (post-decorrelation)
    * samples used for MD5/total accounting. */
  private def stream(frames: Seq[Array[Byte]],
                     output: Seq[Array[Array[Long]]], rate: Int,
                     bps: Int, declareMd5: Boolean = true,
                     totalOverride: Option[Long] = None,
                     extraMetaBlock: Boolean = false): Array[Byte] = {
    val channels = output.head.length
    val total = totalOverride.getOrElse(
      output.map(_.head.length.toLong).sum)
    val md5 =
      if (!declareMd5) new Array[Byte](16)
      else {
        val dig = java.security.MessageDigest.getInstance("MD5")
        val bytesPer = (bps + 7) >> 3
        for (chans <- output; i <- chans.head.indices;
             ch <- 0 until channels; k <- 0 until bytesPer)
          dig.update(((chans(ch)(i) >> (8 * k)) & 0xff).toByte)
        dig.digest()
      }
    val w = new BitW
    w.put(4096, 16) // min blocksize
    w.put(4096, 16) // max blocksize
    w.put(0, 24)
    w.put(0, 24)
    w.put(rate, 20)
    w.put(channels - 1, 3)
    w.put(bps - 1, 5)
    w.put(total, 36)
    val si = w.snapshot ++ md5
    val head = "fLaC".getBytes("US-ASCII") ++
      (if (extraMetaBlock)
        Array[Byte](0x00, 0, 0, 34) ++ si ++
          Array[Byte](0x04, 0, 0, 5) ++ "vcmt!".getBytes ++
          Array[Byte](0x81.toByte, 0, 0, 3) ++ Array[Byte](0, 0, 0)
      else Array[Byte](0x80.toByte, 0, 0, 34) ++ si)
    head ++ frames.flatten
  }

  private def statsOf(b: Array[Byte]): Array[Long] =
    FlacDecode.decode(b).toLongArray()

  private val rnd = new scala.util.Random(42)
  private def walk(n: Int, scale: Int): Array[Long] = {
    var v = 0L
    Array.fill(n) { v += rnd.nextInt(2 * scale + 1) - scale
      v = math.max(-30000, math.min(30000, v)); v }
  }

  test("CRC tables match the public check vectors") {
    val m = "123456789".getBytes("US-ASCII")
    assert(FlacDecode.crc8(m, 0, m.length) == 0xf4)
    assert(FlacDecode.crc16(m, 0, m.length) == 0xfee8)
  }

  test("mono 16-bit: verbatim + fixed orders 0-4 round-trip exactly, MD5 verified") {
    val fs = Seq.fill(6)(walk(64, 300))
    val kinds = Seq("verbatim", "fixed0", "fixed1", "fixed2", "fixed3",
      "fixed4")
    val frames = fs.zipWithIndex.map { case (s, i) =>
      frame(Seq(s), 16, asn = 0, frameIdx = i.toLong,
        kinds = Seq(kinds(i)), prm = 9)
    }
    val out = fs.map(s => Array(s))
    val b = stream(frames, out, rate = 44100, bps = 16)
    val dec = FlacDecode.decodeAll(b)
    assert(dec.length == 6)
    for ((f, i) <- dec.zipWithIndex)
      assert(f(0).sameElements(fs(i)), s"frame $i")
    val st = statsOf(b)
    assert(st(0) == 1 && st(1) == 6 && st(2) == 64 * 6 && st(3) == 1 &&
      st(4) == 16 && st(5) == 44100)
    assert(st(6) == fs.head.head && st(8) == fs.last.last)
    assert(st(7) == fs.map(_.sum).sum)
  }

  test("LPC subframe (order 8, quantized coefficients) round-trips") {
    val s = walk(192, 500)
    val coef = Array[Long](60, -25, 13, -7, 4, -2, 1, 1)
    val f = frame(Seq(s), 16, asn = 0, frameIdx = 0L,
      kinds = Seq("lpc"), lpcCoef = coef, lpcPrec = 8, lpcShift = 6,
      prm = 10)
    val b = stream(Seq(f), Seq(Array(s)), 44100, 16)
    assert(FlacDecode.decodeAll(b)(0)(0).sameElements(s))
  }

  test("stereo decorrelation: left/side, right/side, mid/side reconstruct exactly") {
    val l = walk(64, 400)
    val r = l.zipWithIndex.map { case (v, i) => v + (i % 7) - 3 }
    for (asn <- Seq(8, 9, 10)) {
      val stored: Seq[Array[Long]] = asn match {
        case 8 => Seq(l, l.zip(r).map { case (a, c) => a - c })
        case 9 => Seq(l.zip(r).map { case (a, c) => a - c }, r)
        case 10 => Seq(
          l.zip(r).map { case (a, c) => (a + c) >> 1 },
          l.zip(r).map { case (a, c) => a - c })
      }
      val f = frame(stored, 16, asn, 0L,
        kinds = Seq("verbatim", "verbatim"), prm = 9)
      val b = stream(Seq(f), Seq(Array(l, r)), 44100, 16)
      val dec = FlacDecode.decodeAll(b)
      assert(dec(0)(0).sameElements(l), s"asn=$asn left")
      assert(dec(0)(1).sameElements(r), s"asn=$asn right")
    }
  }

  test("wasted bits: low-zero samples encode at reduced width and shift back") {
    val s = walk(64, 120).map(_ << 3) // 3 wasted bits
    val f = frame(Seq(s), 16, asn = 0, frameIdx = 0L,
      kinds = Seq("fixed1"), wasted = 3, prm = 7)
    val b = stream(Seq(f), Seq(Array(s)), 44100, 16)
    assert(FlacDecode.decodeAll(b)(0)(0).sameElements(s))
  }

  test("rice2 method, partition order > 0, and escape partitions") {
    val s = walk(64, 200)
    // po=2: 4 partitions of 16; escape the third with 16-bit raw
    val f = frame(Seq(s), 16, asn = 0, frameIdx = 0L,
      kinds = Seq("fixed0"), po = 2, prm = 9, method = 1,
      escapeParts = Set(2), escapeBits = 16)
    val b = stream(Seq(f), Seq(Array(s)), 44100, 16)
    assert(FlacDecode.decodeAll(b)(0)(0).sameElements(s))
  }

  test("constant subframe + 8-bit bps (the gate's fixture shape)") {
    val v = -77L
    val s = Array.fill(192)(v)
    val f = frame(Seq(s), 8, asn = 0, frameIdx = 0L, ssCode = 1,
      kinds = Seq("const"))
    val b = stream(Seq(f), Seq(Array(s)), 44100, 8)
    val st = statsOf(b)
    assert(st(0) == 1 && st(2) == 192 && st(4) == 8)
    assert(st(6) == v && st(7) == 192 * v && st(8) == v)
  }

  test("metadata blocks (VORBIS_COMMENT, PADDING) are skipped") {
    val s = walk(64, 100)
    val f = frame(Seq(s), 16, asn = 0, frameIdx = 0L, prm = 9)
    val b = stream(Seq(f), Seq(Array(s)), 44100, 16,
      extraMetaBlock = true)
    assert(FlacDecode.decodeAll(b)(0)(0).sameElements(s))
  }

  test("sample-rate and sample-size from STREAMINFO or end-of-header forms") {
    val s = walk(64, 100)
    // srCode=0 (from STREAMINFO), ssCode=0 (from STREAMINFO)
    val f0 = frame(Seq(s), 16, asn = 0, frameIdx = 0L, srCode = 0,
      ssCode = 0, prm = 9)
    val b0 = stream(Seq(f0), Seq(Array(s)), 44100, 16)
    assert(statsOf(b0)(0) == 1)
    // srCode=13: literal 16-bit Hz in the header
    val f1 = frame(Seq(s), 16, asn = 0, frameIdx = 0L, srCode = 13,
      srExtra = Some((12345L, 16)), prm = 9)
    val b1 = stream(Seq(f1), Seq(Array(s)), 12345, 16)
    val st1 = statsOf(b1)
    assert(st1(0) == 1 && st1(5) == 12345)
  }

  test("multi-byte coded frame numbers parse") {
    val fs = (0 until 3).map(_ => walk(64, 100))
    // frame numbers 200 (2-byte UTF-8 form) and 70000 (3-byte)
    val idxs = Seq(0L, 200L, 70000L)
    val frames = fs.zip(idxs).map { case (s, i) =>
      frame(Seq(s), 16, asn = 0, frameIdx = i, prm = 9)
    }
    val b = stream(frames, fs.map(s => Array(s)), 44100, 16)
    assert(statsOf(b)(1) == 3)
  }

  test("malformed classes: ok=0, never a throw") {
    val s = walk(64, 100)
    val f = frame(Seq(s), 16, asn = 0, frameIdx = 0L, prm = 9)
    val good = stream(Seq(f), Seq(Array(s)), 44100, 16)
    assert(statsOf(good)(0) == 1)
    def flip(pos: Int): Array[Byte] = {
      val c = good.clone(); c(pos) = (c(pos) ^ 0x01).toByte; c
    }
    // bad magic
    assert(statsOf(flip(0))(0) == 0)
    // STREAMINFO md5 corruption (md5 = bytes 26..41): MD5 check fires
    assert(statsOf(flip(36))(0) == 0)
    // frame sync corruption (first frame starts at byte 42)
    assert(statsOf(flip(42))(0) == 0)
    // CRC-16 corruption (last two bytes of the stream)
    assert(statsOf(flip(good.length - 1))(0) == 0)
    // truncation
    assert(statsOf(good.dropRight(3))(0) == 0)
    // trailing garbage = lost sync
    assert(statsOf(good ++ Array[Byte](0x55, 0x55))(0) == 0)
    // empty / tiny
    assert(statsOf(Array.emptyByteArray)(0) == 0)
    assert(statsOf("fLaC".getBytes)(0) == 0)
    // declared total mismatch
    val badTotal = stream(Seq(f), Seq(Array(s)), 44100, 16,
      totalOverride = Some(65L))
    assert(statsOf(badTotal)(0) == 0)
    // reserved subframe type
    val fBad = frame(Seq(s), 16, asn = 0, frameIdx = 0L,
      corruptSubframeType = true)
    val bBad = stream(Seq(fBad), Seq(Array(s)), 44100, 16,
      declareMd5 = false)
    assert(statsOf(bBad)(0) == 0)
    // CRC-8 corruption: flip a header byte INSIDE the first frame
    // (the utf8 frame-number byte at offset +4 of the frame)
    assert(statsOf(flip(42 + 4))(0) == 0)
  }

  test("SQL surface: flac_decode over a DataFrame binary column") {
    val s = walk(64, 100)
    val f = frame(Seq(s), 16, asn = 0, frameIdx = 0L, prm = 9)
    val b = stream(Seq(f), Seq(Array(s)), 44100, 16)
    val row = Seq(Tuple1(b)).toDF("b")
      .select(expr("flac_decode(b)").as("d"))
      .select(element_at($"d", 1), element_at($"d", 3),
        element_at($"d", 8))
      .head()
    assert(row.getLong(0) == 1L && row.getLong(1) == 64L &&
      row.getLong(2) == s.sum)
  }
}
