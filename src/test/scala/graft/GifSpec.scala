package graft

import org.apache.spark.sql.functions._

/** GifDecode is gated (mm_decode_gif) on the harness's literal-coded
  * LZW stream; THIS spec is where the full decoder earns the name —
  * a real test-side LZW compressor (dictionary hits, KwKwK runs,
  * width growth past 3 bits, mid-stream CLEAR) feeds it, plus the
  * malformed classes (every one must yield fmt_ok=0, never a throw).
  */
class GifSpec extends SparkSuite {
  import spark.implicits._

  // ── test-side GIF builder with a REAL LZW compressor ─────────────

  /** GIF-flavor LZW encode (variable width, LSB-first), with an
    * optional forced CLEAR at pixel index `clearAt`. */
  private def lzwEncode(px: Array[Int], minCode: Int,
                        clearAt: Int = -1): Array[Byte] = {
    val clear = 1 << minCode; val end = clear + 1
    val out = new java.io.ByteArrayOutputStream()
    var acc = 0L; var accBits = 0
    var width = minCode + 1
    var next = end + 2 // code that the NEXT added entry will get + 1
    var dict = collection.mutable.HashMap.empty[(Int, Int), Int]
    def emit(code: Int): Unit = {
      acc |= code.toLong << accBits; accBits += width
      while (accBits >= 8) {
        out.write((acc & 0xff).toInt); acc >>>= 8; accBits -= 8
      }
    }
    def addEntry(prefixCode: Int, k: Int): Unit = if (next <= 4096) {
      dict((prefixCode, k)) = next - 1
      // decoder holds one fewer entry; it bumps its read width when
      // ITS next hits 1<<width — that is our next == (1<<width)+1
      if (next == (1 << width) + 1 && width < 12) width += 1
      next += 1
    }
    emit(clear)
    var cur = px(0)
    var i = 1
    while (i < px.length) {
      if (i == clearAt) {
        emit(cur); emit(clear)
        dict = collection.mutable.HashMap.empty
        width = minCode + 1; next = end + 2
        cur = px(i)
      } else {
        val k = px(i)
        dict.get((cur, k)) match {
          case Some(c) => cur = c
          case None => emit(cur); addEntry(cur, k); cur = k
        }
      }
      i += 1
    }
    emit(cur); emit(end)
    if (accBits > 0) out.write((acc & 0xff).toInt)
    out.toByteArray
  }

  /** Full GIF container around the compressed stream. */
  private def gif(px: Array[Int], w: Int, h: Int, minCode: Int,
                  gctBits: Int, clearAt: Int = -1,
                  interlace: Boolean = false,
                  trailer: Boolean = true): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def u16(v: Int): Unit = { out.write(v & 0xff); out.write(v >> 8) }
    out.write("GIF89a".getBytes)
    u16(w); u16(h)
    out.write(0x80 | gctBits); out.write(0); out.write(0)
    val gctN = 1 << (gctBits + 1)
    for (i <- 0 until gctN) {
      out.write(i % 256); out.write(255 - i % 256); out.write(i * 3 % 256)
    }
    out.write(0x2c); u16(0); u16(0); u16(w); u16(h)
    out.write(if (interlace) 0x40 else 0x00)
    out.write(minCode)
    val data = lzwEncode(px, minCode, clearAt)
    var off = 0
    while (off < data.length) {
      val n = math.min(255, data.length - off)
      out.write(n); out.write(data, off, n); off += n
    }
    out.write(0)
    if (trailer) out.write(0x3b)
    out.toByteArray
  }

  private def decode(b: Array[Byte]): Array[Long] = {
    graft.functions.GifDecode.decode(b).toLongArray()
  }

  private def px(seed: Int, n: Int, colors: Int): Array[Int] =
    Array.tabulate(n)(i => math.abs((seed * 31 + i * 2654435761L)
      .toInt % colors))

  test("round-trips real LZW streams with dictionary hits and width growth") {
    // 80x50 @ 4 colors: ~2000 emissions push the code width well past
    // the initial 3 bits and the dictionary into the hundreds
    for (seed <- 1 to 5) {
      val p = px(seed, 80 * 50, 4)
      val d = decode(gif(p, 80, 50, minCode = 2, gctBits = 1))
      assert(d(0) === 1L, s"seed $seed")
      assert(d(1) === 80L && d(2) === 50L && d(3) === 4L)
      assert(d(5) === 4000L)
      assert(d(6) === p.map(_.toLong).sum)
      assert(d(7) === p.head.toLong && d(8) === p.last.toLong)
    }
  }

  test("KwKwK: uniform and aaab-run images decode exactly") {
    val run = Array.fill(500)(3) // pure run: encoder emits cScc pattern
    val d = decode(gif(run, 25, 20, minCode = 2, gctBits = 1))
    assert(d(0) === 1L && d(6) === 1500L)
    val aab = Array.tabulate(600)(i => if (i % 3 == 2) 1 else 0)
    val d2 = decode(gif(aab, 30, 20, minCode = 2, gctBits = 1))
    assert(d2(0) === 1L && d2(6) === 200L)
  }

  test("mid-stream CLEAR resets the dictionary and keeps decoding") {
    val p = px(9, 1200, 4)
    val d = decode(gif(p, 40, 30, minCode = 2, gctBits = 1, clearAt = 600))
    assert(d(0) === 1L)
    assert(d(6) === p.map(_.toLong).sum)
  }

  test("8-bit palette path and GIF87a header both decode") {
    val p = px(4, 96, 200)
    val g = gif(p, 12, 8, minCode = 8, gctBits = 7)
    assert(decode(g)(0) === 1L)
    val g87 = g.clone(); g87(4) = '7'
    assert(decode(g87)(0) === 1L)
    assert(decode(g87)(6) === p.map(_.toLong).sum)
  }

  test("malformed inputs: fmt_ok=0, never a throw") {
    val good = gif(px(2, 200, 4), 20, 10, minCode = 2, gctBits = 1)
    def bad(b: Array[Byte]): Unit = assert(decode(b)(0) === 0L)
    // 1 bad signature
    bad { val b = good.clone(); b(0) = 'J'; b }
    // 2 truncated mid-color-table / mid-data
    bad(good.take(10)); bad(good.take(good.length / 2))
    // 3 interlace out of scope
    bad(gif(px(2, 200, 4), 20, 10, 2, 1, interlace = true))
    // 4 missing trailer
    bad(gif(px(2, 200, 4), 20, 10, 2, 1, trailer = false))
    // 5 sub-block length overruns the buffer
    bad { val b = good.clone()
          // first sub-block length byte sits right after minCode
          val i = 6 + 7 + 4 * 3 + 10 + 1
          b(i) = 0xff.toByte; b.take(i + 20) }
    // 6 out-of-range LZW code: max 12-bit garbage mid-stream
    bad { val b = good.clone(); val i = 6 + 7 + 4 * 3 + 10 + 1 + 1
          b(i + 2) = 0xff.toByte; b(i + 3) = 0xff.toByte; b }
    // 7 pixel count mismatch: descriptor claims one extra row
    bad { val b = good.clone(); b(6 + 7 + 4 * 3 + 7) = 11; b }
    // 8 pixel index >= palette size (2-entry table, pixel value 3)
    bad(gif(Array.fill(100)(3), 10, 10, minCode = 2, gctBits = 0))
    // 9 empty input
    bad(Array.emptyByteArray)
  }

  /** Multi-frame container: same header/GCT, then per frame an image
    * descriptor (left=f, top=2f) + really-compressed LZW data. */
  private def animated(frames: Seq[Array[Int]], w: Int, h: Int,
                       minCode: Int, gctBits: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def u16(v: Int): Unit = { out.write(v & 0xff); out.write(v >> 8) }
    out.write("GIF89a".getBytes)
    u16(w); u16(h)
    out.write(0x80 | gctBits); out.write(0); out.write(0)
    for (i <- 0 until (1 << (gctBits + 1))) {
      out.write(i % 256); out.write(255 - i % 256); out.write(i * 3 % 256)
    }
    frames.zipWithIndex.foreach { case (p, f) =>
      out.write(0x2c); u16(f); u16(2 * f); u16(w); u16(h); out.write(0)
      out.write(minCode)
      val data = lzwEncode(p, minCode)
      var off = 0
      while (off < data.length) {
        val n = math.min(255, data.length - off)
        out.write(n); out.write(data, off, n); off += n
      }
      out.write(0)
    }
    out.write(0x3b)
    out.toByteArray
  }

  test("gif_frames walks every frame of a really-compressed animation") {
    val fs = (1 to 3).map(seed => px(seed, 40 * 25, 4))
    val b = animated(fs, 40, 25, minCode = 2, gctBits = 1)
    val arr = graft.functions.GifDecode.frames(b)
    assert(arr != null && arr.numElements() === 3)
    for (f <- 0 until 3) {
      val r = arr.getStruct(f, 9)
      assert(r.getLong(0) === f.toLong)          // frame
      assert(r.getLong(1) === f.toLong)          // left
      assert(r.getLong(2) === 2L * f)            // top
      assert(r.getLong(5) === 1000L)             // n_px
      assert(r.getLong(6) === fs(f).map(_.toLong).sum)
    }
    // single-frame decode still reads only the first image
    val first = decode(b)
    assert(first(0) === 1L && first(6) === fs.head.map(_.toLong).sum)
  }

  test("gif_frames is null on malformation, not partial") {
    val fs = (1 to 2).map(seed => px(seed, 100, 4))
    val b = animated(fs, 10, 10, minCode = 2, gctBits = 1)
    assert(graft.functions.GifDecode.frames(b.take(b.length - 5)) == null)
    assert(graft.functions.GifDecode.frames(Array.emptyByteArray) == null)
    val viaSql = Seq(Tuple1(b.take(b.length - 5))).toDF("b")
      .select(expr("gif_frames(b)")).head
    assert(viaSql.isNullAt(0))
  }

  test("expression registers and matches the object decode in SQL") {
    val g = gif(px(7, 400, 4), 20, 20, minCode = 2, gctBits = 1)
    val viaSql = Seq(Tuple1(g)).toDF("b")
      .select(expr("gif_decode(b)")).head.getSeq[Long](0)
    assert(viaSql.toArray.sameElements(decode(g)))
  }
}
