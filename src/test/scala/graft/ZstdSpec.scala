package graft

import com.github.luben.zstd.{Zstd, ZstdCompressCtx, ZstdOutputStream}

import graft.functions.ZstdCodec

/** The from-scratch RFC 8878 decoder against zstd-jni (the reference
  * implementation on Spark's classpath): XXH64 cross-anchor, every
  * compression level's entropy shapes, multi-block streaming frames
  * (repeat tables + treeless literals), frame-header variants,
  * concatenated/skippable frames, and the malformed classes. */
class ZstdSpec extends SparkSuite {

  private def jXxh64(b: Array[Byte], seed: Long): Long =
    net.jpountz.xxhash.XXHashFactory.fastestJavaInstance()
      .hash64().hash(b, 0, b.length, seed)

  private def compress(p: Array[Byte], level: Int,
                       checksum: Boolean = true): Array[Byte] = {
    val ctx = new ZstdCompressCtx()
    try {
      ctx.setLevel(level)
      ctx.setChecksum(checksum)
      ctx.compress(p)
    } finally ctx.close()
  }

  private def payloads: Seq[Array[Byte]] = Seq(
    Array.empty[Byte],
    "a".getBytes,
    "abcabcabcabc".getBytes,
    ("The quick brown fox jumps over the lazy dog. " * 50).getBytes,
    Array.fill(10000)(0x42.toByte),
    Array.tabulate(5000)(i => (i % 7).toByte), // tiny alphabet: huffman
    { val r = new scala.util.Random(42L)
      val a = new Array[Byte](9000); r.nextBytes(a); a }, // raw literals
    { // repeats at long distance: offset codes with many extra bits
      val r = new scala.util.Random(5L)
      val blk = new Array[Byte](3000); r.nextBytes(blk)
      val mid = new Array[Byte](50000)
      (0 until mid.length).foreach(i => mid(i) = (i % 11).toByte)
      blk ++ mid ++ blk },
    // natural-ish text with skewed symbol stats
    (("sphinx of black quartz judge my vow " * 300) +
      ("pack my box with five dozen liquor jugs " * 300)).getBytes)

  test("from-scratch XXH64 matches lz4-java's") {
    val r = new scala.util.Random(7L)
    (0 until 300).foreach { _ =>
      val b = new Array[Byte](r.nextInt(200))
      r.nextBytes(b)
      val seed = r.nextLong()
      assert(ZstdCodec.xxh64(b, 0, b.length, seed) == jXxh64(b, seed))
    }
    (0 until 30).foreach { _ =>
      val b = new Array[Byte](1000 + r.nextInt(200000))
      r.nextBytes(b)
      assert(ZstdCodec.xxh64(b, 0, b.length) == jXxh64(b, 0L))
    }
  }

  test("zstd-jni frames decode byte-for-byte at levels 1/3/9/19") {
    Seq(1, 3, 9, 19).foreach { level =>
      payloads.foreach { p =>
        val dec = ZstdCodec.read(compress(p, level))
        assert(dec != null && java.util.Arrays.equals(dec, p),
          s"level $level, ${p.length} bytes")
      }
    }
  }

  test("checksum-off and content-size-off header variants decode") {
    val p = ("header variants " * 200).getBytes
    val noCk = compress(p, 3, checksum = false)
    assert(java.util.Arrays.equals(ZstdCodec.read(noCk), p))
    val ctx = new ZstdCompressCtx()
    val noSize = try {
      ctx.setLevel(3)
      ctx.setContentSize(false)
      ctx.compress(p)
    } finally ctx.close()
    assert(java.util.Arrays.equals(ZstdCodec.read(noSize), p))
  }

  test("multi-block streaming frames decode (repeat tables, " +
    "treeless literals, cross-block matches)") {
    // > 128 KiB through ZstdOutputStream → multiple compressed
    // blocks in one frame; later blocks reuse entropy tables and
    // back-reference across block boundaries
    val r = new scala.util.Random(13L)
    val sb = new StringBuilder
    while (sb.length < 700000) {
      sb.append("common phrase number " + r.nextInt(50) + " and ")
      if (r.nextInt(10) == 0) sb.append(sb.substring(
        math.max(0, sb.length - 5000), math.max(0, sb.length - 4000)))
    }
    val p = sb.toString.getBytes
    Seq(1, 3, 19).foreach { level =>
      val bos = new java.io.ByteArrayOutputStream()
      val zs = new ZstdOutputStream(bos, level)
      zs.write(p)
      zs.close()
      val dec = ZstdCodec.read(bos.toByteArray)
      assert(dec != null && java.util.Arrays.equals(dec, p),
        s"streaming level $level")
    }
  }

  test("concatenated frames decode in order; skippable frames skip") {
    val a = "first frame ".getBytes
    val b = "second frame".getBytes
    val skip = Array[Byte](0x52, 0x2a, 0x4d, 0x18, 3, 0, 0, 0, 9, 9, 9)
    val cat = compress(a, 3) ++ skip ++ compress(b, 3)
    val dec = ZstdCodec.read(cat)
    assert(dec != null && java.util.Arrays.equals(dec, a ++ b))
  }

  test("random-seed property: decode(compress(x)) == x across " +
    "sizes and levels") {
    val r = new scala.util.Random(20260816L)
    (0 until 60).foreach { i =>
      val n = r.nextInt(30000)
      val p = new Array[Byte](n)
      // mixed compressibility: runs, repeats, noise
      var j = 0
      while (j < n) {
        r.nextInt(3) match {
          case 0 =>
            val run = math.min(n - j, 1 + r.nextInt(100))
            java.util.Arrays.fill(p, j, j + run, r.nextInt(256).toByte)
            j += run
          case 1 if j > 200 =>
            val back = 1 + r.nextInt(math.min(j, 2000))
            val len = math.min(n - j, 1 + r.nextInt(300))
            var k = 0
            while (k < len) { p(j + k) = p(j - back + k); k += 1 }
            j += len
          case _ =>
            p(j) = r.nextInt(256).toByte
            j += 1
        }
      }
      val level = Seq(1, 3, 6, 12, 19)(i % 5)
      val dec = ZstdCodec.read(compress(p, level))
      assert(dec != null && java.util.Arrays.equals(dec, p),
        s"seeded payload $i (${p.length} bytes, level $level)")
    }
  }

  test("malformed classes reject as NULL, never throw or misdecode") {
    val p = ("malformation target " * 300).getBytes
    val good = compress(p, 3)
    def flip(i: Int): Array[Byte] = {
      val c = good.clone()
      c(i) = (c(i) ^ 0x40).toByte
      c
    }
    assert(ZstdCodec.read(flip(0)) == null, "bad magic")
    assert(ZstdCodec.read(good.dropRight(1)) == null,
      "truncated checksum")
    assert(ZstdCodec.read(good.take(20)) == null, "truncated block")
    assert(ZstdCodec.read(good ++ Array[Byte](1)) == null,
      "trailing garbage")
    assert(ZstdCodec.read(flip(good.length - 2)) == null,
      "content checksum flip")
    // every single-bit corruption must yield NULL or the original
    // (a flip in an unverified gap may be unreachable), never a
    // DIFFERENT decode or a throw
    val r = new scala.util.Random(3L)
    (0 until 300).foreach { _ =>
      val i = r.nextInt(good.length)
      val c = good.clone()
      c(i) = (c(i) ^ (1 << r.nextInt(8))).toByte
      val dec = ZstdCodec.read(c)
      assert(dec == null || java.util.Arrays.equals(dec, p),
        s"byte $i misdecoded")
    }
  }

  test("dictionary-compressed frames are rejected per contract") {
    val dict = ("dictionary sample content " * 20).getBytes
    val ctx = new ZstdCompressCtx()
    val framed = try {
      ctx.setLevel(3)
      ctx.loadDict(dict)
      ctx.compress("dictionary sample content plus tail".getBytes)
    } finally ctx.close()
    assert(ZstdCodec.read(framed) == null)
  }

  test("SQL surface: zstd_write/zstd_read round trip and NULL " +
    "on malformation") {
    val r = spark.sql(
      "SELECT CAST(zstd_read(zstd_write(CAST('hello zstd' AS " +
        "BINARY))) AS STRING) AS t, zstd_read(X'00112233') AS bad")
      .head
    assert(r.getString(0) == "hello zstd")
    assert(r.isNullAt(1))
  }
}
