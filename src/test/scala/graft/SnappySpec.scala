package graft

import graft.functions.SnappyRead

/** The from-scratch Snappy raw-block decoder against snappy-java
  * (the independent implementation on Spark's classpath), plus the
  * reject-never-misdecode malformed classes. */
class SnappySpec extends SparkSuite {

  private def payloads: Seq[Array[Byte]] = Seq(
    Array.empty[Byte],
    "a".getBytes,
    ("The quick brown fox jumps over the lazy dog. " * 40).getBytes,
    Array.fill(100000)(0x42.toByte), // max-length overlapping copies
    Array.tabulate(70000)(i => (i * 31 % 251).toByte),
    { val r = new scala.util.Random(42L)
      val a = new Array[Byte](80000); r.nextBytes(a); a }, // literals
    // 4-byte-offset copies need matches past 64 KiB: repeat a block
    // at distance ~70000
    { val r = new scala.util.Random(9L)
      val blk = new Array[Byte](1000); r.nextBytes(blk)
      val mid = new Array[Byte](70000); r.nextBytes(mid)
      blk ++ mid ++ blk })

  test("snappy-java output decodes byte-for-byte (all shapes)") {
    payloads.foreach { p =>
      val dec = SnappyRead.read(SnappyRead.write(p))
      assert(dec != null && java.util.Arrays.equals(dec, p),
        s"round trip failed for ${p.length} bytes")
    }
  }

  test("our decoder agrees with snappy-java's own uncompress") {
    payloads.foreach { p =>
      val c = SnappyRead.write(p)
      val theirs = org.xerial.snappy.Snappy.uncompress(c)
      val ours = SnappyRead.read(c)
      assert(ours != null && java.util.Arrays.equals(ours, theirs))
    }
  }

  test("malformed classes reject as NULL, never misdecode") {
    val good = SnappyRead.write(("payload " * 200).getBytes)
    assert(SnappyRead.read(good.dropRight(1)) == null, "truncated")
    assert(SnappyRead.read(good ++ Array[Byte](0x00)) == null,
      "trailing element overruns declared length")
    // declared-length lie: bump the varint preamble's low bits
    val lied = good.clone()
    lied(0) = (lied(0) + 1).toByte
    assert(SnappyRead.read(lied) == null, "declared length mismatch")
    // zero offset copy: literal 'x' then tag type-2 copy offset 0
    val bad = Array[Byte](2, 0x00, 'x', 0x06, 0, 0)
    assert(SnappyRead.read(bad) == null, "zero offset")
    // offset past produced prefix
    val far = Array[Byte](2, 0x00, 'x', 0x06, 9, 0)
    assert(SnappyRead.read(far) == null, "offset past prefix")
    // varint runs off the end
    assert(SnappyRead.read(Array[Byte](0x80.toByte)) == null,
      "unterminated varint")
    // empty blob: no varint at all
    assert(SnappyRead.read(Array.empty[Byte]) == null, "empty blob")
    // header only, declaring 64 MiB: rejected before the output
    // buffer is allocated (no element can expand past 22x its bytes)
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val tid = Thread.currentThread().getId
    val a0 = mx.getThreadAllocatedBytes(tid)
    val header = SnappyRead.read(Array[Byte](0x80.toByte, 0x80.toByte,
      0x80.toByte, 0x20))
    val allocated = mx.getThreadAllocatedBytes(tid) - a0
    assert(header == null, "header-only declared length")
    assert(allocated < (1L << 20),
      s"header-only input allocated $allocated bytes")
  }

  test("SQL surface: snappy_write/snappy_read round trip") {
    val r = spark.sql(
      "SELECT CAST(snappy_read(snappy_write(" +
        "CAST('hello snappy' AS BINARY))) AS STRING) AS t").head
    assert(r.getString(0) == "hello snappy")
  }
}
