package graft

import graft.functions.XzCodec

/** The from-scratch XZ/LZMA2/LZMA decoder against the two foreign
  * writers on Spark's classpath — org.tukaani.xz (the reference Java
  * implementation) and the Hadoop-shaded commons-compress — across
  * presets, check types, uncompressed chunks, multi-block streams,
  * and the malformed classes. */
class XzSpec extends SparkSuite {

  private def tukaani(p: Array[Byte], preset: Int,
                      check: Int = org.tukaani.xz.XZ.CHECK_CRC64)
      : Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val os = new org.tukaani.xz.XZOutputStream(bos,
      new org.tukaani.xz.LZMA2Options(preset), check)
    os.write(p)
    os.close()
    bos.toByteArray
  }

  private def payloads: Seq[Array[Byte]] = Seq(
    Array.empty[Byte],
    "a".getBytes,
    "abcabcabcabc".getBytes,
    ("The quick brown fox jumps over the lazy dog. " * 60).getBytes,
    Array.fill(20000)(0x42.toByte),
    Array.tabulate(8000)(i => (i % 7).toByte),
    { val r = new scala.util.Random(42L)
      val a = new Array[Byte](9000); r.nextBytes(a); a },
    { val r = new scala.util.Random(5L)
      val blk = new Array[Byte](3000); r.nextBytes(blk)
      val mid = Array.tabulate(60000)(i => (i % 11).toByte)
      blk ++ mid ++ blk })

  test("tukaani-xz streams decode byte-for-byte at presets 0/1/6/9") {
    Seq(0, 1, 6, 9).foreach { preset =>
      payloads.foreach { p =>
        val dec = XzCodec.read(tukaani(p, preset))
        assert(dec != null && java.util.Arrays.equals(dec, p),
          s"preset $preset, ${p.length} bytes")
      }
    }
  }

  test("all four check types verify: none, CRC32, CRC64, SHA-256") {
    val p = ("check type coverage " * 100).getBytes
    Seq(org.tukaani.xz.XZ.CHECK_NONE, org.tukaani.xz.XZ.CHECK_CRC32,
      org.tukaani.xz.XZ.CHECK_CRC64, org.tukaani.xz.XZ.CHECK_SHA256)
      .foreach { check =>
        val dec = XzCodec.read(tukaani(p, 3, check))
        assert(dec != null && java.util.Arrays.equals(dec, p),
          s"check $check")
      }
  }

  test("commons-compress XZ output decodes (second foreign writer)") {
    val p = ("another implementation entirely " * 80).getBytes
    val bos = new java.io.ByteArrayOutputStream()
    val os = new org.apache.commons.compress.compressors.xz
      .XZCompressorOutputStream(bos)
    os.write(p)
    os.close()
    val dec = XzCodec.read(bos.toByteArray)
    assert(dec != null && java.util.Arrays.equals(dec, p))
  }

  test("uncompressed-chunk path: preset 0 on incompressible data") {
    // random data at low preset produces uncompressed LZMA2 chunks
    val r = new scala.util.Random(11L)
    val p = new Array[Byte](200000)
    r.nextBytes(p)
    Seq(0, 6).foreach { preset =>
      val dec = XzCodec.read(tukaani(p, preset))
      assert(dec != null && java.util.Arrays.equals(dec, p))
    }
  }

  test("multi-block streams and concatenated streams decode in " +
    "order") {
    val a = ("block one " * 50).getBytes
    val b = ("block two " * 50).getBytes
    // multi-block: force a block boundary via XZOutputStream.endBlock
    val bos = new java.io.ByteArrayOutputStream()
    val os = new org.tukaani.xz.XZOutputStream(bos,
      new org.tukaani.xz.LZMA2Options(6))
    os.write(a)
    os.endBlock()
    os.write(b)
    os.close()
    val dec = XzCodec.read(bos.toByteArray)
    assert(dec != null && java.util.Arrays.equals(dec, a ++ b))
    // concatenated streams with 4-byte stream padding between
    val cat = tukaani(a, 6) ++ Array[Byte](0, 0, 0, 0) ++
      tukaani(b, 6)
    val dec2 = XzCodec.read(cat)
    assert(dec2 != null && java.util.Arrays.equals(dec2, a ++ b))
  }

  test("flush() chunk boundaries decode (LZMA2 state-reset modes " +
    "mid-stream)") {
    // XZOutputStream.flush() ends the current LZMA2 chunk; the next
    // chunk carries a state reset — exercises reset modes 1/2 and
    // multiple chunks per block
    val bos = new java.io.ByteArrayOutputStream()
    val os = new org.tukaani.xz.XZOutputStream(bos,
      new org.tukaani.xz.LZMA2Options(6))
    val parts = Seq("first part with repetition repetition ",
      "second part second part ", "third ", "fourth and final part")
      .map(_ * 30)
    parts.foreach { s =>
      os.write(s.getBytes)
      os.flush()
    }
    os.close()
    val dec = XzCodec.read(bos.toByteArray)
    assert(dec != null &&
      java.util.Arrays.equals(dec, parts.mkString.getBytes))
  }

  test("random-seed property: decode(compress(x)) == x") {
    val r = new scala.util.Random(20260816L)
    (0 until 30).foreach { i =>
      val n = r.nextInt(30000)
      val p = new Array[Byte](n)
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
      val preset = Seq(0, 2, 6, 9)(i % 4)
      val dec = XzCodec.read(tukaani(p, preset))
      assert(dec != null && java.util.Arrays.equals(dec, p),
        s"seeded payload $i (${p.length} bytes, preset $preset)")
    }
  }

  test("malformed classes reject as NULL, never throw or misdecode") {
    val p = ("malformation target " * 200).getBytes
    val good = XzCodec.write(p)
    assert(XzCodec.read(good.take(20)) == null, "truncated")
    assert(XzCodec.read(good.dropRight(1)) == null,
      "clipped footer magic")
    val badMagic = good.clone()
    badMagic(0) = 0x00
    assert(XzCodec.read(badMagic) == null, "bad magic")
    val r = new scala.util.Random(3L)
    (0 until 200).foreach { _ =>
      val i = r.nextInt(good.length)
      val c = good.clone()
      c(i) = (c(i) ^ (1 << r.nextInt(8))).toByte
      val dec = XzCodec.read(c)
      assert(dec == null || java.util.Arrays.equals(dec, p),
        s"byte $i misdecoded")
    }
  }

  test("our crc64 matches the known ECMA check vector") {
    // CRC-64/XZ of "123456789" = 0x995DC9BBDF1939FA
    val v = XzCodec.crc64("123456789".getBytes, 0, 9)
    assert(v == 0x995DC9BBDF1939FAL)
  }

  test("SQL surface: xz_write/xz_read round trip and NULL on " +
    "malformation") {
    val r = spark.sql(
      "SELECT CAST(xz_read(xz_write(CAST('hello xz' AS BINARY))) " +
        "AS STRING) AS t, xz_read(X'00112233') AS bad").head
    assert(r.getString(0) == "hello xz")
    assert(r.isNullAt(1))
  }
}
