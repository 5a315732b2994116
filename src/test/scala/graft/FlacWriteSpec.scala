package graft

import graft.functions.{FlacDecode, FlacWrite}

/** The FLAC encoder through the full decoder (CRC-8/16 + MD5 all
  * recomputed) across subframe shapes, multi-frame files, and the
  * compression property itself. */
class FlacWriteSpec extends SparkSuite {

  private def decode(b: Array[Byte]): Seq[Long] = {
    val a = FlacDecode.decode(b)
    assert(a != null)
    (0 until a.numElements()).map(a.getLong)
  }

  private def roundtrip(pcm: Array[Byte]): Seq[Long] = {
    val d = decode(FlacWrite.encode(pcm))
    assert(d(0) == 1L, "decoder rejected the encoded stream")
    assert(d(2) == pcm.length.toLong, "sample count")
    assert(d(7) == pcm.map(_.toLong).sum, "sample sum")
    if (pcm.nonEmpty) {
      assert(d(6) == pcm.head.toLong && d(8) == pcm.last.toLong)
    }
    d
  }

  test("constant, ramp (order-1 wins), parabola (order-2), and " +
    "random (order-0) all round-trip sample-exact") {
    roundtrip(Array.fill(1000)(42.toByte))
    roundtrip(Array.tabulate(1000)(i => ((i % 200) - 100).toByte))
    roundtrip(Array.tabulate(500)(i => (i * i % 256).toByte))
    val r = new scala.util.Random(7L)
    val noise = new Array[Byte](800)
    r.nextBytes(noise)
    roundtrip(noise)
  }

  test("multi-frame files with a partial last frame (16-bit " +
    "end-of-header blocksize)") {
    val p = Array.tabulate(4096 * 2 + 123)(i => ((i * 7) % 251 - 125)
      .toByte)
    val d = roundtrip(p)
    assert(d(1) == 3L, "frame count")
  }

  test("exact 4096-multiple lengths produce full frames only") {
    val p = Array.tabulate(4096)(i => (i % 101).toByte)
    assert(roundtrip(p)(1) == 1L)
    val p2 = Array.tabulate(8192)(i => (i % 97 - 48).toByte)
    assert(roundtrip(p2)(1) == 2L)
  }

  test("single-sample and tiny inputs round-trip") {
    roundtrip(Array(0.toByte))
    roundtrip(Array((-128).toByte))
    roundtrip(Array(127.toByte, (-1).toByte))
  }

  test("compressible audio genuinely compresses; a flipped bit " +
    "anywhere fails the decode") {
    // smooth ramp: order-2 residuals near zero, Rice p small
    val p = Array.tabulate(4000)(i => ((i / 40) % 128).toByte)
    val enc = FlacWrite.encode(p)
    assert(enc.length < p.length / 2,
      s"no compression: ${enc.length} vs ${p.length}")
    val r = new scala.util.Random(5L)
    (0 until 60).foreach { _ =>
      val i = r.nextInt(enc.length)
      val c = enc.clone()
      c(i) = (c(i) ^ (1 << r.nextInt(8))).toByte
      val a = FlacDecode.decode(c)
      // a corrupted stream must either flag (ok=0/NULL) or — for a
      // flip in an unvalidated metadata gap (e.g. the unknown
      // min/max-framesize fields) — still decode to the SAME
      // samples; a silently different decode is the failure mode
      assert(a == null || a.getLong(0) == 0L ||
        (a.getLong(2) == p.length.toLong &&
          a.getLong(7) == p.map(_.toLong).sum),
        s"bit flip at $i misdecoded")
    }
  }

  test("SQL surface: flac_write -> flac_decode equals the in-plan " +
    "gate shape") {
    val r = spark.sql(
      "SELECT flac_decode(flac_write(CAST('hello flac' AS BINARY)))"
    ).head.getSeq[Long](0)
    assert(r(0) == 1L && r(2) == 10L)
  }
}
