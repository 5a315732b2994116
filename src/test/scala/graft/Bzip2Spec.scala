package graft

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import org.apache.hadoop.shaded.org.apache.commons.compress.compressors.bzip2.{BZip2CompressorInputStream, BZip2CompressorOutputStream}
import org.apache.spark.sql.functions._

import graft.functions.Bzip2

/** The bzip2 codec pair against the independent adversary already on
  * Spark's classpath: the Hadoop client runtime's shaded
  * commons-compress bzip2 streams. OUR writer must be readable by
  * THAT reader and vice versa (format validity both directions,
  * the DeflateSpec-vs-JDK posture), the CRC table is anchored to the
  * textbook CRC-32/BZIP2 check vector, and corruption always yields
  * NULL. */
class Bzip2Spec extends SparkSuite {
  import spark.implicits._

  private def ccCompress(data: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val z = new BZip2CompressorOutputStream(bos)
    z.write(data); z.close()
    bos.toByteArray
  }

  private def ccDecompress(b: Array[Byte]): Array[Byte] = {
    val in = new BZip2CompressorInputStream(new ByteArrayInputStream(b))
    val out = new ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    var n = in.read(buf)
    while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
    out.toByteArray
  }

  private val seeded = {
    val r = new scala.util.Random(0xb5297a4dL)
    Array.fill(3000)(r.nextInt(256).toByte)
  }

  private val cases: Seq[(String, Array[Byte])] = Seq(
    "empty" -> Array.emptyByteArray,
    "one" -> Array('q'.toByte),
    "banana" -> "banana".getBytes("UTF-8"),
    "run-of-3" -> "xxxyz".getBytes("UTF-8"),
    "run-of-4" -> "xxxxyz".getBytes("UTF-8"),
    "run-of-5" -> "xxxxxyz".getBytes("UTF-8"),
    "run-259" -> (("a" * 259) + "b").getBytes("UTF-8"),
    "run-260" -> (("a" * 260) + "b").getBytes("UTF-8"),
    "all-same" -> Array.fill(5000)('z'.toByte),
    "phrase" -> ("the quick brown fox jumps over the lazy dog. " * 60)
      .getBytes("UTF-8"),
    "periodic" -> Array.tabulate(20000)(i => ((i % 251) ^ (i / 251))
      .toByte),
    "random" -> seeded,
    "utf8" -> ("héllo wörld 中文テスト " * 50).getBytes("UTF-8"))

  test("CRC table matches the CRC-32/BZIP2 check vector") {
    val m = "123456789".getBytes("US-ASCII")
    assert(Bzip2.crc32(m, 0, m.length) == 0xfc891918)
  }

  test("own round trip: bzip2_read(bzip2_write(x)) == x") {
    for ((name, data) <- cases) {
      val dec = Bzip2.decompress(Bzip2.compress(data))
      assert(dec != null && dec.sameElements(data), s"case $name")
    }
  }

  test("our writer is read by commons-compress (format validity)") {
    for ((name, data) <- cases) {
      assert(ccDecompress(Bzip2.compress(data)).sameElements(data),
        s"case $name")
    }
  }

  test("commons-compress output is read by our decoder") {
    for ((name, data) <- cases) {
      val dec = Bzip2.decompress(ccCompress(data))
      assert(dec != null && dec.sameElements(data), s"case $name")
    }
  }

  test("multi-block streams (input larger than one level-1 block)") {
    val big = ("shard record payload x, " * 12000)
      .getBytes("UTF-8") ++ seeded ++
      Array.fill(120000)('r'.toByte) ++ seeded
    assert(big.length > 250000)
    val ours = Bzip2.compress(big)
    assert(Bzip2.decompress(ours).sameElements(big))
    assert(ccDecompress(ours).sameElements(big))
    // and a commons-compress multi-block stream back through ours
    // (cc uses 900k blocks; force size past it)
    val huge = Array.tabulate(1000000)(i => ((i * 31) % 253).toByte)
    assert(Bzip2.decompress(ccCompress(huge)).sameElements(huge))
  }

  test("repetitive input genuinely compresses") {
    val data = ("corpus release shard, " * 400).getBytes("UTF-8")
    val c = Bzip2.compress(data)
    assert(c.length < data.length / 5,
      s"expected >5x on repetitive text, got ${data.length} -> ${c.length}")
  }

  test("corruption semantics: NULL, never a throw") {
    val good = Bzip2.compress(
      ("integrity matters " * 40).getBytes("UTF-8"))
    assert(Bzip2.decompress(good) != null)
    def flip(pos: Int): Array[Byte] = {
      val c = good.clone(); c(pos) = (c(pos) ^ 0x10).toByte; c
    }
    assert(Bzip2.decompress(flip(0)) == null) // magic
    assert(Bzip2.decompress(flip(3)) == null) // level digit
    assert(Bzip2.decompress(flip(10)) == null) // block CRC region
    assert(Bzip2.decompress(flip(good.length / 2)) == null) // payload
    assert(Bzip2.decompress(flip(good.length - 2)) == null) // footer
    assert(Bzip2.decompress(good.dropRight(4)) == null) // truncated
    assert(Bzip2.decompress(good ++ Array[Byte](1, 2)) == null) // garbage
    assert(Bzip2.decompress(Array.emptyByteArray) == null)
    assert(Bzip2.decompress("BZh9".getBytes) == null)
  }

  test("SQL surface: bzip2_write/bzip2_read over a DataFrame column") {
    val df = Seq("one", "two two two two two", "", "päyload 中")
      .toDF("t")
      .withColumn("rt", expr(
        "CAST(bzip2_read(bzip2_write(CAST(t AS BINARY))) AS STRING)"))
    assert(df.where($"rt" =!= $"t").count() == 0)
  }
}
