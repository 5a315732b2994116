package graft

import java.io.ByteArrayOutputStream
import java.util.zip.{GZIPInputStream, GZIPOutputStream, Inflater}

import org.apache.spark.sql.functions._

import graft.functions.Deflate

/** The DEFLATE *encoder* against the adversaries that matter: the
  * JDK's own Inflater / GZIPInputStream must read every stream we
  * write (format validity), `gunzip` must round-trip it (the gate's
  * path), and repetitive input must actually SHRINK (proof the LZ77
  * match finder emits back-references, not stored framing). */
class DeflateSpec extends SparkSuite {
  import spark.implicits._

  private def jdkInflateRaw(b: Array[Byte]): Array[Byte] = {
    val inf = new Inflater(true)
    inf.setInput(b)
    val out = new ByteArrayOutputStream()
    val buf = new Array[Byte](4096)
    while (!inf.finished()) {
      val n = inf.inflate(buf)
      assert(n > 0 || inf.finished(), "inflater stalled: invalid stream")
      out.write(buf, 0, n)
    }
    inf.end()
    out.toByteArray
  }

  private def jdkGunzip(b: Array[Byte]): Array[Byte] = {
    val in = new GZIPInputStream(new java.io.ByteArrayInputStream(b))
    val out = new ByteArrayOutputStream()
    val buf = new Array[Byte](4096)
    var n = in.read(buf)
    while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
    out.toByteArray
  }

  private val seeded = {
    val r = new scala.util.Random(0x9e3779b9L)
    Array.fill(10000)(r.nextInt(256).toByte)
  }

  private val cases: Seq[(String, Array[Byte])] = Seq(
    "empty" -> Array.emptyByteArray,
    "one" -> Array('a'.toByte),
    "two" -> "ab".getBytes("UTF-8"),
    "rle-dist1" -> Array.fill(1000)('x'.toByte),
    "len-258-boundary" -> Array.fill(258 + 3)('y'.toByte),
    "len-259" -> ("z" * 259).getBytes("UTF-8"),
    "phrase-repeat" -> ("the quick brown fox jumps over the lazy dog. " * 40)
      .getBytes("UTF-8"),
    "all-bytes" -> Array.tabulate(256 * 4)(i => (i % 256).toByte),
    "random" -> seeded,
    "high-bytes" -> Array.fill(500)(0xe9.toByte),
    "period-32k" -> {
      // a 40 KiB input whose repeats span beyond one hash-chain slot
      // reuse (window wrap): block of 1 KiB repeated 40 times
      val block = Array.tabulate(1024)(i => ((i * 31) % 251).toByte)
      Array.fill(40)(block).flatten
    })

  test("raw deflate round-trips through the JDK Inflater") {
    for ((name, data) <- cases) {
      val enc = Deflate.deflateFixed(data)
      assert(jdkInflateRaw(enc).sameElements(data), s"case $name")
    }
  }

  test("gzip_write round-trips through the JDK GZIPInputStream") {
    for ((name, data) <- cases) {
      val gz = Deflate.gzip(data)
      assert(jdkGunzip(gz).sameElements(data), s"case $name")
    }
  }

  test("gzip_write round-trips through the repo's own gunzip") {
    for ((name, data) <- cases) {
      val dec = graft.functions.Gunzip.decode(Deflate.gzip(data))
      assert(dec != null && dec.sameElements(data), s"case $name")
    }
  }

  test("repetitive input genuinely compresses (back-references, not stored)") {
    val data = ("shard record payload, " * 200).getBytes("UTF-8")
    val enc = Deflate.deflateFixed(data)
    assert(enc.length < data.length / 4,
      s"expected >4x on repetitive text, got ${data.length} -> ${enc.length}")
    // random bytes must still be VALID (fixed Huffman may expand ~12.5%)
    val rnd = Deflate.deflateFixed(seeded)
    assert(rnd.length < seeded.length + seeded.length / 4 + 64)
  }

  test("gzip_members walks concatenated members in order") {
    val parts = Seq("alpha", "beta beta beta", "", "éclair 中文")
      .map(_.getBytes("UTF-8"))
    val blob = parts.map(Deflate.gzip).reduce(_ ++ _)
    val got = Deflate.members(blob)
    assert(got != null && got.length == parts.length)
    for ((g, p) <- got.zip(parts)) assert(g.sameElements(p))
  }

  test("gzip_members reads members written by the JDK's GZIPOutputStream") {
    def jdkGzip(data: Array[Byte]): Array[Byte] = {
      val bos = new ByteArrayOutputStream()
      val g = new GZIPOutputStream(bos)
      g.write(data); g.close()
      bos.toByteArray
    }
    val parts = Seq("jdk member one", "jdk member two")
      .map(_.getBytes("UTF-8"))
    // mixed writers: JDK member then ours then JDK
    val blob = jdkGzip(parts(0)) ++ Deflate.gzip(parts(1)) ++
      jdkGzip(parts(0))
    val got = Deflate.members(blob)
    assert(got != null && got.length == 3)
    assert(got(0).sameElements(parts(0)))
    assert(got(1).sameElements(parts(1)))
    assert(got(2).sameElements(parts(0)))
  }

  test("gzip_members corrupt-shard semantics: NULL, never a throw") {
    val good = Deflate.gzip("payload".getBytes("UTF-8"))
    // empty blob
    assert(Deflate.members(Array.emptyByteArray) == null)
    // trailing garbage after a valid member
    assert(Deflate.members(good ++ Array[Byte](1, 2, 3)) == null)
    // CRC bit-flip in the first member of two
    val blob = (good ++ good).clone()
    blob(good.length - 8) = (blob(good.length - 8) ^ 1).toByte
    assert(Deflate.members(blob) == null)
    // truncated second member
    assert(Deflate.members(good ++ good.dropRight(3)) == null)
    // bad magic mid-stream
    val bad = (good ++ good).clone()
    bad(good.length) = 0x00
    assert(Deflate.members(bad) == null)
  }

  test("SQL surface: gzip_write/gzip_members over a DataFrame column") {
    val df = Seq("one", "two two two", "", "third payload")
      .toDF("t")
      .withColumn("rt", expr(
        "CAST(gunzip(gzip_write(CAST(t AS BINARY))) AS STRING)"))
    assert(df.where($"rt" =!= $"t" ||
      $"rt".isNull =!= $"t".isNull).count() == 0)
    val m = Seq(Seq("a", "bb", "ccc")).toDF("xs")
      .withColumn("blob", expr("aggregate(xs, CAST('' AS BINARY), " +
        "(acc, x) -> concat(acc, gzip_write(CAST(x AS BINARY))))"))
      .select(expr(
        "transform(gzip_members(blob), p -> CAST(p AS STRING))").as("ps"))
      .head().getSeq[String](0)
    assert(m == Seq("a", "bb", "ccc"))
  }
}
