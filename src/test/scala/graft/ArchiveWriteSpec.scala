package graft

import java.io.ByteArrayInputStream
import java.util.zip.ZipInputStream

import org.apache.commons.compress.archivers.tar.{TarArchiveInputStream, TarArchiveOutputStream}
import org.apache.spark.sql.functions._

/** zip_write / tar_write against INDEPENDENT readers — the JDK's own
  * java.util.zip for ZIP and the unshaded commons-compress for tar —
  * plus the cross directions and malformed-input policy. The gated
  * plans (mm_zip_write / mm_tar_write) round-trip through our own
  * conformant walkers; these specs pin that the emitted bytes are the
  * real formats, not a private dialect our reader happens to accept. */
class ArchiveWriteSpec extends SparkSuite {
  import spark.implicits._

  private def entriesCol(members: Seq[(String, Array[Byte])]) =
    array(members.map { case (n, p) => struct(lit(n), lit(p)) }: _*)

  private def archive(fn: String,
                      members: Seq[(String, Array[Byte])]): Array[Byte] = {
    spark.range(1).select(entriesCol(members).as("e"))
      .selectExpr(s"$fn(e)").head.getAs[Array[Byte]](0)
  }

  private val docs: Seq[(String, Array[Byte])] = Seq(
    ("a.txt", "hello archive world, compressible aaaaaaaaaaaaaaaa"
      .getBytes("UTF-8")),
    ("dir/βeta.bin", (0 until 4096).map(i => (i * 7 % 251).toByte)
      .toArray),
    ("empty", Array.empty[Byte]),
    ("z.dat", (0 until 300).map(i => (i % 17).toByte).toArray))

  test("zip_write archives parse with the JDK ZipInputStream " +
    "(names, order, payload bytes)") {
    val z = new ZipInputStream(
      new ByteArrayInputStream(archive("zip_write", docs)),
      java.nio.charset.StandardCharsets.UTF_8)
    docs.foreach { case (name, payload) =>
      val e = z.getNextEntry
      assert(e != null && e.getName == name)
      val got = z.readAllBytes()
      assert(java.util.Arrays.equals(got, payload),
        s"payload mismatch for $name")
    }
    assert(z.getNextEntry == null)
  }

  test("zip_write central directory parses with the JDK ZipFile") {
    val f = java.nio.file.Files.createTempFile("graft_zw", ".zip")
    try {
      java.nio.file.Files.write(f, archive("zip_write", docs))
      val zf = new java.util.zip.ZipFile(f.toFile)
      try {
        assert(zf.size() == docs.length)
        docs.foreach { case (name, payload) =>
          val e = zf.getEntry(name)
          assert(e != null && e.getSize == payload.length.toLong)
          val got = zf.getInputStream(e).readAllBytes()
          assert(java.util.Arrays.equals(got, payload))
        }
      } finally zf.close()
    } finally java.nio.file.Files.delete(f)
  }

  test("zip_write -> our zip_list: every member method 8, CRC green, " +
    "exact byte sums") {
    val rows = spark.range(1).select(entriesCol(docs).as("e"))
      .select(posexplode(expr("zip_list(zip_write(e))"))
        .as(Seq("i", "m")))
      .select($"m.name", $"m.method", $"m.size", $"m.crc_ok",
        $"m.payload_sum")
      .collect()
    assert(rows.length == docs.length)
    rows.zip(docs).foreach { case (r, (name, payload)) =>
      assert(r.getString(0) == name)
      assert(r.getLong(1) == 8L)
      assert(r.getLong(2) == payload.length.toLong)
      assert(r.getBoolean(3))
      assert(r.getLong(4) == payload.map(_ & 0xffL).sum)
    }
  }

  test("zip_write of zero entries is a valid empty archive") {
    val b = spark.range(1).selectExpr(
      "zip_write(CAST(array() AS " +
        "ARRAY<STRUCT<name STRING, payload BINARY>>))")
      .head.getAs[Array[Byte]](0)
    assert(b.length == 22) // bare EOCD
    val z = new ZipInputStream(new ByteArrayInputStream(b))
    assert(z.getNextEntry == null)
    val n = spark.range(1).select(lit(b).as("b"))
      .selectExpr("size(zip_list(b))").head.getInt(0)
    assert(n == 0)
  }

  test("zip_write null policy: null entry, name or payload -> NULL") {
    val r = spark.range(1).selectExpr(
      "zip_write(array(struct(CAST(NULL AS STRING), X'00'))) AS a",
      "zip_write(array(struct('x', CAST(NULL AS BINARY)))) AS b",
      "zip_write(CAST(NULL AS " +
        "ARRAY<STRUCT<name STRING, payload BINARY>>)) AS c").head
    assert(r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2))
  }

  test("tar_write streams parse with commons-compress " +
    "TarArchiveInputStream (names, sizes, mode, payload bytes)") {
    // ustar names are raw bytes with no declared encoding (PAX adds
    // that); we emit UTF-8, so the adversary must decode UTF-8 too
    val t = new TarArchiveInputStream(
      new ByteArrayInputStream(archive("tar_write", docs)), "UTF-8")
    docs.foreach { case (name, payload) =>
      val e = t.getNextEntry
      assert(e != null && e.getName == name)
      assert(e.getSize == payload.length.toLong)
      assert((e.asInstanceOf[org.apache.commons.compress.archivers
        .tar.TarArchiveEntry].getMode & 0xfff) == 0x1a4)
      val got = t.readAllBytes()
      assert(java.util.Arrays.equals(got, payload),
        s"payload mismatch for $name")
    }
    assert(t.getNextEntry == null)
  }

  test("commons-compress TarArchiveOutputStream output parses with " +
    "our tar_list (cross direction)") {
    val bos = new java.io.ByteArrayOutputStream()
    val t = new TarArchiveOutputStream(bos, "UTF-8")
    docs.foreach { case (name, payload) =>
      val e = new org.apache.commons.compress.archivers.tar
        .TarArchiveEntry(name)
      e.setSize(payload.length.toLong)
      t.putArchiveEntry(e)
      t.write(payload)
      t.closeArchiveEntry()
    }
    t.close()
    val rows = spark.range(1).select(lit(bos.toByteArray).as("b"))
      .select(posexplode(expr("tar_list(b)")).as(Seq("i", "m")))
      .select($"m.name", $"m.size", $"m.cksum_ok", $"m.payload_sum")
      .collect()
    assert(rows.length == docs.length)
    rows.zip(docs).foreach { case (r, (name, payload)) =>
      assert(r.getString(0) == name)
      assert(r.getLong(1) == payload.length.toLong)
      assert(r.getBoolean(2))
      assert(r.getLong(3) == payload.map(_ & 0xffL).sum)
    }
  }

  test("tar_write -> our tar_list: checksum recomputed green, " +
    "typeflag '0'") {
    val rows = spark.range(1).select(entriesCol(docs).as("e"))
      .select(posexplode(expr("tar_list(tar_write(e))"))
        .as(Seq("i", "m")))
      .select($"m.name", $"m.typeflag", $"m.cksum_ok").collect()
    assert(rows.length == docs.length)
    rows.foreach { r =>
      assert(r.getLong(1) == '0'.toLong && r.getBoolean(2))
    }
  }

  test("tar_write rejects names past the ustar 100-byte field") {
    val long = "x" * 101
    val r = spark.range(1).selectExpr(
      s"tar_write(array(struct('$long', X'00')))").head
    assert(r.isNullAt(0))
  }

  test("deterministic round-trip fuzz: 40 random payload sets " +
    "survive both writers through both independent readers") {
    val rnd = new scala.util.Random(20260816L)
    (0 until 40).foreach { _ =>
      val members = (0 until (1 + rnd.nextInt(5))).map { j =>
        val p = new Array[Byte](rnd.nextInt(2000))
        rnd.nextBytes(p)
        (s"m$j", p)
      }
      val z = new ZipInputStream(
        new ByteArrayInputStream(archive("zip_write", members)))
      members.foreach { case (name, payload) =>
        val e = z.getNextEntry
        assert(e.getName == name &&
          java.util.Arrays.equals(z.readAllBytes(), payload))
      }
      val t = new TarArchiveInputStream(
        new ByteArrayInputStream(archive("tar_write", members)))
      members.foreach { case (name, payload) =>
        val e = t.getNextEntry
        assert(e.getName == name &&
          java.util.Arrays.equals(t.readAllBytes(), payload))
      }
    }
  }
}
