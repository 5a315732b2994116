package graft

import java.io.ByteArrayOutputStream
import java.util.zip.{CRC32, ZipEntry, ZipOutputStream}

import org.apache.spark.sql.functions._

/** zip_list against REAL java.util.zip.ZipOutputStream archives — the
  * cases the SQL-synthesized stored form (mm_zip_member) can't reach:
  * deflated members, multi-member archives, EOCD comments, and
  * corruption semantics. */
class ZipSpec extends SparkSuite {
  import spark.implicits._

  private def zipOf(comment: Option[String],
                    members: (String, Array[Byte], Boolean)*)
      : Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val z = new ZipOutputStream(bos)
    comment.foreach(z.setComment)
    members.foreach { case (name, data, stored) =>
      val e = new ZipEntry(name)
      if (stored) {
        e.setMethod(ZipEntry.STORED)
        e.setSize(data.length.toLong)
        val c = new CRC32; c.update(data)
        e.setCrc(c.getValue)
      } else e.setMethod(ZipEntry.DEFLATED)
      z.putNextEntry(e)
      z.write(data)
      z.closeEntry()
    }
    z.close()
    bos.toByteArray
  }

  private def walk(zips: Array[Byte]*) = {
    zips.toSeq.map(Tuple1(_)).toDF("b")
      .select(posexplode(expr("zip_list(b)")).as(Seq("i", "m")))
      .select($"m.name", $"m.method", $"m.size", $"m.crc_ok",
        $"m.payload_sum")
      .collect()
  }

  test("real ZipOutputStream deflate archive parses with CRC green") {
    val a = "hello zip world, compressible aaaaaaaaaaaaaaaaaaaaaaaaa"
      .getBytes("UTF-8")
    val b = (0 until 4096).map(i => (i * 7 % 251).toByte).toArray
    val rows = walk(zipOf(None, ("x/a.txt", a, false),
      ("y/b.bin", b, false)))
    assert(rows.length === 2)
    val byName = rows.map(r => r.getString(0) -> r).toMap
    assert(byName("x/a.txt").getLong(1) === 8L)  // deflate
    assert(byName("x/a.txt").getLong(2) === a.length.toLong)
    assert(byName("x/a.txt").getBoolean(3))
    assert(byName("x/a.txt").getLong(4) === a.map(_ & 0xff).sum.toLong)
    assert(byName("y/b.bin").getBoolean(3))
    assert(byName("y/b.bin").getLong(4) === b.map(_ & 0xffL).sum)
  }

  test("stored + deflated members mix; EOCD comment tail-scan works") {
    val a = "stored payload".getBytes("UTF-8")
    val b = "deflated payload ........................".getBytes("UTF-8")
    val rows = walk(zipOf(Some("trailing archive comment, long enough " +
      "to push the EOCD signature away from EOF"), ("s.txt", a, true),
      ("d.txt", b, false)))
    assert(rows.length === 2)
    assert(rows.map(_.getString(0)).toSet === Set("s.txt", "d.txt"))
    assert(rows.forall(_.getBoolean(3)))
  }

  test("empty members parse green — stored AND deflated (cap=0 inflate)") {
    // a real ZipOutputStream empty DEFLATED entry has csize=2 (the
    // empty final deflate block) and usize=0: the inflater must still
    // be driven to finished at cap=0, not reported broken
    val rows = walk(zipOf(None,
      ("e1.txt", Array.empty[Byte], false),
      ("e2.txt", Array.empty[Byte], true),
      ("x.txt", "x".getBytes("UTF-8"), false)))
    assert(rows.length === 3)
    assert(rows.forall(_.getBoolean(3)), s"crc_ok must hold on empties")
    val e1 = rows.find(_.getString(0) == "e1.txt").get
    assert(e1.getLong(2) === 0L && e1.getLong(4) === 0L)
  }

  test("payload bit-flip flags ONLY that member; walk continues") {
    val a = "member one payload".getBytes("UTF-8")
    val b = "member two payload".getBytes("UTF-8")
    val z = zipOf(None, ("one.txt", a, true), ("two.txt", b, true))
    // flip one byte inside member one's stored payload (LFH fixed part
    // is 30 bytes + name 7 bytes → payload starts at 37)
    val bad = z.clone()
    bad(30 + 7 + 3) = (bad(30 + 7 + 3) ^ 0x40).toByte
    val rows = walk(bad)
    val byName = rows.map(r => r.getString(0) -> r).toMap
    assert(!byName("one.txt").getBoolean(3))
    assert(byName("one.txt").getLong(4) === 0L)
    assert(byName("two.txt").getBoolean(3))
    assert(byName("two.txt").getLong(4) === b.map(_ & 0xffL).sum)
  }

  test("no EOCD → empty array; NULL → NULL; truncated payload flagged") {
    val junk = Array.tabulate[Byte](64)(i => i.toByte)
    val n = Seq(Tuple1(junk)).toDF("b")
      .select(size(expr("zip_list(b)"))).head.getInt(0)
    assert(n === 0)
    val isNull = spark.sql("SELECT zip_list(CAST(NULL AS BINARY)) IS NULL")
      .head.getBoolean(0)
    assert(isNull)
    // truncate a valid archive mid-payload but keep the EOCD intact by
    // cutting the payload and shifting nothing — simplest: corrupt the
    // CD's LFH-offset to point past EOF
    val a = "payload payload payload".getBytes("UTF-8")
    val z = zipOf(None, ("t.txt", a, true))
    val bad = z.clone()
    // EOCD is the last 22 bytes (no comment); cd offset field at
    // EOCD+16 points to the CDFH; LFH offset lives at CDFH+42
    val cdOff = (bad(bad.length - 22 + 16) & 0xff) |
      ((bad(bad.length - 22 + 17) & 0xff) << 8)
    bad(cdOff + 42) = 0x77.toByte  // bogus LFH offset
    bad(cdOff + 43) = 0x77.toByte
    val rows = walk(bad)
    assert(rows.length === 1 && !rows(0).getBoolean(3))
  }

  test("zip_list on a non-binary input is rejected at analysis") {
    val e = intercept[Exception] {
      spark.sql("SELECT zip_list('not binary')").collect()
    }
    assert(e.getMessage.toLowerCase.contains("binary") ||
      e.getMessage.contains("DATATYPE_MISMATCH"))
  }
}
