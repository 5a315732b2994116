package graft

import java.io.ByteArrayOutputStream
import java.util.zip.{CRC32, ZipEntry, ZipOutputStream}

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property fuzz for zip_list: arbitrary multi-member archives built
  * with the REAL java.util.zip.ZipOutputStream (random member counts,
  * names, payload sizes 0..4096, stored/deflated mix, optional EOCD
  * comment) must walk back name-for-name with green CRCs and exact
  * byte sums. Raw ScalaCheck Gen with fixed seeds (scalatestplus
  * bridge is not in the offline cache) — the ArgMinPropertySpec
  * harness pattern. */
class ZipPropertySpec extends SparkSuite {
  import spark.implicits._

  private case class Member(name: String, data: Array[Byte],
                            stored: Boolean)

  private val memberGen = for {
    nm <- Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.take(24).mkString)
    n <- Gen.frequency(1 -> Gen.const(0), 4 -> Gen.choose(1, 4096))
    seed <- Gen.choose(0, 255)
    stored <- Gen.oneOf(true, false)
  } yield Member(nm, Array.tabulate(n)(i => ((i * 31 + seed) % 256)
    .toByte), stored)

  private val archiveGen = for {
    ms0 <- Gen.nonEmptyListOf(memberGen).map(_.take(8))
    comment <- Gen.option(Gen.listOf(Gen.alphaChar).map(_.mkString))
  } yield {
    // ZipOutputStream rejects duplicate entry names — dedup by name
    val ms = ms0.groupBy(_.name).map(_._2.head).toList.sortBy(_.name)
    (ms, comment)
  }

  private def build(ms: List[Member], comment: Option[String])
      : Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val z = new ZipOutputStream(bos)
    comment.foreach(z.setComment)
    ms.foreach { m =>
      val e = new ZipEntry(m.name)
      if (m.stored) {
        e.setMethod(ZipEntry.STORED)
        e.setSize(m.data.length.toLong)
        val c = new CRC32; c.update(m.data)
        e.setCrc(c.getValue)
      } else e.setMethod(ZipEntry.DEFLATED)
      z.putNextEntry(e); z.write(m.data); z.closeEntry()
    }
    z.close()
    bos.toByteArray
  }

  test("random real archives round-trip: names, sizes, CRCs, byte sums") {
    val cases = (0 until 40).flatMap { i =>
      archiveGen(Gen.Parameters.default, Seed(0x21700L + i))
    }
    // distinct name sets per case: the verify below re-derives the
    // case by member-name set, so two cases sharing one would
    // cross-match
    val distinctCases = cases
      .groupBy(_._1.map(_.name).toSet).map(_._2.head).toSeq
    assert(distinctCases.length >= 25, "generator must produce cases")
    val blobs = distinctCases.map { case (ms, c) => build(ms, c) }
    val rows = blobs.map(Tuple1(_)).toDF("b")
      .withColumn("aid", monotonically_increasing_id())
      .select($"aid", explode(expr("zip_list(b)")).as("m"))
      .select($"aid", $"m.name", $"m.method", $"m.size", $"m.crc_ok",
        $"m.payload_sum")
      .collect()
      .groupBy(_.getLong(0))
      .map { case (aid, rs) =>
        aid -> rs.map(r => r.getString(1) ->
          (r.getLong(2), r.getLong(3), r.getBoolean(4), r.getLong(5)))
          .toMap }
    // monotonically_increasing_id over a small local relation is
    // partition-ordered; re-derive the case index by matching member
    // NAME SETS instead of trusting row order
    val expected = distinctCases.zipWithIndex.map { case ((ms, _), i) =>
      ms.map(_.name).toSet ->
        ms.map(m => m.name -> m).toMap }
    rows.values.foreach { got =>
      val exp = expected.find(_._1 == got.keySet)
        .getOrElse(fail(s"no case matches member set ${got.keySet}"))._2
      got.foreach { case (nm, (method, size, ok, psum)) =>
        val m = exp(nm)
        assert(ok, s"crc_ok must hold for $nm")
        assert(size === m.data.length.toLong)
        assert(psum === m.data.map(_ & 0xffL).sum)
        assert(method === (if (m.stored) 0L else 8L))
      }
    }
  }
}
