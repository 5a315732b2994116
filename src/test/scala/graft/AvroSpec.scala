package graft

import java.io.ByteArrayOutputStream

import org.apache.avro.Schema
import org.apache.avro.file.{CodecFactory, DataFileStream, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}

import graft.functions.AvroOcf

/** The from-scratch Avro OCF walker against the real Avro library:
  * every supported codec, nullable unions, multi-block files,
  * schema-contract rejection, and malformed classes. */
class AvroSpec extends SparkSuite {

  private def schemaOf(json: String): Schema =
    new Schema.Parser().parse(json)

  private def ocf(schema: Schema, codec: CodecFactory,
                  rows: Seq[GenericRecord],
                  syncEvery: Int = 0): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val w = new DataFileWriter(
      new GenericDatumWriter[GenericRecord](schema))
    w.setCodec(codec)
    w.create(schema, bos)
    rows.zipWithIndex.foreach { case (r, i) =>
      w.append(r)
      if (syncEvery > 0 && (i + 1) % syncEvery == 0) w.sync()
    }
    w.close()
    bos.toByteArray
  }

  private val docSchema = schemaOf(
    """{"type":"record","name":"doc","fields":[
      |{"name":"doc_id","type":"long"},
      |{"name":"text","type":"string"}]}""".stripMargin)

  private def docRows(n: Int): Seq[GenericRecord] =
    (0 until n).map { i =>
      val r = new GenericData.Record(docSchema)
      r.put("doc_id", java.lang.Long.valueOf(i.toLong * 7 - 3))
      r.put("text", s"document $i with ünïcode and tabs\t${"x" * (i % 40)}")
      r
    }

  private def longRows(b: Array[Byte]): Seq[(Long, String, String)] = {
    val a = AvroOcf.read(b)
    assert(a != null, "walker rejected a valid container")
    (0 until a.numElements()).map { i =>
      val r = a.getStruct(i, 3)
      (r.getLong(0), r.getUTF8String(1).toString,
        r.getUTF8String(2).toString)
    }
  }

  test("every codec round-trips: null, deflate, snappy (CRC " +
    "recomputed), zstandard (our decoder)") {
    val rows = docRows(200)
    Seq(CodecFactory.nullCodec(), CodecFactory.deflateCodec(6),
      CodecFactory.snappyCodec(), CodecFactory.zstandardCodec(3))
      .foreach { codec =>
        val got = longRows(ocf(docSchema, codec, rows))
        assert(got.length == 400)
        rows.zipWithIndex.foreach { case (r, i) =>
          assert(got(2 * i) == (i.toLong, "doc_id",
            r.get("doc_id").toString))
          assert(got(2 * i + 1) == (i.toLong, "text",
            r.get("text").toString))
        }
      }
  }

  test("multi-block files walk with per-block sync verification") {
    val rows = docRows(500)
    val b = ocf(docSchema, CodecFactory.deflateCodec(6), rows,
      syncEvery = 50)
    val got = longRows(b)
    assert(got.length == 1000)
    assert(got.last == (499L, "text", rows.last.get("text").toString))
  }

  test("primitive menagerie incl. nullable unions decodes with " +
    "canonical rendering") {
    val s = schemaOf(
      """{"type":"record","name":"m","fields":[
        |{"name":"i","type":"int"},
        |{"name":"d","type":"double"},
        |{"name":"f","type":"float"},
        |{"name":"bl","type":"boolean"},
        |{"name":"by","type":"bytes"},
        |{"name":"os","type":["null","string"]},
        |{"name":"ol","type":["long","null"]}]}""".stripMargin)
    val r1 = new GenericData.Record(s)
    r1.put("i", Int.box(-42))
    r1.put("d", Double.box(2.5))
    r1.put("f", Float.box(-0.5f))
    r1.put("bl", Boolean.box(true))
    r1.put("by", java.nio.ByteBuffer.wrap(Array[Byte](0, 127, -128)))
    r1.put("os", null)
    r1.put("ol", Long.box(99L))
    val r2 = new GenericData.Record(s)
    r2.put("i", Int.box(7))
    r2.put("d", Double.box(-1.25))
    r2.put("f", Float.box(3.0f))
    r2.put("bl", Boolean.box(false))
    r2.put("by", java.nio.ByteBuffer.wrap(Array.empty[Byte]))
    r2.put("os", "present")
    r2.put("ol", null)
    val got = longRows(ocf(s, CodecFactory.nullCodec(), Seq(r1, r2)))
    assert(got.take(7) == Seq(
      (0L, "i", "-42"), (0L, "d", "2.5"), (0L, "f", "-0.5"),
      (0L, "bl", "true"), (0L, "by", "007f80"), (0L, "os", "null"),
      (0L, "ol", "99")))
    assert(got.drop(7) == Seq(
      (1L, "i", "7"), (1L, "d", "-1.25"), (1L, "f", "3.0"),
      (1L, "bl", "false"), (1L, "by", ""), (1L, "os", "present"),
      (1L, "ol", "null")))
  }

  test("out-of-contract schemas reject as NULL (nested record, " +
    "3-branch union, array field)") {
    val nested = schemaOf(
      """{"type":"record","name":"outer","fields":[
        |{"name":"inner","type":{"type":"record","name":"in",
        |"fields":[{"name":"x","type":"long"}]}}]}""".stripMargin)
    val rec = new GenericData.Record(nested)
    val in = new GenericData.Record(nested.getField("inner").schema())
    in.put("x", Long.box(1L))
    rec.put("inner", in)
    assert(AvroOcf.read(ocf(nested, CodecFactory.nullCodec(),
      Seq(rec))) == null)
  }

  test("the real DataFileStream agrees with our walker on row " +
    "count (cross check)") {
    val b = ocf(docSchema, CodecFactory.snappyCodec(), docRows(123))
    val ds = new DataFileStream(
      new java.io.ByteArrayInputStream(b),
      new GenericDatumReader[GenericRecord](docSchema))
    var n = 0
    while (ds.hasNext) { ds.next(); n += 1 }
    assert(n == 123)
    assert(longRows(b).length == 123 * 2)
  }

  test("malformed classes reject as NULL") {
    val good = ocf(docSchema, CodecFactory.deflateCodec(6),
      docRows(50))
    assert(AvroOcf.read(good.take(30)) == null, "truncated metadata")
    assert(AvroOcf.read(good.dropRight(1)) == null, "truncated sync")
    val badMagic = good.clone()
    badMagic(3) = 2
    assert(AvroOcf.read(badMagic) == null, "bad magic")
    // corrupt the trailing sync marker
    val badSync = good.clone()
    badSync(badSync.length - 1) = (badSync(badSync.length - 1) ^ 1)
      .toByte
    assert(AvroOcf.read(badSync) == null, "sync mismatch")
    // corrupt the deflate payload (after header area)
    val badPay = good.clone()
    badPay(badPay.length - 40) = (badPay(badPay.length - 40) ^ 0x55)
      .toByte
    val dec = AvroOcf.read(badPay)
    // either the inflate fails, row decode overruns, or sync check
    // trips — never a crash; a benign flip may still decode, but
    // then it must differ from nothing we can verify here, so only
    // assert no-throw via reaching this line
    assert(dec == null || dec.numElements() >= 0)
  }

  test("SQL surface: avro_write per codec -> avro_read explode") {
    import org.apache.spark.sql.functions._
    val rows = spark.sql(
      "SELECT posexplode(avro_read(avro_write(array(" +
        "struct(10L, 'alpha'), struct(20L, 'beta')), 'zstandard')))")
      .collect()
    assert(rows.length == 4)
    val vals = rows.map(_.getStruct(1)).map(s =>
      (s.getLong(0), s.getString(1), s.getString(2))).toSeq
    assert(vals == Seq((0L, "doc_id", "10"), (0L, "text", "alpha"),
      (1L, "doc_id", "20"), (1L, "text", "beta")))
  }
}
