package graft

import graft.functions.GtfsRt

import org.sparkproject.connect.protobuf.CodedOutputStream

/** The from-scratch GTFS-RT wire decoder against protobuf's own
  * encoder (the shaded runtime on Spark's classpath): unknown-field
  * skipping across all wire types, sign-extended negative int32
  * varints, absent optionals, and malformed classes. The gated plan
  * (mta_rt_feed) runs the encode→decode round trip over ~60k
  * stop_time_updates; this spec pins the wire-level corners. */
class GtfsRtSpec extends SparkSuite {

  private def packed(f: CodedOutputStream => Unit): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream(64)
    val cos = CodedOutputStream.newInstance(bos)
    f(cos)
    cos.flush()
    bos.toByteArray
  }

  private def feedOf(entities: Array[Byte]*): Array[Byte] =
    packed { c =>
      c.writeByteArray(1, packed { h =>
        h.writeString(1, "2.0")
        h.writeUInt64(3, 1234567890123L)
      })
      entities.foreach(e => c.writeByteArray(2, e))
    }

  private def entity(id: String, tripId: String,
                     stops: Array[Byte]*): Array[Byte] =
    packed { e =>
      e.writeString(1, id)
      e.writeByteArray(3, packed { tu =>
        tu.writeByteArray(1, packed { td =>
          td.writeString(1, tripId)
          td.writeString(5, "R7")
        })
        stops.foreach(s => tu.writeByteArray(2, s))
      })
    }

  private def stop(seq: Int, stopId: String, arrDelay: Int)
      : Array[Byte] =
    packed { s =>
      s.writeUInt32(1, seq)
      s.writeByteArray(2, packed(_.writeInt32(1, arrDelay)))
      s.writeString(4, stopId)
    }

  private def rows(b: Array[Byte]) = {
    val a = GtfsRt.decode(b)
    assert(a != null)
    (0 until a.numElements()).map(i => a.getStruct(i, 12))
  }

  test("negative int32 delays (10-byte sign-extended varints) " +
    "decode exactly") {
    val r = rows(feedOf(entity("e1", "t1",
      stop(1, "S1", -2147483648), stop(2, "S2", -1),
      stop(3, "S3", 2147483647))))
    assert(r.map(_.getLong(8)) == Seq(-2147483648L, -1L, 2147483647L))
    assert(r.head.getLong(0) == 1234567890123L) // feed_ts uint64
  }

  test("unknown fields of every wire type are skipped, rows intact") {
    val withJunk = packed { c =>
      c.writeByteArray(1, packed(_.writeUInt64(3, 99L)))
      c.writeUInt64(90, 12345L)       // varint
      c.writeFixed64(91, 7L)          // 64-bit
      c.writeString(92, "junk")       // length-delimited
      c.writeFixed32(93, 3)           // 32-bit
      c.writeByteArray(2, entity("eX", "tX", packed { s =>
        s.writeUInt32(1, 4)
        s.writeString(4, "SX")
        s.writeUInt64(80, 5L)         // unknown inside StopTimeUpdate
        s.writeByteArray(2, packed { ev =>
          ev.writeInt32(1, 12)
          ev.writeFixed32(70, 9)      // unknown inside StopTimeEvent
        })
      }))
    }
    val r = rows(withJunk)
    assert(r.length == 1)
    assert(r.head.getLong(0) == 99L)
    assert(r.head.getUTF8String(1).toString == "eX")
    assert(r.head.getLong(6) == 4L)
    assert(r.head.getUTF8String(7).toString == "SX")
    assert(r.head.getLong(8) == 12L)
  }

  test("absent optionals surface as NULL (no departure, no " +
    "route_id, no feed header)") {
    val noHeader = packed { c =>
      c.writeByteArray(2, packed { e =>
        e.writeByteArray(3, packed { tu =>
          tu.writeByteArray(2, packed(_.writeUInt32(1, 1)))
        })
      })
    }
    val r = rows(noHeader)
    assert(r.length == 1)
    assert(r.head.isNullAt(0))  // feed_ts
    assert(r.head.isNullAt(1))  // entity_id
    assert(r.head.isNullAt(2))  // trip_id
    assert(r.head.isNullAt(3))  // route_id
    assert(r.head.getLong(6) == 1L)
    assert(r.head.isNullAt(8) && r.head.isNullAt(10)) // arr/dep
  }

  test("malformed classes reject as NULL (truncation, group wire " +
    "type, overrunning length)") {
    val good = feedOf(entity("e1", "t1", stop(1, "S1", 5)))
    assert(GtfsRt.decode(good.dropRight(1)) == null, "truncated")
    assert(GtfsRt.decode(Array[Byte](0x0b)) == null, "group wire")
    // length-delimited submessage claiming more bytes than remain
    assert(GtfsRt.decode(Array[Byte](0x0a, 0x7f, 1, 2)) == null,
      "overrun length")
    // 11-byte varint
    assert(GtfsRt.decode(Array[Byte](0x08, -1, -1, -1, -1, -1, -1,
      -1, -1, -1, -1, 1)) == null, "varint too long")
    // an empty feed decodes to zero rows, not NULL
    assert(GtfsRt.decode(Array.empty[Byte]).numElements() == 0)
  }

  test("SQL surface: gtfsrt_write -> gtfsrt_decode round trip") {
    val r = spark.sql(
      "SELECT inline(gtfsrt_decode(gtfsrt_write(named_struct(" +
        "'ts', 42L, 'entities', array(named_struct(" +
        "'entity_id', 'e5', 'trip_id', 't5', 'route_id', 'R1', " +
        "'start_date', '20260816', 'direction_id', 1L, " +
        "'stops', array(named_struct('stop_sequence', 7L, " +
        "'stop_id', 'S9', 'arr_delay', -3L, 'arr_time', 100L, " +
        "'dep_delay', CAST(NULL AS BIGINT), " +
        "'dep_time', CAST(NULL AS BIGINT)))))))))").collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getLong(0) == 42L && row.getString(1) == "e5")
    assert(row.getString(4) == "20260816")
    assert(row.getLong(6) == 7L && row.getLong(8) == -3L)
    assert(row.isNullAt(10) && row.isNullAt(11))
  }
}
