package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** GTFS-realtime protobuf — the WIRE FORMAT the reference's domain
  * actually speaks: push-ai/mta-rtf-dbt models dlt-flattened
  * TripUpdate rows (`trip_update__trip__trip_id`,
  * `stop_time_update__*` — models/fact_trips_stops.sql:1), and the
  * upstream MTA feed those rows come from is a GTFS-RT FeedMessage
  * protobuf. This closes the loop: the engine ingests the RAW feed.
  *
  *  - `gtfsrt_decode(bytes)` — a FROM-SCRATCH protobuf wire-format
  *    decoder (varints incl. 10-byte sign-extended int32s, tag
  *    dispatch, length-delimited submessages, unknown-field skipping
  *    for all four wire types, group wire types rejected) hardcoded
  *    to the public GTFS-RT schema subset the MTA feed uses:
  *    FeedMessage { header(1){ version(1), timestamp(3) },
  *    entity(2, repeated){ id(1), trip_update(3){ trip(1){
  *    trip_id(1), start_date(3), route_id(5), direction_id(6) },
  *    stop_time_update(2, repeated){ stop_sequence(1), arrival(2){
  *    delay(1), time(2) }, departure(3), stop_id(4) } } } }. One
  *    output row per stop_time_update, feed timestamp carried on
  *    every row, absent optional fields NULL (proto3 presence).
  *    Truncated/overrun/malformed input returns NULL.
  *  - `gtfsrt_write(feed)` — the INDEPENDENT encoder: the shaded
  *    protobuf runtime on Spark's classpath (CodedOutputStream
  *    writes every tag and varint; we only compose the
  *    length-delimited nesting), so the gated round trip validates
  *    our wire decoder against protobuf's own encoder inside the
  *    plan. Input: STRUCT<ts BIGINT, entities ARRAY<STRUCT<
  *    entity_id STRING, trip_id STRING, route_id STRING, start_date
  *    STRING, direction_id BIGINT, stops ARRAY<STRUCT<stop_sequence
  *    BIGINT, stop_id STRING, arr_delay BIGINT, arr_time BIGINT,
  *    dep_delay BIGINT, dep_time BIGINT>>>>>; NULL leaf = field
  *    omitted from the wire.
  *
  * Reference: the schema numbers are the public GTFS-realtime.proto
  * (gtfs.org), the same fields the reference's column names flatten. */
object GtfsRt {

  val rowType: StructType = StructType(Seq(
    StructField("feed_ts", LongType),
    StructField("entity_id", StringType),
    StructField("trip_id", StringType),
    StructField("route_id", StringType),
    StructField("start_date", StringType),
    StructField("direction_id", LongType),
    StructField("stop_sequence", LongType),
    StructField("stop_id", StringType),
    StructField("arr_delay", LongType),
    StructField("arr_time", LongType),
    StructField("dep_delay", LongType),
    StructField("dep_time", LongType)))

  private final class Corrupt extends RuntimeException(null, null,
    false, false)
  private def corrupt(): Nothing = throw new Corrupt

  private final class Rd(val b: Array[Byte], var p: Int, val end: Int) {
    def done: Boolean = p >= end
    def varint(): Long = {
      var v = 0L
      var shift = 0
      while (true) {
        if (p >= end || shift >= 70) corrupt()
        val x = b(p) & 0xff
        p += 1
        if (shift < 64) v |= (x & 0x7fL) << shift
        shift += 7
        if ((x & 0x80) == 0) return v
      }
      v
    }
    def lenDelim(): Rd = {
      val n = varint()
      if (n < 0 || n > Int.MaxValue || p + n > end) corrupt()
      val r = new Rd(b, p, p + n.toInt)
      p += n.toInt
      r
    }
    def str(): String = {
      val r = lenDelim()
      new String(b, r.p, r.end - r.p, "UTF-8")
    }
    def skip(wire: Int): Unit = wire match {
      case 0 => varint()
      case 1 =>
        if (p + 8 > end) corrupt()
        p += 8
      case 2 => lenDelim()
      case 5 =>
        if (p + 4 > end) corrupt()
        p += 4
      case _ => corrupt() // groups / invalid
    }
  }

  private final class Ste {
    var delay: java.lang.Long = _
    var time: java.lang.Long = _
  }

  private def stopTimeEvent(rd: Rd): Ste = {
    val e = new Ste
    while (!rd.done) {
      val key = rd.varint()
      val field = (key >>> 3).toInt
      val wire = (key & 7).toInt
      field match {
        case 1 if wire == 0 => e.delay = rd.varint() // int32: sign-ext
        case 2 if wire == 0 => e.time = rd.varint()
        case _ => rd.skip(wire)
      }
    }
    e
  }

  /** Decode; null on malformation. */
  def decode(b: Array[Byte]): ArrayData = {
    try {
      val rd = new Rd(b, 0, b.length)
      var feedTs: java.lang.Long = null
      val out = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
      // we need the header (field 1) before entities to stamp rows;
      // GTFS-RT writers emit it first, but the wire format does not
      // require field order — collect entities, stamp at the end
      val rows = scala.collection.mutable.ArrayBuffer
        .empty[Array[Any]]
      while (!rd.done) {
        val key = rd.varint()
        val field = (key >>> 3).toInt
        val wire = (key & 7).toInt
        field match {
          case 1 if wire == 2 => // FeedHeader
            val h = rd.lenDelim()
            while (!h.done) {
              val hk = h.varint()
              ((hk >>> 3).toInt, (hk & 7).toInt) match {
                case (3, 0) => feedTs = h.varint()
                case (_, w) => h.skip(w)
              }
            }
          case 2 if wire == 2 => // FeedEntity
            val e = rd.lenDelim()
            var entityId: String = null
            var tripId: String = null
            var routeId: String = null
            var startDate: String = null
            var dirId: java.lang.Long = null
            val stops = scala.collection.mutable.ArrayBuffer
              .empty[(java.lang.Long, String, Ste, Ste)]
            while (!e.done) {
              val ek = e.varint()
              ((ek >>> 3).toInt, (ek & 7).toInt) match {
                case (1, 2) => entityId = e.str()
                case (3, 2) => // TripUpdate
                  val tu = e.lenDelim()
                  while (!tu.done) {
                    val tk = tu.varint()
                    ((tk >>> 3).toInt, (tk & 7).toInt) match {
                      case (1, 2) => // TripDescriptor
                        val td = tu.lenDelim()
                        while (!td.done) {
                          val dk = td.varint()
                          ((dk >>> 3).toInt, (dk & 7).toInt) match {
                            case (1, 2) => tripId = td.str()
                            case (3, 2) => startDate = td.str()
                            case (5, 2) => routeId = td.str()
                            case (6, 0) => dirId = td.varint()
                            case (_, w) => td.skip(w)
                          }
                        }
                      case (2, 2) => // StopTimeUpdate
                        val su = tu.lenDelim()
                        var seq: java.lang.Long = null
                        var stopId: String = null
                        var arr: Ste = null
                        var dep: Ste = null
                        while (!su.done) {
                          val sk = su.varint()
                          ((sk >>> 3).toInt, (sk & 7).toInt) match {
                            case (1, 0) => seq = su.varint()
                            case (2, 2) => arr = stopTimeEvent(
                              su.lenDelim())
                            case (3, 2) => dep = stopTimeEvent(
                              su.lenDelim())
                            case (4, 2) => stopId = su.str()
                            case (_, w) => su.skip(w)
                          }
                        }
                        stops += ((seq, stopId, arr, dep))
                      case (_, w) => tu.skip(w)
                    }
                  }
                case (_, w) => e.skip(w)
              }
            }
            stops.foreach { case (seq, stopId, arr, dep) =>
              rows += Array[Any](null, entityId, tripId, routeId,
                startDate, dirId, seq, stopId,
                if (arr == null) null else arr.delay,
                if (arr == null) null else arr.time,
                if (dep == null) null else dep.delay,
                if (dep == null) null else dep.time)
            }
          case (_) => rd.skip(wire)
        }
      }
      rows.foreach { r =>
        def s(v: Any): Any = v match {
          case null => null
          case x: String => UTF8String.fromString(x)
          case x: java.lang.Long => x.longValue()
          case x => x
        }
        out += InternalRow(
          (if (feedTs == null) null else feedTs.longValue()) +:
            r.drop(1).map(s).toSeq: _*)
      }
      new GenericArrayData(out.toArray)
    } catch {
      case _: Corrupt => null
      case _: ArrayIndexOutOfBoundsException => null
    }
  }

  // ── the independent encoder (shaded protobuf CodedOutputStream) ──
  private type Cos = org.sparkproject.connect.protobuf.CodedOutputStream

  private def packed(f: Cos => Unit): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream(64)
    val cos = org.sparkproject.connect.protobuf.CodedOutputStream
      .newInstance(bos)
    f(cos)
    cos.flush()
    bos.toByteArray
  }

  private def ste(delay: java.lang.Long, time: java.lang.Long)
      : Array[Byte] = packed { c =>
    if (delay != null) c.writeInt32(1, delay.intValue())
    if (time != null) c.writeInt64(2, time.longValue())
  }

  /** Encode one feed from the structured input; null on a null
    * entities array. */
  def encode(feed: InternalRow): Array[Byte] = {
    if (feed.isNullAt(1)) return null
    val ts = if (feed.isNullAt(0)) null
      else java.lang.Long.valueOf(feed.getLong(0))
    val entities = feed.getArray(1)
    packed { c =>
      val header = packed { h =>
        h.writeString(1, "2.0")
        if (ts != null) h.writeUInt64(3, ts.longValue())
      }
      c.writeByteArray(1, header)
      var i = 0
      while (i < entities.numElements()) {
        val e = entities.getStruct(i, 6)
        def optStr(idx: Int): String =
          if (e.isNullAt(idx)) null else e.getUTF8String(idx).toString
        def optLong(idx: Int): java.lang.Long =
          if (e.isNullAt(idx)) null
          else java.lang.Long.valueOf(e.getLong(idx))
        val trip = packed { t =>
          val tripId = optStr(1)
          val routeId = optStr(2)
          val startDate = optStr(3)
          val dirId = optLong(4)
          if (tripId != null) t.writeString(1, tripId)
          if (startDate != null) t.writeString(3, startDate)
          if (routeId != null) t.writeString(5, routeId)
          if (dirId != null) t.writeUInt32(6, dirId.intValue())
        }
        val stops = e.getArray(5)
        val tu = packed { t =>
          t.writeByteArray(1, trip)
          var j = 0
          while (j < stops.numElements()) {
            val sRow = stops.getStruct(j, 6)
            def so(idx: Int): java.lang.Long =
              if (sRow.isNullAt(idx)) null
              else java.lang.Long.valueOf(sRow.getLong(idx))
            val stu = packed { s =>
              val seq = so(0)
              if (seq != null) s.writeUInt32(1, seq.intValue())
              val arrD = so(2)
              val arrT = so(3)
              if (arrD != null || arrT != null)
                s.writeByteArray(2, ste(arrD, arrT))
              val depD = so(4)
              val depT = so(5)
              if (depD != null || depT != null)
                s.writeByteArray(3, ste(depD, depT))
              if (!sRow.isNullAt(1))
                s.writeString(4, sRow.getUTF8String(1).toString)
            }
            t.writeByteArray(2, stu)
            j += 1
          }
        }
        val ent = packed { en =>
          val id = optStr(0)
          if (id != null) en.writeString(1, id)
          en.writeByteArray(3, tu)
        }
        c.writeByteArray(2, ent)
        i += 1
      }
    }
  }
}

/** `gtfsrt_decode(bytes)` — from-scratch GTFS-RT wire decode, one
  * row per stop_time_update; NULL on malformation. See [[GtfsRt]]. */
case class GtfsRtDecode(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType != BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult
        .TypeCheckFailure("gtfsrt_decode requires a BINARY input, " +
          "got " + child.dataType.simpleString)
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult
        .TypeCheckSuccess

  override def dataType: DataType =
    ArrayType(GtfsRt.rowType, containsNull = false)

  override def nullable: Boolean = true
  override def prettyName: String = "gtfsrt_decode"

  override def nullSafeEval(bytes: Any): Any =
    GtfsRt.decode(bytes.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b => {
      s"""
         |${ev.value} = graft.functions.GtfsRt.decode($b);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })

  override protected def withNewChildInternal(
      newChild: Expression): GtfsRtDecode = copy(child = newChild)
}

/** `gtfsrt_write(feed)` — FeedMessage via the shaded protobuf
  * CodedOutputStream (the independent encoder). See [[GtfsRt]]. */
case class GtfsRtWrite(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StructType(fs) if fs.length == 2 &&
        fs(0).dataType == LongType &&
        fs(1).dataType.isInstanceOf[ArrayType] =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult
          .TypeCheckSuccess
      case dt =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult
          .TypeCheckFailure("gtfsrt_write requires STRUCT<ts BIGINT, " +
            "entities ARRAY<...>>, got " + dt.simpleString)
    }

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def prettyName: String = "gtfsrt_write"

  override def nullSafeEval(feed: Any): Any =
    GtfsRt.encode(feed.asInstanceOf[InternalRow])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, f => {
      s"""
         |${ev.value} = graft.functions.GtfsRt.encode($f);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })

  override protected def withNewChildInternal(
      newChild: Expression): GtfsRtWrite = copy(child = newChild)
}
