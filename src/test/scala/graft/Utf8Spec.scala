package graft

import org.apache.spark.sql.functions._

/** Utf8Stats' strictness edges — the cases the gate's synthesized
  * tails don't reach. Counts follow the documented policy: one
  * invalid per bad byte, resync at the next byte. */
class Utf8Spec extends SparkSuite {
  import spark.implicits._

  private def st(hex: String): (Long, Long, Long, Long, Long, Long, Boolean) = {
    val b = hex.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    val r = graft.functions.Utf8Stats.stats(b)
    (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5), r.getBoolean(6))
  }

  test("clean sequences of every width") {
    assert(st("41") === ((1L, 1L, 0L, 0L, 0L, 0L, true)))
    assert(st("C3A9") === ((2L, 0L, 1L, 0L, 0L, 0L, true)))          // é
    assert(st("E282AC") === ((3L, 0L, 0L, 1L, 0L, 0L, true)))        // €
    assert(st("F09F9880") === ((4L, 0L, 0L, 0L, 1L, 0L, true)))      // emoji
    assert(st("F48FBFBF") === ((4L, 0L, 0L, 0L, 1L, 0L, true)))      // U+10FFFF
    assert(st("EFBFBD") === ((3L, 0L, 0L, 1L, 0L, 0L, true)))        // U+FFFD
    assert(st("ED9FBF") === ((3L, 0L, 0L, 1L, 0L, 0L, true)))        // U+D7FF
    assert(st("EE8080") === ((3L, 0L, 0L, 1L, 0L, 0L, true)))        // private
  }

  test("overlongs are dead, per byte") {
    assert(st("C0AF")._6 === 2L)       // classic /
    assert(st("C180")._6 === 2L)
    assert(st("E08080")._6 === 3L)     // overlong 3-byte
    assert(st("F0808080")._6 === 4L)   // overlong 4-byte
  }

  test("the surrogate hole and the U+10FFFF cap") {
    assert(st("EDA080")._6 === 3L)     // U+D800
    assert(st("EDBFBF")._6 === 3L)     // U+DFFF
    assert(st("F4908080")._6 === 4L)   // U+110000
    assert(st("F5808080")._6 === 4L)   // F5 lead dead
    assert(st("FF")._6 === 1L)
  }

  test("truncation and stray continuations resync") {
    assert(st("C2") === ((1L, 0L, 0L, 0L, 0L, 1L, false)))
    assert(st("F09F")._6 === 2L)       // truncated 4-byte
    assert(st("80") === ((1L, 0L, 0L, 0L, 0L, 1L, false)))
    // bad byte inside good neighbors: resync keeps the rest valid
    assert(st("41FF42") === ((3L, 2L, 0L, 0L, 0L, 1L, false)))
    assert(st("C3A9FFE282AC") === ((6L, 0L, 1L, 1L, 0L, 1L, false)))
  }

  test("expression path: SQL call matches object stats; null stays null") {
    val r = Seq(Tuple1("héllo €")).toDF("t")
      .select(expr("utf8_stats(CAST(t AS BINARY))").as("u"))
      .select("u.n_bytes", "u.n_ascii", "u.n_2byte", "u.n_3byte",
        "u.valid").head
    // h,l,l,o,space,space ascii=6? "héllo €": h é l l o ' ' € = 6 ascii?
    // chars: h(1) é(2) l(1) l(1) o(1) sp(1) €(3) = 10 bytes, 5 ascii
    assert(r.getLong(0) === 10L && r.getLong(1) === 5L)
    assert(r.getLong(2) === 1L && r.getLong(3) === 1L && r.getBoolean(4))
    val nr = Seq(Tuple1(Option.empty[Array[Byte]])).toDF("b")
      .select(expr("utf8_stats(b)")).head
    assert(nr.isNullAt(0))
  }
}
