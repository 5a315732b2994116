package graft

import org.apache.spark.sql.functions._

/** draw_mod64 is the allocation-free splitmix draw behind
  * sample_negative; its DuckDB twin recomputes the identical value in
  * exact HUGEINT mod-2^64 arithmetic (DrawMod64Sql). The cross-engine
  * contract lives in arithmetic, not in a shared library — so this
  * spec pins the Scala long-wrap implementation against an
  * independent BigInt model of EXACTLY the operations the rendered
  * SQL performs (32-bit-split wrapping multiply, signed-wrap xor,
  * shift-as-division), plus codegen/interpreted agreement and the
  * unsigned-remainder edge (a mix with the sign bit set must land in
  * [0, n) like DuckDB's nonneg HUGEINT % n, NOT like Java %).
  */
class DrawModSpec extends SparkSuite {
  import spark.implicits._

  private val M = BigInt(1) << 64

  /** BigInt replica of DrawMod64Sql's CTE chain semantics. */
  private def mixModel(a: BigInt, b: BigInt, c: BigInt): BigInt = {
    def mul64(x: BigInt, k: Long): BigInt = {
      val kF = BigInt(java.lang.Long.toUnsignedString(k))
      val kLo = BigInt(k & 0xffffffffL)
      ((x % (BigInt(1) << 32)) * kF +
        ((x >> 32) * kLo % (BigInt(1) << 32)) * (BigInt(1) << 32)) % M
    }
    def xorShift(x: BigInt, s: Int): BigInt = {
      // signed wrap -> BIGINT xor -> unsigned unwrap, as the SQL does
      val xs = if (x >= (BigInt(1) << 63)) x - M else x
      val xr = xs.longValue ^ (x >> s).longValue
      if (xr < 0) BigInt(xr) + M else BigInt(xr)
    }
    var h = (mul64(a, graft.functions.DrawMod64.K1) +
      mul64(b, graft.functions.DrawMod64.K2) + c) % M
    h = xorShift(h, 30); h = mul64(h, graft.functions.DrawMod64.C1)
    h = xorShift(h, 27); h = mul64(h, graft.functions.DrawMod64.C2)
    xorShift(h, 31)
  }

  test("scala mix equals the BigInt model of the SQL chain") {
    val cases = Seq[(Long, Long, Long)](
      (0L, 0L, 0L), (1L, 7L, 0L), (12345L, 999L, 3L),
      (4611686018427387904L, 17L, 2L),
      (9223372036854775806L, 1000000007L, 1L),
      (Long.MaxValue, Long.MaxValue, 3L))
    for ((a, b, c) <- cases) {
      val scala = graft.functions.DrawMod64.mix(a, b, c)
      val model = mixModel(BigInt(a), BigInt(b), BigInt(c))
      assert((BigInt(scala) + (if (scala < 0) M else BigInt(0))) === model,
        s"mix($a,$b,$c)")
    }
  }

  test("unsigned remainder matches HUGEINT % n, including sign-bit mixes") {
    // find inputs whose mix has the top bit set — Java % would go
    // negative there; DuckDB HUGEINT % stays in [0, n)
    var negSeen = false
    for (a <- 0L to 200L; n <- Seq(97L, 10000L)) {
      val h = graft.functions.DrawMod64.mix(a, a + 1, 2L)
      if (h < 0) negSeen = true
      val d = graft.functions.DrawMod64.draw(a, a + 1, 2L, n)
      val model = mixModel(BigInt(a), BigInt(a + 1), BigInt(2)) % n
      assert(BigInt(d) === model)
      assert(d >= 0 && d < n)
    }
    assert(negSeen, "test never exercised a sign-bit mix")
  }

  test("codegen and interpreted paths agree; nulls propagate") {
    val df = spark.range(1000)
      .select($"id", expr("draw_mod64(id, id * 31 + 5, id % 4, 1000L)")
        .as("d"))
    val rows = df.collect()
    for (r <- rows) {
      val id = r.getLong(0)
      assert(r.getLong(1) ===
        graft.functions.DrawMod64.draw(id, id * 31 + 5, id % 4, 1000L))
    }
    val nr = Seq(Tuple1(Option.empty[Long])).toDF("x")
      .select(expr("draw_mod64(x, 1L, 2L, 10L)")).head
    assert(nr.isNullAt(0))
  }

  test("draws spread over the item space (no strings, still uniform-ish)") {
    val n = 100L
    val counts = spark.range(20000)
      .select(expr(s"draw_mod64(id div 4, id div 2, id % 4, ${n}L)").as("d"))
      .groupBy($"d").count().collect()
    assert(counts.length === n)
    val cs = counts.map(_.getLong(1))
    assert(cs.min > 100 && cs.max < 320, s"skew: ${cs.min}..${cs.max}")
  }
}
