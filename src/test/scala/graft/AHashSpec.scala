package graft

import org.apache.spark.sql.functions._

/** The native ahash64 expression must be bit-identical to the composed
  * HOF form it replaced (two 32-element conv(substr(hex)) folds) — the
  * DuckDB oracle still replays the hex arithmetic, so this equivalence
  * is what keeps dedup_phash's hash-match honest. */
class AHashSpec extends SparkSuite {
  import spark.implicits._

  test("ahash64 equals the composed hex-fold form on sha256 bytes") {
    val base = spark.range(500)
      .select($"id", hex(unhex(sha2(concat(lit("doc"), $"id"), 256)))
        .as("hh"))
    val both = base
      .withColumn("native", expr("ahash64(unhex(hh))"))
      .withColumn("mean_b", expr(
        """aggregate(transform(sequence(0, 31),
           i -> CAST(conv(substr(hh, 2 * i + 1, 2), 16, 10) AS BIGINT)),
           0L, (a, v) -> a + v) div 32"""))
      .withColumn("composed", expr(
        """aggregate(transform(sequence(0, 31),
           i -> IF(CAST(conv(substr(hh, 2 * i + 1, 2), 16, 10) AS BIGINT)
                   >= mean_b, shiftleft(1L, i), 0L)),
           0L, (a, v) -> a + v)"""))
    assert(both.filter($"native" =!= $"composed").count() === 0)
    // interpreted path agrees with codegen (the eval used by
    // non-codegen contexts)
    val b = Array.tabulate(32)(i => (i * 7 % 256).toByte)
    val viaEval = graft.functions.AHash64.hash(b)
    val viaDf = Seq(Tuple1(b)).toDF("x")
      .select(expr("ahash64(x)")).head.getLong(0)
    assert(viaEval === viaDf)
  }

  test("ahash64 is null on short inputs, never a partial hash") {
    val r = Seq(Tuple1(Array[Byte](1, 2, 3))).toDF("x")
      .select(expr("ahash64(x)")).head
    assert(r.isNullAt(0))
  }
}
