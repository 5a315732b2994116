package graft

import org.apache.spark.sql.functions._

/** The native byte_window_fold must be bit-identical to the composed
  * per-window HOF hex folds it replaced (the DuckDB oracles keep the
  * hex arithmetic, so these equivalences keep the multimodal queries'
  * hash-matches honest). */
class ByteFoldSpec extends SparkSuite {
  import spark.implicits._

  private def base = spark.range(300)
    .select($"id", sha2(concat(lit("doc"), $"id"), 256).as("h"))

  test("mode 'sum' equals the composed conv(substr) window sums") {
    val both = base
      .withColumn("native", expr("byte_window_fold(unhex(h), 8, 'sum')"))
      .withColumn("composed", expr("""transform(sequence(0, 3),
        w -> aggregate(transform(sequence(0, 7), i ->
               CAST(conv(substr(h, 16 * w + 2 * i + 1, 2), 16, 10)
                    AS BIGINT)),
             0L, (a, v) -> a + v))"""))
    assert(both.filter(expr("native != composed")).count() === 0)
  }

  test("mode 'sqdev128' equals the composed energy fold") {
    val both = base
      .withColumn("native",
        expr("byte_window_fold(unhex(h), 8, 'sqdev128')"))
      .withColumn("composed", expr("""transform(sequence(0, 3),
        w -> aggregate(transform(sequence(0, 7), i ->
               CAST(conv(substr(h, 16 * w + 2 * i + 1, 2), 16, 10)
                    AS BIGINT) - 128L),
             0L, (a, v) -> a + v * v))"""))
    assert(both.filter(expr("native != composed")).count() === 0)
  }

  test("trailing partial windows are ignored; bad mode fails analysis") {
    val n = Seq(Tuple1(Array[Byte](1, 2, 3, 4, 5))).toDF("x")
      .select(size(expr("byte_window_fold(x, 2, 'sum')"))).head.getInt(0)
    assert(n === 2)
    val e = intercept[Exception] {
      spark.sql("SELECT byte_window_fold(unhex('00'), 1, 'nope')").collect()
    }
    assert(e.getMessage.contains("sum"))
  }
}
