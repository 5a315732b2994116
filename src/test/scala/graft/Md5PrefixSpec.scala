package graft

import org.apache.spark.sql.functions._

/** md5_prefix_long must be value-identical to the composed
  * conv(substring(md5(s), 1, n), 16, 10) idiom it replaces — the
  * DuckDB oracles still use the composed form's twin, so any
  * divergence is a hash-gate failure. */
class Md5PrefixSpec extends SparkSuite {
  import spark.implicits._

  test("md5_prefix_long equals the conv(substring(md5)) idiom") {
    val df = spark.range(0L, 10000L)
      .select(concat(lit("doc "), $"id".cast("string")).as("s"))
    val mismatches = df.select(
      expr("md5_prefix_long(s, 14)").as("f14"),
      expr("CAST(conv(substring(md5(s), 1, 14), 16, 10) AS BIGINT)").as("c14"),
      expr("md5_prefix_long(s, 8)").as("f8"),
      expr("CAST(conv(substring(md5(s), 1, 8), 16, 10) AS BIGINT)").as("c8"),
      expr("md5_prefix_long(s, 2)").as("f2"),
      expr("CAST(conv(substring(md5(s), 1, 2), 16, 10) AS BIGINT)").as("c2"))
      .filter($"f14" =!= $"c14" || $"f8" =!= $"c8" || $"f2" =!= $"c2")
      .count()
    assert(mismatches === 0L, "md5_prefix_long diverged from the conv idiom")
  }

  test("md5_prefix_long is codegen'd and null-propagating") {
    val df = spark.range(0L, 10L).select($"id".cast("string").as("s"))
    val p = df.select(expr("md5_prefix_long(s, 14)"))
      .queryExecution.executedPlan.toString
    assert("""\*\(\d+\) Project""".r.findFirstIn(p).isDefined,
      s"md5_prefix_long Project not codegen'd:\n$p")
    val row = spark.sql(
      "SELECT md5_prefix_long(CAST(NULL AS STRING), 14)").collect().head
    assert(row.isNullAt(0), "NULL input must yield NULL")
    // odd / out-of-range widths are analysis-time errors
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT md5_prefix_long('x', 7)").collect()
    }
  }
}
