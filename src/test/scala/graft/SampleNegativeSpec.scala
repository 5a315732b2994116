package graft

import org.apache.spark.sql.functions._

/** sample_negative's GATED surface is a per-cust digest of the
  * surviving draws (r15 verdict #1: the row-level 2.24M-row globally
  * sorted output was what three driver runs punished, not the draw).
  * This spec keeps the ROW-LEVEL form honest: it regenerates the full
  * draw list + rejection anti-join exactly as a training pipeline
  * would materialize it, folds THOSE rows into the digest shape, and
  * asserts row-for-row equality with the registered query — so the
  * digest provably summarizes the real draw set, and a change to
  * either side that drifts from the other fails here before the
  * oracle ever sees it. */
class SampleNegativeSpec extends SparkSuite {
  import spark.implicits._

  test("per-cust digest equals the digest of the row-level draw list") {
    val dir = sf()
    def t(n: String) = graft.sources.Sources.table(spark, dir, n)
    val pos = t("lineitem")
      .join(t("orders"), col("l_orderkey") === col("o_orderkey"))
      .select($"o_custkey".as("cust"), $"l_suppkey".as("item"))
      .distinct()
    val nItems = t("supplier")
      .agg(countDistinct($"s_suppkey").as("n_items"))
    // the row-level training output: every surviving (cust, pos_item,
    // draw_idx, neg_item) row, drawn on 1..n_items
    val rows = pos.crossJoin(broadcast(nItems))
      .select($"cust", $"item",
        explode(expr("array(0L, 1L, 2L, 3L)")).as("draw_idx"), $"n_items")
      .withColumn("neg_item", expr(
        "1L + draw_mod64(CAST(cust AS BIGINT), CAST(item AS BIGINT), " +
          "draw_idx, n_items)"))
      .join(pos.select($"cust", $"item".as("neg_item")),
        Seq("cust", "neg_item"), "left_anti")
    // all negatives land on real supplier keys (the r15 ADVICE
    // off-by-one: item 0 must never be emitted)
    val nI = t("supplier").agg(countDistinct($"s_suppkey")).head.getLong(0)
    val bad = rows.filter($"neg_item" < 1L || $"neg_item" > nI).count()
    assert(bad === 0L)
    // fold the row-level list into the digest shape
    val folded = rows
      .withColumn("row_h", expr(
        "draw_mod64(CAST(cust AS BIGINT), CAST(item AS BIGINT), " +
          "draw_idx * 4294967296L + neg_item, 2147483648L)"))
      .groupBy($"cust")
      .agg(count(lit(1)).as("n_draws"), sum($"row_h").as("digest_sum"))
      .orderBy($"cust")
    val gated = SparkEntry.queries("sample_negative")(spark, dir)
    assert(folded.collect().toSeq === gated.collect().toSeq)
  }
}
