package graft

import graft.sources.Sources
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** The bounded-heap top-k aggregate must (a) equal the window
  * row_number form exactly, (b) be independent of partitioning —
  * its whole point is that partial heaps merge associatively — and
  * (c) actually plan as ObjectHashAggregate with a partial stage, or
  * the map-side shuffle reduction it exists for isn't happening. */
class TopKAggSpec extends SparkSuite {
  import spark.implicits._

  private def events = {
    Sources.table(spark, sf(), "events")
      .withColumn("cents", round($"value" * 100).cast(LongType))
      .select($"event_type", $"cents", $"event_id")
  }

  private def viaAgg(df: org.apache.spark.sql.DataFrame, k: Int) =
    df.groupBy($"event_type")
      .agg(expr(s"topk_min(struct(cents, event_id), $k)").as("tk"))
      .select($"event_type", explode($"tk").as("t"))
      .select($"event_type", $"t.cents".as("cents"),
        $"t.event_id".as("event_id"))

  private def viaWindow(df: org.apache.spark.sql.DataFrame, k: Int) = {
    val w = Window.partitionBy($"event_type").orderBy($"cents", $"event_id")
    df.withColumn("rn", row_number().over(w)).filter($"rn" <= k)
      .select($"event_type", $"cents", $"event_id")
  }

  test("topk_min equals the window row_number form") {
    val e = events
    Seq(1, 3, 17).foreach { k =>
      val a = viaAgg(e, k).orderBy($"event_type", $"cents", $"event_id")
        .collect().toSeq
      val w = viaWindow(e, k).orderBy($"event_type", $"cents", $"event_id")
        .collect().toSeq
      assert(a == w, s"k=$k mismatch")
    }
  }

  test("topk_min is partitioning-independent") {
    val e = events
    val one = viaAgg(e.repartition(1), 5)
      .orderBy($"event_type", $"cents", $"event_id").collect().toSeq
    val many = viaAgg(e.repartition(13), 5)
      .orderBy($"event_type", $"cents", $"event_id").collect().toSeq
    assert(one == many)
  }

  test("topk_min rejects a null k with a clean analysis error") {
    // CAST(NULL AS INT) is foldable but evaluates to null — must fail
    // the type check ("non-null literal"), not NPE during analysis.
    val ex = intercept[org.apache.spark.sql.AnalysisException] {
      events.groupBy($"event_type")
        .agg(expr("topk_min(struct(cents, event_id), CAST(NULL AS INT))"))
        .queryExecution.analyzed
    }
    assert(ex.getMessage.contains("non-null literal"), ex.getMessage)
  }

  test("topk_min returns the whole group when k exceeds group size") {
    val e = events.filter($"event_id" < 50)
    val all = viaAgg(e, 1000000).count()
    assert(all == e.count())
  }

  test("topk_min orders null struct fields first (Spark ascending default)") {
    val rows = spark.sql("""
      SELECT topk_min(struct(v, id), 2) AS tk FROM VALUES
        (CAST(NULL AS BIGINT), 1L), (10L, 2L), (5L, 3L) AS t(v, id)""")
      .collect().head.getSeq[org.apache.spark.sql.Row](0)
      .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0), r.getLong(1)))
    // NULL sorts FIRST under the interpreted ascending struct order —
    // callers that want nulls ignored must filter before aggregating
    // (the registered queries' sort keys are never null)
    assert(rows == Seq((-1L, 1L), (5L, 3L)))
  }

  test("topk_min plans as ObjectHashAggregate with a partial stage") {
    val p = viaAgg(events, 3).queryExecution.executedPlan.toString
    assert(p.contains("ObjectHashAggregate"),
      s"expected ObjectHashAggregate:\n$p")
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2,
      s"no partial aggregation stage:\n$p")
  }

  // ── distinct-on-insert mode (the graph_anf_kmv single-shuffle) ────

  /** Heavily duplicated input: cents bucketed to 20 distinct values
    * per event_type so every heap sees many order-equal rows. */
  private def dupEvents = {
    Sources.table(spark, sf(), "events")
      .withColumn("b", (round($"value" * 100).cast(LongType) % 20))
      .select($"event_type", $"b")
  }

  test("topk_min_distinct equals distinct-then-topk_min row-for-row") {
    val e = dupEvents
    Seq(1, 5, 8).foreach { k =>
      val oneShuffle = e.groupBy($"event_type")
        .agg(expr(s"topk_min_distinct(struct(b), $k)").as("tk"))
        .select($"event_type", explode($"tk.b").as("b"))
        .orderBy($"event_type", $"b").collect().toSeq
      val twoShuffle = e.distinct().groupBy($"event_type")
        .agg(expr(s"topk_min(struct(b), $k)").as("tk"))
        .select($"event_type", explode($"tk.b").as("b"))
        .orderBy($"event_type", $"b").collect().toSeq
      assert(oneShuffle == twoShuffle, s"k=$k mismatch")
    }
  }

  test("topk_min_distinct is partitioning-independent (dedup across partial merges)") {
    // duplicates land in DIFFERENT partitions, so the dedup must hold
    // through merge(), not just update()
    val e = dupEvents
    def run(parts: Int) = e.repartition(parts).groupBy($"event_type")
      .agg(expr("topk_min_distinct(struct(b), 5)").as("tk"))
      .select($"event_type", explode($"tk.b").as("b"))
      .orderBy($"event_type", $"b").collect().toSeq
    assert(run(1) == run(13))
  }

  test("topk_min_distinct emits no duplicate values within a group") {
    val rows = dupEvents.groupBy($"event_type")
      .agg(expr("topk_min_distinct(struct(b), 8)").as("tk"))
      .select($"event_type", $"tk.b".as("bs")).collect()
    rows.foreach { r =>
      val bs = r.getSeq[Long](1)
      assert(bs.distinct.size == bs.size,
        s"${r.getString(0)}: duplicates in $bs")
    }
  }
}
