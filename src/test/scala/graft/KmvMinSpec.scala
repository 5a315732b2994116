package graft

import graft.sources.Sources
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** The primitive KMV aggregate must equal both the generic
  * struct-heap form (topk_min_distinct) and the distinct-then-window
  * form row-for-row, independent of partitioning — it exists purely
  * as a JIT-stable specialization (sorted long[] + primitive
  * compares; see the scaladoc's bimodality note), so any semantic
  * daylight between it and the generic path is a bug. */
class KmvMinSpec extends SparkSuite {
  import spark.implicits._

  private def hashed = {
    Sources.table(spark, sf(), "events")
      // bucketed so heavy duplication exercises the distinct rule
      .withColumn("h", (round($"value" * 100).cast(LongType) % 50))
      .select($"event_type", $"h")
  }

  private def rows(df: org.apache.spark.sql.DataFrame) = df
    .select($"event_type", explode($"hs").as("h"))
    .orderBy($"event_type", $"h").collect().toSeq

  test("kmv_min equals topk_min_distinct and distinct-then-topk") {
    val e = hashed
    Seq(1, 8, 64).foreach { k =>
      val prim = rows(e.groupBy($"event_type")
        .agg(expr(s"kmv_min(h, $k)").as("hs")))
      val generic = rows(e.groupBy($"event_type")
        .agg(expr(s"topk_min_distinct(struct(h), $k)").as("tk"))
        .select($"event_type", expr("transform(tk, x -> x.h)").as("hs")))
      val window = rows(e.distinct().groupBy($"event_type")
        .agg(expr(s"topk_min(struct(h), $k)").as("tk"))
        .select($"event_type", expr("transform(tk, x -> x.h)").as("hs")))
      assert(prim == generic, s"k=$k: primitive != generic heap")
      assert(prim == window, s"k=$k: primitive != distinct-then-topk")
    }
  }

  test("kmv_min output is sorted ascending and distinct") {
    hashed.groupBy($"event_type").agg(expr("kmv_min(h, 8)").as("hs"))
      .collect().foreach { r =>
        val hs = r.getSeq[Long](1)
        assert(hs == hs.sorted && hs.distinct.size == hs.size,
          s"${r.getString(0)}: $hs")
      }
  }

  test("kmv_min is partitioning-independent (merge law)") {
    val e = hashed
    def run(p: Int) = rows(e.repartition(p).groupBy($"event_type")
      .agg(expr("kmv_min(h, 8)").as("hs")))
    assert(run(1) == run(13))
  }

  test("kmv_min rejects a null k and a non-long input cleanly") {
    val ex = intercept[org.apache.spark.sql.AnalysisException] {
      hashed.groupBy($"event_type")
        .agg(expr("kmv_min(h, CAST(NULL AS INT))"))
        .queryExecution.analyzed
    }
    assert(ex.getMessage.contains("non-null literal"), ex.getMessage)
    val ex2 = intercept[org.apache.spark.sql.AnalysisException] {
      hashed.withColumn("s", $"h".cast("string"))
        .groupBy($"event_type").agg(expr("kmv_min(s, 8)"))
        .queryExecution.analyzed
    }
    assert(ex2.getMessage.contains("BIGINT"), ex2.getMessage)
  }
}
