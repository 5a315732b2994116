package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class DigestSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "3").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def digest(df: DataFrame): Digest =
    Digest.of(df.queryExecution.toRdd, df.schema)

  private def rows: DataFrame = {
    import spark.implicits._
    Seq((1L, "a", 1.5, Seq(1, 2)), (2L, "bb", -0.25, Seq.empty[Int]),
      (3L, null, 0.0, Seq(3)), (3L, null, 0.0, Seq(3)))
      .toDF("k", "s", "d", "xs")
  }

  test("digest does not depend on row order or partitioning") {
    val base = digest(rows)
    assert(base.rows == 4)
    assert(digest(rows.orderBy(desc("k"), desc("s"))) == base)
    assert(digest(rows.repartition(3)) == base)
    assert(digest(rows.coalesce(1)) == base)
  }

  test("digest sees every value and every duplicate") {
    val base = digest(rows)
    assert(digest(rows.withColumn("d", when(col("k") === 2, 0.5).otherwise(col("d")))) != base)
    assert(digest(rows.dropDuplicates()).hash != base.hash)
    assert(digest(rows.limit(0)) == Digest(0, 0))
  }

  test("row-count-only rendering for queries without an oracle") {
    assert(Digest(12, 0x1fL).render(withHash = false) == "12")
    assert(Digest(12, 0x1fL).render(withHash = true) == "12:000000000000001f")
  }
}
