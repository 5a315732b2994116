package graft

import org.apache.spark.sql.functions._

/** The native bpe_merge expression must be string-identical to the
  * composed HOF fold it replaced (Corpus.mergeFoldExpr's
  * aggregate-over-split accumulator) — the DuckDB oracles replay their
  * own composed arithmetic, so this equivalence is what keeps the BPE
  * family's hash gates honest after the r16 native-expression swap. */
class BpeMergeSpec extends SparkSuite {
  import spark.implicits._

  private def composed = expr(
    graft.operators.Corpus.mergeFoldExpr("bl", "br"))

  test("bpe_merge equals the composed fold on the real fit vocabulary") {
    val docs = graft.sources.Sources.table(spark,
      "/root/testdata/sf0.001", "documents")
    val words = docs
      .select(explode(expr("regexp_extract_all(text, '([A-Za-z]+)')"))
        .as("word")).distinct()
      .withColumn("s", expr("trim(regexp_replace(word, '(.)', '$1 '))"))
    // a real learned rule plus adversarial ones: overlapping symbols,
    // rule where bl is a prefix of a longer symbol, bl == br
    val rules = Seq(("t", "h"), ("th", "e"), ("a", "a"), ("e", "e"),
      ("s", "t"))
    rules.foreach { case (l, r) =>
      val both = words
        .withColumn("bl", lit(l)).withColumn("br", lit(r))
        .withColumn("native", expr("bpe_merge(s, bl, br)"))
        .withColumn("comp", composed)
      assert(both.filter($"native" =!= $"comp").count() === 0,
        s"rule ($l, $r) diverged")
    }
  }

  test("bpe_merge matches the fold on hand-built edge shapes") {
    // single symbol (no pairs), merge at head, merge at tail,
    // consecutive merge candidates (no re-merge within the pass),
    // bl occurring as a suffix of a longer symbol (must NOT merge),
    // repeated bl bl br, and bl == br runs
    val cases = Seq(
      ("a", "a", "b"),
      ("a b", "a", "b"),
      ("x a b", "a", "b"),
      ("a b a b", "a", "b"),
      ("a b b", "a", "b"),      // merged ab then b: ab never re-merges
      ("xa b", "a", "b"),       // last symbol xa endswith a but != a
      ("a a b", "a", "b"),
      ("a a a", "a", "a"),      // bl == br: greedy pairs, no re-merge
      ("th e th e", "th", "e"),
      ("t h t h", "t", "h"))
    val df = cases.toDF("s", "bl", "br")
      .withColumn("native", expr("bpe_merge(s, bl, br)"))
      .withColumn("comp", composed)
    val bad = df.filter($"native" =!= $"comp")
      .select($"s", $"bl", $"br", $"native", $"comp").collect()
    assert(bad.isEmpty, bad.mkString("; "))
    // null propagation
    val n = Seq((null: String, "a", "b")).toDF("s", "bl", "br")
      .select(expr("bpe_merge(s, bl, br)")).head
    assert(n.isNullAt(0))
  }
}
