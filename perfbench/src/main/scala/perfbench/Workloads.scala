package perfbench

/** A workload: a fixed query list from the program's registry, run
  * over one scale factor of the read-only test data. The list is in
  * pipeline order (in `mta_dbt`, the views before the metrics over
  * them), which the cold pass keeps. README.md records why each was
  * chosen and how it was sized. */
final case class Workload(scale: String, members: Seq[String])

object Workloads {
  val all: Map[String, Workload] = Map(
    // the dbt pipeline: the four fact views and five metrics, all but
    // fact_alerts over one shared fact_trips_stops build
    "mta_dbt" -> Workload("sf0.01", Seq(
      "mta_fact_trips_stops", "mta_fact_trips", "mta_fact_delays",
      "mta_fact_alerts", "mta_m1_trips_per_minute", "mta_m2_trips_per_5min",
      "mta_m5_headways", "mta_m6_dwell", "mta_m7_runtime_ab")),
    // short relational/event queries whose wall is mostly fixed
    // per-query cost
    "event_analytics" -> Workload("sf0.01", Seq(
      "o3_topk", "w2_global_seq", "f_strings", "s5_inline_values",
      "f_arrays", "a3_minmax", "w1_first_pass", "a9_quantiles",
      "a6_condcount", "j2_left_dim", "e_retention")),
    // per-row hashing over the corpus: exact, minhash and LSH dedup
    // over their shared signature frames
    "corpus_dedup" -> Workload("sf0.1", Seq(
      "dedup_exact", "dedup_minhash", "dedup_minhash_est",
      "dedup_lsh_curve")),
    // two micro-batch drains: one stateless sampler, one stateful
    // sketch aggregation
    "stream_drains" -> Workload("sf0.01", Seq(
      "stream_priority_sample", "stream_hll_users")))

  def apply(name: String): Workload =
    all.getOrElse(name, sys.error(s"unknown workload $name"))

  /** The query order of one pass, drawn from the seed and the pass
    * index. They are scrambled before they seed the shuffle: from nearby
    * seeds java.util.Random draws nearly the same first values, so the
    * raw numbers gave most passes and most seeds one order. */
  def order(members: Seq[String], seed: Long, pass: Int): Seq[String] =
    new scala.util.Random(mix(mix(seed) + pass)).shuffle(members.sorted)

  /** SplitMix64's finalizer. */
  private def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}
