package graft

import graft.sources.Sources
import org.apache.spark.sql.functions._

/** The HLL register aggregates must (a) agree between their two input
  * shapes (scalar hll_reg_update ≡ hll_reg_merge over one-hot
  * arrays), (b) be independent of partitioning — max-merge is
  * associative/commutative, (c) be idempotent under replay (the
  * at-least-once safety the scaladoc claims), and (d) carry a
  * harmonic estimate within the m=32 error envelope of the exact
  * distinct. The integer register readout itself is hash-gated by
  * `a_hll_users` / `stream_hll_users` / `graph_anf_hll`. */
class RegAggSpec extends SparkSuite {
  import spark.implicits._

  private def hashed = {
    Sources.table(spark, sf(), "events")
      .select($"event_type", $"user_id")
      .withColumn("h", expr("CAST(conv(substring(md5(" +
        "CAST(user_id AS STRING)), 1, 8), 16, 10) AS BIGINT)"))
      .withColumn("idx", expr("CAST(h % 32 AS INT)"))
      .withColumn("w", expr("h div 32"))
      .withColumn("rho", expr(
        "CASE WHEN w = 0L THEN 28L ELSE 28L - length(bin(w)) END"))
  }

  private def regMap(df: org.apache.spark.sql.DataFrame) = df
    .collect().map(r => (r.getString(0), r.getSeq[Long](1).toVector)).toMap

  test("hll_reg_update equals hll_reg_merge over one-hot arrays") {
    val e = hashed
    val viaUpdate = regMap(e.groupBy($"event_type")
      .agg(expr("hll_reg_update(idx, rho, 32)").as("regs")))
    val viaMerge = regMap(e
      .withColumn("onehot", expr(
        "transform(sequence(0, 31), i -> IF(i = idx, rho, 0L))"))
      .groupBy($"event_type")
      .agg(expr("hll_reg_merge(onehot, 32)").as("regs")))
    assert(viaUpdate === viaMerge)
  }

  test("registers are partitioning-independent and replay-idempotent") {
    val e = hashed
    def run(df: org.apache.spark.sql.DataFrame) = regMap(
      df.groupBy($"event_type")
        .agg(expr("hll_reg_update(idx, rho, 32)").as("regs")))
    val one = run(e.repartition(1))
    assert(run(e.repartition(13)) === one, "partitioning must not matter")
    assert(run(e.unionByName(e)) === one,
      "a full replay must merge to the same registers (max(a,a)=a)")
  }

  test("harmonic estimate sits inside the m=32 error envelope") {
    val e = hashed
    val m = 32
    val alpha = 0.697 // alpha_32 (Flajolet et al. 2007, table for m=32)
    val regs = regMap(e.groupBy($"event_type")
      .agg(expr("hll_reg_update(idx, rho, 32)").as("regs")))
    val exact = Sources.table(spark, sf(), "events")
      .groupBy($"event_type").agg(countDistinct($"user_id").as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    exact.foreach { case (et, n) =>
      val rs = regs(et)
      val sumInv = rs.map(r => math.pow(2.0, -r.toDouble)).sum
      val raw = alpha * m * m / sumInv
      val zeros = rs.count(_ == 0L)
      // the standard small-range (linear counting) correction
      val est =
        if (raw <= 2.5 * m && zeros > 0) m * math.log(m.toDouble / zeros)
        else raw
      val relErr = math.abs(est - n) / n.toDouble
      // m=32 gives sigma ~= 1.04/sqrt(32) ~= 18%; 3-sigma bound with
      // headroom for the correction seam. Deterministic per dataset —
      // this pins the current testdata reading, it is not a flaky
      // statistical test.
      assert(relErr < 0.55, s"$et: est=$est exact=$n relErr=$relErr")
    }
  }

  test("hll_reg_update rejects a null m with a clean analysis error") {
    val ex = intercept[org.apache.spark.sql.AnalysisException] {
      hashed.groupBy($"event_type")
        .agg(expr("hll_reg_update(idx, rho, CAST(NULL AS INT))"))
        .queryExecution.analyzed
    }
    assert(ex.getMessage.contains("non-null literal"), ex.getMessage)
  }

  test("anf_hll per-node estimates track the exact per-round reach") {
    // the tolerance pin graph_anf_hll's scaladoc promises: the
    // harmonic estimate derived from the (hash-gated) register state
    // must land near the EXACT reach, per node, per round. The
    // register state of round k IS the HLL sketch of the exact round-k
    // reach set (that identity is what the hash gate proves), so the
    // pin computes exact reach sets on the small trade graph and
    // sketches them with the same md5 register mapping in-process.
    val e0 = Sources.table(spark, sf(), "lineitem")
      .join(Sources.table(spark, sf(), "orders"),
        $"l_orderkey" === $"o_orderkey")
      .select(($"o_custkey" * 2L).as("c"), ($"l_suppkey" * 2L + 1L).as("p"))
      .distinct()
    val edges = e0.select($"c".as("src"), $"p".as("dst"))
      .unionByName(e0.select($"p".as("src"), $"c".as("dst")))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = edges.groupBy(_._1).map { case (s, xs) =>
      (s, xs.map(_._2).toSet) }
    var reach: Map[Long, Set[Long]] =
      edges.map(_._1).distinct.map(n => (n, Set(n))).toMap
    def md5h(v: Long): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(v.toString.getBytes("UTF-8"))
      java.lang.Long.parseLong(
        d.take(4).map(b => f"$b%02x").mkString, 16)
    }
    def estimate(members: Set[Long]): Double = {
      val m = 32
      val regs = new Array[Long](m)
      members.foreach { v =>
        val h = md5h(v)
        val idx = (h % m).toInt
        val w = h / m
        val rho = if (w == 0L) 28L else 28L - (64 - java.lang.Long.numberOfLeadingZeros(w))
        if (rho > regs(idx)) regs(idx) = rho
      }
      val sumInv = regs.map(r => math.pow(2.0, -r.toDouble)).sum
      val raw = 0.697 * m * m / sumInv
      val zeros = regs.count(_ == 0L)
      if (raw <= 2.5 * m && zeros > 0) m * math.log(m.toDouble / zeros)
      else raw
    }
    (1 to 3).foreach { _ =>
      reach = reach.map { case (n, rs) =>
        (n, rs ++ rs.flatMap(r => adj.getOrElse(r, Set.empty[Long])))
      }
    }
    // round-3 reach on the connected trade graph is the saturating
    // case (where the exact bitmap died at scale) — pin there
    val errs = reach.toSeq.map { case (_, rs) =>
      math.abs(estimate(rs) - rs.size) / rs.size.toDouble }
    val meanErr = errs.sum / errs.size
    // m=32: sigma ~= 18%; the MEAN |error| across nodes must sit well
    // inside it (deterministic per dataset — not a flaky bound)
    assert(meanErr < 0.25, s"mean relative error $meanErr")
    assert(errs.max < 0.75, s"worst relative error ${errs.max}")
  }
}
