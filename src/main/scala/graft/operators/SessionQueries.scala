package graft.operators

import graft.Q
import graft.sources.Sources
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Event-pipeline composites: gap-based sessionization, pivot, and the
  * remaining scalar-function families (edit distance, date arithmetic)
  * — all oracle-checked. */
object SessionQueries {

  private def ev(s: SparkSession, dir: String): DataFrame =
    Sources.table(s, dir, "events")

  val queries: Map[String, Q] = Map(

    // ── gap-based sessionization (30-min inactivity boundary) ───────
    // lag → boundary flag → running sum = session id → rollup. Two
    // windows over one user_id shuffle; scales as a single partition-
    // local pass per user.
    "sessionize" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy($"user_id").orderBy($"es", $"event_id")
        val cum = Window.partitionBy($"user_id").orderBy($"es", $"event_id")
          .rowsBetween(Window.unboundedPreceding, 0)
        ev(s, dir)
          .withColumn("es", unix_timestamp($"ts"))
          .withColumn("gap", $"es" - lag($"es", 1).over(w))
          .withColumn("new_sess",
            when($"gap".isNull || $"gap" > 1800, 1L).otherwise(0L))
          .withColumn("sess_id", sum($"new_sess").over(cum))
          .groupBy($"user_id", $"sess_id")
          .agg(count(lit(1)).as("n_events"),
            min($"es").as("start_s"),
            max($"es").as("end_s"),
            (max($"es") - min($"es")).as("duration_s"),
            (sum(round($"value" * 100).cast(LongType)) / 100.0).as("sum_value"))
          .orderBy($"user_id", $"sess_id")
      },
      oracle = Some("""
        WITH e AS (
          SELECT user_id, event_id, value, epoch_us(ts)//1000000 AS es
          FROM events),
        g AS (
          SELECT *, es - lag(es) OVER
            (PARTITION BY user_id ORDER BY es, event_id) AS gap
          FROM e),
        f AS (
          SELECT *, CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END
            AS new_sess FROM g),
        sess AS (
          SELECT *, CAST(sum(new_sess) OVER (PARTITION BY user_id
            ORDER BY es, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS sess_id
          FROM f)
        SELECT user_id, sess_id, count(*) AS n_events,
               min(es) AS start_s, max(es) AS end_s,
               max(es) - min(es) AS duration_s,
               sum(CAST(round(value*100) AS BIGINT))/100.0 AS sum_value
        FROM sess GROUP BY 1, 2 ORDER BY 1, 2"""),
      desc = "gap-based sessionization (lag + running-sum session ids)"),

    // ── native session_window (the streaming-ready operator form) ───
    // The same 30-minute-gap semantics as `sessionize`, but through
    // Spark's session_window grouping — the form that runs UNCHANGED
    // under Structured Streaming with watermark-driven state eviction
    // (StreamingModels uses the stateful variant). Two deliberate
    // deltas from the lag form, pinned by the oracle: windows merge
    // on OVERLAP, so a gap of exactly `gap` starts a NEW session
    // (lag form: `gap > 1800` keeps it; here `gap >= 1800` splits),
    // and the emitted end is last_event + gap (the window bound, not
    // the last event). One shuffle on user_id; the merge is
    // partition-local. */
    "w_session_native" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        ev(s, dir)
          // session on SECOND-floored ts (the events.ts determinism
          // contract): raw micros would merge a pair whose true gap is
          // in [1799s, 1800s) while the oracle's second-floored series
          // splits it — both engines must sessionize the identical
          // second-granularity series
          .groupBy($"user_id",
            session_window(timestamp_seconds(unix_timestamp($"ts")),
              "30 minutes"))
          .agg(count(lit(1)).as("n_events"),
            (sum(round($"value" * 100).cast(LongType)) / 100.0)
              .as("sum_value"))
          .select($"user_id",
            unix_timestamp($"session_window.start").as("start_s"),
            unix_timestamp($"session_window.end").as("end_s"),
            $"n_events", $"sum_value")
          .orderBy($"user_id", $"start_s")
      },
      oracle = Some("""
        WITH e AS (
          SELECT user_id, event_id, value, epoch_us(ts)//1000000 AS es
          FROM events),
        g AS (
          SELECT *, es - lag(es) OVER
            (PARTITION BY user_id ORDER BY es, event_id) AS gap
          FROM e),
        f AS (
          SELECT *, CASE WHEN gap IS NULL OR gap >= 1800 THEN 1 ELSE 0 END
            AS new_sess FROM g),
        sess AS (
          SELECT *, CAST(sum(new_sess) OVER (PARTITION BY user_id
            ORDER BY es, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS sess_id
          FROM f)
        SELECT user_id, min(es) AS start_s, max(es) + 1800 AS end_s,
               count(*) AS n_events,
               sum(CAST(round(value*100) AS BIGINT))/100.0 AS sum_value
        FROM sess GROUP BY user_id, sess_id ORDER BY user_id, start_s"""),
      desc = "native session_window grouping (overlap-merge, end = last + gap)"),

    // ── pivot: event_type counts as columns per user ────────────────
    "a_pivot" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        ev(s, dir)
          .groupBy($"user_id")
          .pivot("event_type",
            Seq("click", "error", "purchase", "refund", "signup"))
          .agg(count(lit(1)))
          .na.fill(0L)
          .orderBy($"user_id")
      },
      oracle = Some("""
        SELECT user_id,
               count(*) FILTER (event_type = 'click') AS click,
               count(*) FILTER (event_type = 'error') AS error,
               count(*) FILTER (event_type = 'purchase') AS purchase,
               count(*) FILTER (event_type = 'refund') AS refund,
               count(*) FILTER (event_type = 'signup') AS signup
        FROM events GROUP BY user_id ORDER BY user_id"""),
      desc = "pivot event_type counts to columns (conditional-agg oracle)"),

    // ── unpivot (melt): wide metric columns back to long ────────────
    // The inverse relational op a_pivot lacks a twin for: a wide
    // per-day metrics frame (one column per event type, the shape
    // dashboards persist) melted back to tidy (day, type, value)
    // rows via Dataset.unpivot — Spark plans it as a single Expand,
    // one pass, no join. The roundtrip (pivot ∘ unpivot = identity on
    // present combinations) makes the oracle a plain GROUP BY; the
    // null filter drops combinations pivot manufactured (absent
    // type-days).
    "a_unpivot" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        val types = Seq("click", "error", "purchase", "signup", "view")
        val wide = ev(s, dir)
          .withColumn("day_i",
            (unix_timestamp($"ts") / 86400L).cast(LongType).as("day_i"))
          .withColumn("cents", round($"value" * 100).cast(LongType))
          .groupBy($"day_i")
          .pivot("event_type", types)
          .agg(sum($"cents"))
        wide.unpivot(Array($"day_i"), types.map(col).toArray,
            "event_type", "cents_sum")
          .filter($"cents_sum".isNotNull)
          .orderBy($"day_i", $"event_type")
      },
      oracle = Some("""
        WITH e AS (
          SELECT (epoch_us(ts)//1000000)//86400 AS day_i, event_type,
                 CAST(round(value*100) AS BIGINT) AS cents
          FROM events)
        SELECT day_i, event_type, CAST(sum(cents) AS BIGINT) AS cents_sum
        FROM e GROUP BY 1, 2 ORDER BY day_i, event_type"""),
      desc = "unpivot/melt wide metric columns to long rows (single Expand)"),

    // ── bucketed range join: pairs within ±300 s ────────────────────
    // The scalable interval-join formulation: left rows probe 3 time
    // buckets (b-1, b, b+1), right rows sit in exactly one, so the
    // equi-join on (user, bucket) bounds candidates and the residual
    // |dt| <= 300 finishes exactly — no quadratic blowup, each true
    // pair produced exactly once. Oracle: DuckDB's native range join.
    "j_range_bucketed" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        val e = ev(s, dir).withColumn("es", unix_timestamp($"ts"))
        val a = e.filter($"event_type" === "purchase")
          .select($"user_id", $"es".as("a_es"), $"event_id".as("a_id"))
          .withColumn("bucket",
            explode(array(($"a_es" / 300L).cast(LongType) - 1,
              ($"a_es" / 300L).cast(LongType),
              ($"a_es" / 300L).cast(LongType) + 1)))
        val b = e.filter($"event_type" === "click")
          .select($"user_id", $"es".as("b_es"), $"event_id".as("b_id"))
          .withColumn("bucket", ($"b_es" / 300L).cast(LongType))
        a.join(b, Seq("user_id", "bucket"))
          .filter(abs($"a_es" - $"b_es") <= 300)
          .select($"user_id", $"a_id", $"b_id", ($"b_es" - $"a_es").as("dt_s"))
          .orderBy($"user_id", $"a_id", $"b_id")
      },
      oracle = Some("""
        WITH e AS (SELECT user_id, event_id, event_type,
                     epoch_us(ts)//1000000 AS es FROM events)
        SELECT a.user_id, a.event_id AS a_id, b.event_id AS b_id,
               b.es - a.es AS dt_s
        FROM e a JOIN e b
          ON a.user_id = b.user_id
         AND b.es BETWEEN a.es - 300 AND a.es + 300
        WHERE a.event_type = 'purchase' AND b.event_type = 'click'
        ORDER BY a.user_id, a_id, b_id"""),
      desc = "range join via time-bucket banding + residual (no all-pairs)"),

    // ── interval-overlap join: sessions × incident windows ──────────
    // The interval×interval member beside j_range_bucketed's
    // point-proximity form (the Flink interval-join / "which sessions
    // ran during an incident" ops question): user sessions (the
    // sessionize chain) against global error-incident windows
    // (10-min buckets holding ≥ 2 errors). A session explodes into
    // the 600-s buckets its span covers — bounded by duration/600+1,
    // never all-pairs — and equi-joins incidents on the bucket; the
    // residual overlap predicate stays as the operator's documented
    // guard. The ORACLE joins on the definitional a_lo ≤ b_hi AND
    // b_lo ≤ a_hi — banding must EQUAL the definition.
    "j_interval_overlap" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy($"user_id").orderBy($"es", $"event_id")
        val cum = w.rowsBetween(Window.unboundedPreceding, 0)
        val sess = ev(s, dir)
          .withColumn("es", unix_timestamp($"ts"))
          .withColumn("gap", $"es" - lag($"es", 1).over(w))
          .withColumn("new_sess",
            when($"gap".isNull || $"gap" > 1800, 1L).otherwise(0L))
          .withColumn("sess_id", sum($"new_sess").over(cum))
          .groupBy($"user_id", $"sess_id")
          .agg(min($"es").as("a_lo"), max($"es").as("a_hi"))
        val inc = ev(s, dir)
          .filter($"event_type" === "error")
          .select((unix_timestamp($"ts") / 600L).cast(LongType).as("bucket"))
          .groupBy($"bucket").agg(count(lit(1)).as("n_errors"))
          .filter($"n_errors" >= 2L)
          .select($"bucket", ($"bucket" * 600L).as("b_lo"),
            ($"bucket" * 600L + 599L).as("b_hi"), $"n_errors")
        sess
          .select($"user_id", $"sess_id", $"a_lo", $"a_hi",
            explode(sequence(expr("a_lo div 600"), expr("a_hi div 600")))
              .as("bucket"))
          .join(inc, Seq("bucket"))
          .filter($"a_lo" <= $"b_hi" && $"b_lo" <= $"a_hi")
          .select($"user_id", $"sess_id", $"a_lo", $"a_hi",
            $"b_lo", $"n_errors",
            (least($"a_hi", $"b_hi") - greatest($"a_lo", $"b_lo"))
              .as("overlap_s"))
          .orderBy($"user_id", $"sess_id", $"b_lo")
      },
      oracle = Some("""
        WITH e AS (
          SELECT user_id, event_id, event_type,
                 epoch_us(ts)//1000000 AS es
          FROM events),
        g AS (
          SELECT *, es - lag(es) OVER
            (PARTITION BY user_id ORDER BY es, event_id) AS gap
          FROM e),
        f AS (
          SELECT *, CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END
            AS new_sess FROM g),
        sx AS (
          SELECT *, CAST(sum(new_sess) OVER (PARTITION BY user_id
            ORDER BY es, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS sess_id
          FROM f),
        sess AS (
          SELECT user_id, sess_id, min(es) AS a_lo, max(es) AS a_hi
          FROM sx GROUP BY 1, 2),
        inc AS (
          SELECT es // 600 AS bucket, count(*) AS n_errors
          FROM e WHERE event_type = 'error'
          GROUP BY 1 HAVING count(*) >= 2)
        SELECT s.user_id, s.sess_id, s.a_lo, s.a_hi,
               i.bucket * 600 AS b_lo, i.n_errors,
               least(s.a_hi, i.bucket * 600 + 599)
                 - greatest(s.a_lo, i.bucket * 600) AS overlap_s
        FROM sess s JOIN inc i
          ON s.a_lo <= i.bucket * 600 + 599
         AND i.bucket * 600 <= s.a_hi
        ORDER BY user_id, sess_id, b_lo"""),
      desc = "interval-overlap join: banded session×incident vs definitional oracle"),

    // ── approximate aggregates: the explicit 100 TB swap-ins ────────
    // Approx sketch VALUES differ between engines by design (SURVEY
    // A9), so they are never hash-compared. Instead the query emits,
    // per group: the exact twins (oracle-comparable) plus BOOLEAN
    // error-bound verdicts on the sketches (HLL rel-err ≤ 5%,
    // approx-p50 within 5% or one cent-decile of exact). The oracle
    // computes the same exact columns and literal TRUEs — a regressed
    // sketch flips its verdict to false and the hash compare fails.
    "a9_approx" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        val base = ev(s, dir)
          .withColumn("cents", round($"value" * 100).cast(LongType))
        // Exact twins come from their own shuffle-parallel passes —
        // p50 via a (cents, freq) histogram + weighted percentile,
        // distinct users via a two-level aggregation — so the sketch
        // pass carries NO countDistinct (which would wrap the whole
        // input in an Expand and double the rows fed to the sketches).
        // All three aggregates join on the 5-row group key.
        val exactP = base.groupBy($"event_type", $"cents")
          .agg(count(lit(1)).as("freq"))
          .groupBy($"event_type")
          .agg(percentile($"cents", lit(0.5), $"freq").as("p50_exact"))
        val exactU = base.groupBy($"event_type", $"user_id")
          .agg(count(lit(1)).as("_c"))
          .groupBy($"event_type")
          .agg(count(lit(1)).as("exact_users"))
        base
          .groupBy($"event_type")
          .agg(
            // rsd 2% so the sketch's configured accuracy is tighter
            // than the 5% bound asserted below (default rsd is 5% —
            // the bound would flag ordinary sketch noise, not
            // regressions)
            approx_count_distinct($"user_id", 0.02).as("approx_users"),
            percentile_approx($"cents", lit(0.5), lit(10000)).as("p50_approx"),
            count(lit(1)).as("n"))
          .join(exactU, Seq("event_type"))
          .join(exactP, Seq("event_type"))
          .select($"event_type", $"n", $"exact_users", $"p50_exact",
            (abs($"approx_users" - $"exact_users").cast("double") /
              $"exact_users" <= 0.05).as("users_ok"),
            (abs($"p50_approx" - $"p50_exact") <=
              greatest(abs($"p50_exact") * 0.05, lit(100.0))).as("p50_ok"))
          .orderBy($"event_type")
      },
      oracle = Some("""
        SELECT event_type,
               count(*) AS n,
               count(DISTINCT user_id) AS exact_users,
               quantile_cont(CAST(round(value*100) AS BIGINT), 0.5)
                 AS p50_exact,
               TRUE AS users_ok,
               TRUE AS p50_ok
        FROM events GROUP BY event_type ORDER BY event_type"""),
      desc = "approx sketches: exact twins + boolean error-bound verdicts"),

    // ── edit distance + extra string functions ──────────────────────
    "f_levenshtein" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        val p = Sources.table(s, dir, "part")
        p.filter($"p_partkey" <= 200)
          .select($"p_partkey",
            levenshtein($"p_brand", $"p_type").as("lev_brand_type"),
            concat(upper(substring($"p_brand", 1, 1)),
              lower(substring($"p_brand", 2, 1000))).as("brand_ic"),
            lpad($"p_partkey".cast(StringType), 8, "0").as("key_padded"),
            translate($"p_brand", "#", "-").as("brand_tr"),
            reverse($"p_brand").as("brand_rev"))
          .orderBy($"p_partkey")
      },
      oracle = Some("""
        SELECT p_partkey,
               levenshtein(p_brand, p_type) AS lev_brand_type,
               upper(substr(p_brand, 1, 1)) || lower(substr(p_brand, 2, 1000))
                 AS brand_ic,
               lpad(CAST(p_partkey AS VARCHAR), 8, '0') AS key_padded,
               replace(p_brand, '#', '-') AS brand_tr,
               reverse(p_brand) AS brand_rev
        FROM part WHERE p_partkey <= 200 ORDER BY p_partkey"""),
      desc = "edit distance + initcap/lpad/translate/reverse"),

    // ── statistical aggregates from exact integer moments ───────────
    // corr/covar/stddev are order-dependent double reductions in every
    // engine; deriving them from exact integral moments (sum x, sum y,
    // sum xy, sum x², n in cents) makes them bit-reproducible while
    // keeping the single-pass map-side-combinable shape.
    "a_corr_moments" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        val x = round($"l_quantity" * 100).cast(LongType)
        val y = round($"l_discount" * 100).cast(LongType)
        Sources.table(s, dir, "lineitem")
          .select($"l_returnflag", x.as("x"), y.as("y"))
          .groupBy($"l_returnflag")
          .agg(count(lit(1)).as("n"), sum($"x").as("sx"), sum($"y").as("sy"),
            sum($"x" * $"y").as("sxy"), sum($"x" * $"x").as("sxx"),
            sum($"y" * $"y").as("syy"))
          .select($"l_returnflag", $"n",
            (($"sxy".cast("double") - $"sx".cast("double") * $"sy" / $"n") /
              ($"n" - 1)).as("covar_cents2"),
            sqrt(($"sxx".cast("double") - $"sx".cast("double") * $"sx" / $"n") /
              ($"n" - 1)).as("stddev_x_cents"),
            (($"sxy".cast("double") - $"sx".cast("double") * $"sy" / $"n") /
              (sqrt($"sxx".cast("double") - $"sx".cast("double") * $"sx" / $"n") *
               sqrt($"syy".cast("double") - $"sy".cast("double") * $"sy" / $"n")))
              .as("corr_xy"))
          .orderBy($"l_returnflag")
      },
      oracle = Some("""
        WITH m AS (
          SELECT l_returnflag,
                 CAST(round(l_quantity*100) AS BIGINT) AS x,
                 CAST(round(l_discount*100) AS BIGINT) AS y
          FROM lineitem),
        agg AS (
          SELECT l_returnflag, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
                 sum(x*y) AS sxy, sum(x*x) AS sxx, sum(y*y) AS syy
          FROM m GROUP BY 1)
        SELECT l_returnflag, n,
               (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*sy/n) / (n-1)
                 AS covar_cents2,
               sqrt((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*sx/n) / (n-1))
                 AS stddev_x_cents,
               (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*sy/n)
                 / (sqrt(CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*sx/n)
                    * sqrt(CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)*sy/n))
                 AS corr_xy
        FROM agg ORDER BY l_returnflag"""),
      desc = "corr/covar/stddev from exact integer moments (deterministic)"),

    // ── date arithmetic family ──────────────────────────────────────
    "f_dates" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        Sources.table(s, dir, "orders")
          .filter($"o_orderkey" <= 2000)
          .withColumn("d", to_date($"o_orderdate"))
          .select($"o_orderkey",
            date_format($"d", "yyyy-MM-dd").as("day"),
            date_format(add_months($"d", 2), "yyyy-MM-dd").as("plus2m"),
            date_format(last_day($"d"), "yyyy-MM-dd").as("month_end"),
            datediff(lit("2026-01-01").cast(DateType), $"d").as("age_days"),
            year($"d").as("y"), quarter($"d").as("q"),
            month($"d").as("m"), dayofmonth($"d").as("dom"),
            weekofyear($"d").as("iso_week"))
          .orderBy($"o_orderkey")
      },
      oracle = Some("""
        WITH o AS (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d
                   FROM orders WHERE o_orderkey <= 2000)
        SELECT o_orderkey,
               strftime(d, '%Y-%m-%d') AS day,
               strftime(d + INTERVAL 2 MONTH, '%Y-%m-%d') AS plus2m,
               strftime(last_day(d), '%Y-%m-%d') AS month_end,
               date_diff('day', d, DATE '2026-01-01') AS age_days,
               year(d) AS y, quarter(d) AS q,
               month(d) AS m, dayofmonth(d) AS dom,
               weekofyear(d) AS iso_week
        FROM o ORDER BY o_orderkey"""),
      desc = "date arithmetic: add_months/last_day/datediff/extract family"),

    // ── mergeable-sketch re-aggregation (partial → union) ───────────
    // The pattern a 100 TB rollup system lives on: per-(event_type,
    // day) HLL partials built ONCE in a daily job, then re-aggregated
    // to coarser grains by sketch UNION — no re-scan of raw events.
    // HLL merges are commutative/associative register-max, so the
    // estimate is partitioning-independent. The exact distinct twin
    // runs as its own two-level pass (never in the same agg as the
    // sketch — the Expand-doubling rule) and the emitted verdict
    // bounds the estimate at 5%, same contract as a9_approx.
    "a_sketch_merge" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        val base = ev(s, dir)
          .select($"event_type", $"user_id",
            (unix_timestamp($"ts") / 86400L).cast(LongType).as("day"))
        val partials = base
          .groupBy($"event_type", $"day")
          .agg(hll_sketch_agg($"user_id").as("sk"))
        val merged = partials
          .groupBy($"event_type")
          .agg(count(lit(1)).as("n_days"),
               hll_sketch_estimate(hll_union_agg($"sk")).as("est_users"))
        val exact = base
          .groupBy($"event_type", $"user_id").agg(count(lit(1)).as("_c"))
          .groupBy($"event_type")
          .agg(count(lit(1)).as("exact_users"))
        merged.join(exact, Seq("event_type"))
          .select($"event_type", $"n_days", $"exact_users",
            (abs($"est_users" - $"exact_users").cast("double") /
              $"exact_users" <= 0.05).as("users_ok"))
          .orderBy($"event_type")
      },
      oracle = Some("""
        WITH base AS (
          SELECT event_type, user_id,
                 (epoch_us(ts)//1000000)//86400 AS day
          FROM events)
        SELECT event_type,
               count(DISTINCT day) AS n_days,
               count(DISTINCT user_id) AS exact_users,
               TRUE AS users_ok
        FROM base GROUP BY event_type ORDER BY event_type"""),
      desc = "HLL partial sketches re-aggregated by union + exact twin verdict"),

    // ── HLL set-intersection estimate (inclusion–exclusion) ─────────
    // The audience-overlap question ("how many users does shard A
    // share with shard B?") answered from the SAME per-shard HLL
    // partials a_sketch_merge persists — no re-scan, no exact-distinct
    // join: |A∩B| ≈ est(A) + est(B) − est(A∪B), with the union sketch
    // a register-max merge of the two. Inclusion–exclusion AMPLIFIES
    // the sketch error (three ±ε estimates of union-sized magnitudes),
    // so the verdict bound is 10% of the exact union — looser than
    // a_sketch_merge's 5% single-sketch bound, and the reason a real
    // pipeline keeps the exact twin beside it. Sides = event_id
    // parity (two halves of the same traffic). Exact twin runs as its
    // own two-level pass (never in the sketch agg — the Expand rule).
    "a_sketch_overlap" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        val base = ev(s, dir)
          .select($"event_type", $"user_id",
            ($"event_id" % 2 === 0).as("in_a"))
        val sk = base.groupBy($"event_type")
          .agg(
            hll_sketch_agg(when($"in_a", $"user_id")).as("sk_a"),
            hll_sketch_agg(when(!$"in_a", $"user_id")).as("sk_b"))
          .select($"event_type",
            hll_sketch_estimate($"sk_a").as("est_a"),
            hll_sketch_estimate($"sk_b").as("est_b"),
            hll_sketch_estimate(hll_union($"sk_a", $"sk_b")).as("est_u"))
          .withColumn("est_inter",
            greatest($"est_a" + $"est_b" - $"est_u", lit(0.0)))
        val exact = base
          .groupBy($"event_type", $"user_id")
          .agg(max(when($"in_a", 1L).otherwise(0L)).as("a"),
               max(when(!$"in_a", 1L).otherwise(0L)).as("b"))
          .groupBy($"event_type")
          .agg(sum(when($"a" === 1 && $"b" === 1, 1L).otherwise(0L))
                 .as("exact_inter"),
               count(lit(1)).as("exact_union"))
        sk.join(exact, Seq("event_type"))
          .select($"event_type", $"exact_inter", $"exact_union",
            (abs($"est_inter" - $"exact_inter") <=
              $"exact_union" * 0.10 + 1.0).as("inter_ok"))
          .orderBy($"event_type")
      },
      oracle = Some("""
        WITH base AS (
          SELECT event_type, user_id, event_id % 2 = 0 AS in_a
          FROM events),
        per_user AS (
          SELECT event_type, user_id,
                 max(CASE WHEN in_a THEN 1 ELSE 0 END) AS a,
                 max(CASE WHEN NOT in_a THEN 1 ELSE 0 END) AS b
          FROM base GROUP BY 1, 2)
        SELECT event_type,
               CAST(sum(CASE WHEN a = 1 AND b = 1 THEN 1 ELSE 0 END)
                 AS BIGINT) AS exact_inter,
               count(*) AS exact_union,
               TRUE AS inter_ok
        FROM per_user GROUP BY event_type ORDER BY event_type"""),
      desc = "HLL inclusion-exclusion overlap estimate + exact twin verdict"),

    // ── rolling 7-day distinct users from daily HLL partials ────────
    // The trailing-window MAU/WAU rollup: each calendar day's value
    // unions the last 7 days' persisted sketches — never re-scans raw
    // events. The window is EQUI-shaped: a day's partial explodes to
    // the 7 target days it serves (day..day+6), then one hash agg of
    // register-max unions per target — no range join, no
    // nested-loop, and the exploded frame is 7 × days × types, tiny
    // at any corpus scale. Exact twin re-aggregates the distinct
    // (day, user) frame through the same offset explode (linear, one
    // countDistinct); verdict = a_sketch_merge's 5% contract.
    "a_rolling_distinct" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        val base = ev(s, dir)
          .select($"user_id",
            (unix_timestamp($"ts") / 86400L).cast(LongType).as("day"))
        val days = base.select($"day").distinct()
        val est = base
          .groupBy($"day").agg(hll_sketch_agg($"user_id").as("sk"))
          .withColumn("d", explode(sequence($"day", $"day" + 6)))
          .groupBy($"d")
          .agg(hll_sketch_estimate(hll_union_agg($"sk")).as("est_u7"))
        val exact = base.distinct()
          .withColumn("d", explode(sequence($"day", $"day" + 6)))
          .groupBy($"d")
          .agg(countDistinct($"user_id").as("exact_u7"))
        days.select($"day".as("d"))
          .join(est, Seq("d")).join(exact, Seq("d"))
          .select($"d".as("day_i"), $"exact_u7",
            (abs($"est_u7" - $"exact_u7").cast("double") / $"exact_u7"
              <= 0.05).as("u7_ok"))
          .orderBy($"day_i")
      },
      oracle = Some("""
        WITH base AS (
          SELECT DISTINCT user_id,
                 (epoch_us(ts)//1000000)//86400 AS day
          FROM events),
        days AS (SELECT DISTINCT day FROM base),
        win AS (
          SELECT b.day + off.o AS d, b.user_id
          FROM base b, (SELECT unnest(range(0, 7)) AS o) off),
        ex AS (
          SELECT d, count(DISTINCT user_id) AS exact_u7
          FROM win GROUP BY d)
        SELECT days.day AS day_i, ex.exact_u7, TRUE AS u7_ok
        FROM days JOIN ex ON ex.d = days.day
        ORDER BY day_i"""),
      desc = "rolling 7-day distinct via daily HLL partials + exact twin"),

    // ── exact mergeable distinct: bitmap words (Roaring posture) ────
    // The EXACT twin of the a_sketch_merge pattern: per-(type, day)
    // partials that re-aggregate to coarser grains without rescanning
    // raw events — but lossless. User ids are packed into 32-bit
    // bitmap words (word = id div 32, bit = id mod 32; 32 not 64 so
    // the 1<<bit mask never hits the signed-overflow edge any SQL
    // engine trips on); daily partials OR-merge per word, popcount
    // sums to the exact distinct. Shuffle volume is one long per 32
    // users per group — the RoaringBitmap layout, flattened to rows so
    // it stays a plain hash agg. Assumes a dense id space: at 100 TB
    // you dictionary-encode ids first (a broadcast dim or the
    // dedup_components label frame), then the word frame is
    // corpus-size / 32 regardless of key skew. 32-bit shift stays in
    // two's-complement range on both engines, so the words themselves
    // hash-match (emitted via xor-fold as a checksum column).
    "a_bitmap_distinct" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        val base = ev(s, dir)
          .select($"event_type", $"user_id",
            (unix_timestamp($"ts") / 86400L).cast(LongType).as("day"))
        val daily = base
          .withColumn("word", ($"user_id" / 32L).cast(LongType))
          .withColumn("mask",
            expr("shiftleft(1L, cast(user_id % 32 as int))"))
          .groupBy($"event_type", $"day", $"word")
          .agg(bit_or($"mask").as("m"))
        val merged = daily
          .groupBy($"event_type", $"word")
          .agg(bit_or($"m").as("m"))
        val nDays = daily
          .groupBy($"event_type")
          .agg(countDistinct($"day").as("n_days"))
        merged
          .groupBy($"event_type")
          .agg(sum(bit_count($"m")).cast(LongType).as("users"),
               sum($"m".bitwiseXOR($"word")).cast(LongType).as("checksum"))
          .join(nDays, Seq("event_type"))
          .select($"event_type", $"n_days", $"users", $"checksum")
          .orderBy($"event_type")
      },
      oracle = Some("""
        WITH base AS (
          SELECT event_type, user_id,
                 (epoch_us(ts)//1000000)//86400 AS day
          FROM events),
        daily AS (
          SELECT event_type, day, user_id//32 AS word,
                 bit_or(1::BIGINT << CAST(user_id % 32 AS INT)) AS m
          FROM base GROUP BY 1, 2, 3),
        merged AS (
          SELECT event_type, word, bit_or(m) AS m
          FROM daily GROUP BY 1, 2),
        nd AS (
          SELECT event_type, count(DISTINCT day) AS n_days
          FROM daily GROUP BY 1)
        SELECT m.event_type, nd.n_days,
               CAST(sum(bit_count(m.m)) AS BIGINT) AS users,
               CAST(sum(xor(m.m, m.word)) AS BIGINT) AS checksum
        FROM merged m JOIN nd ON nd.event_type = m.event_type
        GROUP BY m.event_type, nd.n_days ORDER BY m.event_type"""),
      desc = "exact mergeable distinct via 32-bit bitmap words (Roaring posture)"),

    // ── Count-Min sketch: mergeable frequency estimation ────────────
    // The frequency-estimation member of the mergeable-partials
    // family (HLL = distinct, SpaceSaving = top-k, CMS = point
    // frequency): d=3 hash rows × w=64 counters per (day) partial,
    // merged across days by plain counter SUM (CMS merges are
    // element-wise addition, so the rollup never rescans raw events).
    // Unlike the probabilistic sketches, every number here is
    // DETERMINISTIC integer arithmetic over md5-prefix hashes — the
    // estimates themselves hash-match the oracle, and the CMS
    // invariant est ≥ exact is emitted as a verdict column the oracle
    // recomputes. Probe set = the event keys of users 0..9 (bounded
    // output); the sketch frame is d·w = 192 counters regardless of
    // corpus size — the entire merged sketch broadcasts to the probe
    // join at any scale.
    "a_cms" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        val base = ev(s, dir)
          .select(concat($"event_type", lit(":"), $"user_id").as("key"),
            $"user_id",
            (unix_timestamp($"ts") / 86400L).cast(LongType).as("day"))
        val hashed = base
          .withColumn("r", explode(array(
            (0 until graft.functions.Md5PrefixLong.CmsRows).map(lit): _*)))
          .withColumn("bucket",
            graft.functions.Md5PrefixLong.cmsBucket("r", "key"))
        val daily = hashed
          .groupBy($"day", $"r", $"bucket")
          .agg(count(lit(1)).as("cnt"))
        val merged = daily
          .groupBy($"r", $"bucket")
          .agg(sum($"cnt").as("c"))
        val probes = base
          .filter($"user_id" < 10)
          .groupBy($"key")
          .agg(count(lit(1)).as("exact_n"))
          .withColumn("r", explode(array(
            (0 until graft.functions.Md5PrefixLong.CmsRows).map(lit): _*)))
          .withColumn("bucket",
            graft.functions.Md5PrefixLong.cmsBucket("r", "key"))
        probes
          .join(broadcast(merged), Seq("r", "bucket"))
          .groupBy($"key")
          .agg(max($"exact_n").as("exact_n"), min($"c").as("est_n"))
          .select($"key", $"exact_n", $"est_n",
            ($"est_n" >= $"exact_n").as("ge_exact"))
          .orderBy($"key")
      },
      oracle = Some("""
        WITH base AS (
          SELECT event_type || ':' || CAST(user_id AS VARCHAR) AS key,
                 user_id,
                 (epoch_us(ts)//1000000)//86400 AS day
          FROM events),
        hashed AS (
          SELECT day, r.r, key,
                 ('0x' || substr(md5(CAST(r.r AS VARCHAR) || '#' || key),
                                 1, 14))::BIGINT % 64 AS bucket
          FROM base, (SELECT unnest([0, 1, 2]) AS r) r),
        daily AS (
          SELECT day, r, bucket, count(*) AS cnt
          FROM hashed GROUP BY 1, 2, 3),
        merged AS (
          SELECT r, bucket, sum(cnt) AS c FROM daily GROUP BY 1, 2),
        probes AS (
          SELECT key, count(*) AS exact_n FROM base
          WHERE user_id < 10 GROUP BY 1),
        ph AS (
          SELECT p.key, p.exact_n, r.r,
                 ('0x' || substr(md5(CAST(r.r AS VARCHAR) || '#' || p.key),
                                 1, 14))::BIGINT % 64 AS bucket
          FROM probes p, (SELECT unnest([0, 1, 2]) AS r) r)
        SELECT ph.key, max(ph.exact_n) AS exact_n,
               CAST(min(m.c) AS BIGINT) AS est_n,
               CAST(min(m.c) AS BIGINT) >= max(ph.exact_n) AS ge_exact
        FROM ph JOIN merged m ON m.r = ph.r AND m.bucket = ph.bucket
        GROUP BY ph.key ORDER BY ph.key"""),
      desc = "Count-Min sketch: day partials sum-merged + exact-twin verdict"),

    // ── CMS join-size estimation (the planner's cardinality oracle) ─
    // The AGMS/CMS inner-product estimate (Alon-Matias-Szegedy 1996;
    // Cormode-Muthukrishnan 2005): |A ⋈ B| on a key = Σ_k cA(k)·cB(k),
    // estimated WITHOUT touching the keys as min_r Σ_b
    // cmsA[r][b]·cmsB[r][b] — one 192-counter sketch per side,
    // mergeable across shards/days by counter sum, and the estimate
    // is a one-sided ≥ bound exactly like the point CMS. This is how
    // a planner sizes a join between two 100 TB inputs from
    // kilobytes of statistics. Both the estimate and the exact twin
    // (per-key count equi-join) are emitted with the error in ppm —
    // every number integer, both engines replay it. A-side = view
    // events, B-side = purchase events, key = user_id.
    "a_cms_join_size" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        val base = ev(s, dir)
          .select($"event_type", $"user_id",
            $"user_id".cast("string").as("key"))
        val sideA = base.filter($"event_type" === "view")
        val sideB = base.filter($"event_type" === "purchase")
        def cms(df: org.apache.spark.sql.DataFrame) = df
          .withColumn("r", explode(array(
            (0 until graft.functions.Md5PrefixLong.CmsRows).map(lit): _*)))
          .withColumn("bucket",
            graft.functions.Md5PrefixLong.cmsBucket("r", "key"))
          .groupBy($"r", $"bucket").agg(count(lit(1)).as("c"))
        val est = cms(sideA).withColumnRenamed("c", "ca")
          .join(cms(sideB).withColumnRenamed("c", "cb"),
            Seq("r", "bucket"))
          .groupBy($"r").agg(sum($"ca" * $"cb").as("est_r"))
          .agg(min($"est_r").as("est_join"))
        val exact = sideA.groupBy($"user_id").agg(count(lit(1)).as("na"))
          .join(sideB.groupBy($"user_id").agg(count(lit(1)).as("nb")),
            Seq("user_id"))
          .agg(coalesce(sum($"na" * $"nb"), lit(0L)).as("exact_join"))
        val sizes = sideA.agg(count(lit(1)).as("n_a"))
          .crossJoin(sideB.agg(count(lit(1)).as("n_b")))
        sizes.crossJoin(broadcast(exact)).crossJoin(broadcast(est))
          .select($"n_a", $"n_b", $"exact_join", $"est_join",
            ($"est_join" >= $"exact_join").as("ge_exact"),
            expr("(est_join - exact_join) * 1000000 " +
              "div nullif(exact_join, 0)").as("err_ppm"))
      },
      oracle = Some("""
        WITH js_b AS (
          SELECT event_type, user_id, CAST(user_id AS VARCHAR) AS key
          FROM events),
        js_a AS (SELECT * FROM js_b WHERE event_type = 'view'),
        js_p AS (SELECT * FROM js_b WHERE event_type = 'purchase'),
        js_ca AS (
          SELECT r.r,
                 ('0x' || substr(md5(CAST(r.r AS VARCHAR) || '#' || key),
                                 1, 14))::BIGINT % 64 AS bucket,
                 CAST(count(*) AS BIGINT) AS ca
          FROM js_a, (SELECT unnest([0, 1, 2]) AS r) r GROUP BY 1, 2),
        js_cb AS (
          SELECT r.r,
                 ('0x' || substr(md5(CAST(r.r AS VARCHAR) || '#' || key),
                                 1, 14))::BIGINT % 64 AS bucket,
                 CAST(count(*) AS BIGINT) AS cb
          FROM js_p, (SELECT unnest([0, 1, 2]) AS r) r GROUP BY 1, 2),
        js_est AS (
          SELECT CAST(min(est_r) AS BIGINT) AS est_join FROM (
            SELECT a.r, sum(a.ca * b.cb) AS est_r
            FROM js_ca a JOIN js_cb b ON a.r = b.r AND a.bucket = b.bucket
            GROUP BY a.r)),
        js_ex AS (
          SELECT CAST(COALESCE(sum(na * nb), 0) AS BIGINT) AS exact_join
          FROM (SELECT user_id, count(*) AS na FROM js_a GROUP BY 1) a
          JOIN (SELECT user_id, count(*) AS nb FROM js_p GROUP BY 1) b
            USING (user_id)),
        js_n AS (
          SELECT (SELECT CAST(count(*) AS BIGINT) FROM js_a) AS n_a,
                 (SELECT CAST(count(*) AS BIGINT) FROM js_p) AS n_b)
        SELECT n.n_a, n.n_b, x.exact_join, e.est_join,
               e.est_join >= x.exact_join AS ge_exact,
               (e.est_join - x.exact_join) * 1000000
                 // NULLIF(x.exact_join, 0) AS err_ppm
        FROM js_n n CROSS JOIN js_ex x CROSS JOIN js_est e"""),
      desc = "CMS join-size estimate: sketch inner product vs exact per-key join, error in ppm"),

    // ── path-to-conversion: ordered event journey per converter ─────
    // For every user with a purchase: the full ordered event-type
    // path up to and including the FIRST purchase, rendered as one
    // string — the marketing-journey frame attribution models read.
    // Total order (es, event_id) everywhere; the path is assembled by
    // sorting the collected structs (array_sort on struct fields is
    // the lexicographic order both engines share), never by relying
    // on collect order. The first purchase is a whole-partition MIN
    // window over the same user_id partitioning the rollup rides —
    // NOT a join against a converters frame, which is users-sized
    // and gets broadcast (the e_retention scale-killer class; the
    // plan audit pins one hash exchange, no broadcast). Per-user
    // state is bounded by the pre-conversion prefix.
    "e_path_to_conversion" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        val e = ev(s, dir)
          .select($"user_id", $"event_id", $"event_type",
            unix_timestamp($"ts").as("es"))
        val wAll = Window.partitionBy($"user_id")
        e.withColumn("conv",
            min(when($"event_type" === "purchase",
              struct($"es", $"event_id"))).over(wAll))
          .filter($"conv".isNotNull &&
            struct($"es", $"event_id") <= $"conv")
          .groupBy($"user_id", $"conv.es".as("conv_s"))
          .agg(count(lit(1)).as("path_len"),
            array_join(
              transform(
                array_sort(collect_list(struct($"es", $"event_id",
                  $"event_type"))),
                x => x.getField("event_type")),
              " > ").as("path"))
          .orderBy($"user_id")
      },
      oracle = Some("""
        WITH e AS (
          SELECT user_id, event_id, event_type,
                 epoch_us(ts)//1000000 AS es
          FROM events),
        p AS (
          SELECT user_id, es AS conv_s, event_id AS p_eid FROM (
            SELECT *, row_number() OVER (PARTITION BY user_id
                        ORDER BY es, event_id) AS rn
            FROM e WHERE event_type = 'purchase')
          WHERE rn = 1),
        pe AS (
          SELECT e.user_id, p.conv_s, e.event_type, e.es, e.event_id
          FROM e JOIN p ON p.user_id = e.user_id
          WHERE e.es < p.conv_s
             OR (e.es = p.conv_s AND e.event_id <= p.p_eid))
        SELECT user_id, conv_s, count(*) AS path_len,
               string_agg(event_type, ' > ' ORDER BY es, event_id) AS path
        FROM pe GROUP BY user_id, conv_s ORDER BY user_id"""),
      desc = "ordered event path up to first purchase per converting user"),

    // ── CEP sequence-pattern matching (batch MATCH_RECOGNIZE) ───────
    // Flink-CEP / MATCH_RECOGNIZE semantics on batch: the per-user
    // ordered event sequence renders to a one-char-per-event string
    // (c/e/p/s/v — the five types' distinct initials), and the
    // pattern "view, then click, then purchase, with no intervening
    // error" compiles to the regex v[^e]*c[^e]*p over it — leftmost
    // non-overlapping matches, identical Perl-class semantics in Java
    // regex and RE2 (explicit char classes only, per the cross-engine
    // regex invariant). Per-user state is one sorted array (the
    // sessionize bound); after the single user_id exchange the
    // matching is pure per-row string work, embarrassingly parallel.
    // first_span = the leftmost match's event count (its string
    // length), the CEP "how long did the journey take" readout.
    "w_pattern_match" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        ev(s, dir)
          .select($"user_id", $"event_id",
            unix_timestamp($"ts").as("es"), $"event_type")
          .groupBy($"user_id")
          .agg(count(lit(1)).as("n_events"),
            array_join(transform(
              array_sort(collect_list(struct($"es", $"event_id",
                $"event_type"))),
              x => substring(x.getField("event_type"), 1, 1)), "")
              .as("seq"))
          .withColumn("ms",
            expr("regexp_extract_all(seq, 'v[^e]*c[^e]*p', 0)"))
          .select($"user_id", $"n_events",
            size($"ms").cast(LongType).as("n_matches"),
            when(size($"ms") > 0, length(element_at($"ms", 1)))
              .otherwise(0).cast(LongType).as("first_span"))
          .orderBy($"user_id")
      },
      oracle = Some("""
        WITH e AS (
          SELECT user_id, event_id, epoch_us(ts)//1000000 AS es,
                 substr(event_type, 1, 1) AS c
          FROM events),
        sq AS (
          SELECT user_id, count(*) AS n_events,
                 string_agg(c, '' ORDER BY es, event_id) AS seq
          FROM e GROUP BY user_id),
        m AS (
          SELECT user_id, n_events,
                 regexp_extract_all(seq, 'v[^e]*c[^e]*p') AS ms
          FROM sq)
        SELECT user_id, n_events,
               CAST(len(ms) AS BIGINT) AS n_matches,
               CAST(CASE WHEN len(ms) > 0 THEN length(ms[1])
                         ELSE 0 END AS BIGINT) AS first_span
        FROM m ORDER BY user_id"""),
      desc = "CEP pattern match: view→click→purchase with no error between"),

    // ── exact integer EWMA (recursive smoothing, no UDF) ────────────
    // Per-user exponentially weighted moving average of event cents
    // with α = 1/2 in EXACT integer arithmetic: s ← (s + x) div 2,
    // folded over the (es, event_id)-sorted series by the `aggregate`
    // higher-order function — a RECURSIVE per-row dependency no
    // window frame can express, and the float version of which could
    // never hash-match across engines. DuckDB twin: list_reduce over
    // the same ordered list (its first element seeds the fold, which
    // matches aggregate's slice(2..)/s[0] split — single-element
    // series return themselves on both). Per-user state is one sorted
    // array, the sessionize collect bound.
    "a_ewma" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        ev(s, dir)
          .select($"user_id", unix_timestamp($"ts").as("es"), $"event_id",
            round($"value" * 100).cast(LongType).as("cents"))
          .groupBy($"user_id")
          .agg(count(lit(1)).as("n_events"),
            array_sort(collect_list(struct($"es", $"event_id", $"cents")))
              .as("sarr"))
          .select($"user_id", $"n_events",
            element_at($"sarr", -1).getField("cents").as("last_cents"),
            expr("""aggregate(slice(sarr, 2, size(sarr) - 1),
                sarr[0].cents,
                (acc, x) -> (acc + x.cents) div 2)""").as("ewma_cents"))
          .orderBy($"user_id")
      },
      oracle = Some("""
        WITH e AS (
          SELECT user_id, epoch_us(ts)//1000000 AS es, event_id,
                 CAST(round(value*100) AS BIGINT) AS cents
          FROM events),
        l AS (
          SELECT user_id, count(*) AS n_events,
                 list(cents ORDER BY es, event_id) AS cs
          FROM e GROUP BY 1)
        SELECT user_id, n_events, cs[-1] AS last_cents,
               list_reduce(cs, (a, b) -> (a + b) // 2) AS ewma_cents
        FROM l ORDER BY user_id"""),
      desc = "exact integer EWMA (alpha=1/2) via HOF fold over sorted series"),

    // ── exact mode with deterministic tie-break ─────────────────────
    // Modal hour-of-day per event_type: count per (type, hour), then
    // argmax by (count DESC, hour ASC) — the ANY-free mode the
    // reference's BigQuery models approximate with APPROX_TOP_COUNT.
    // Two hash aggregates, no window over raw rows.
    "a_mode" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        val counts = ev(s, dir)
          .select($"event_type",
            ((unix_timestamp($"ts") % 86400L) / 3600L).cast(LongType)
              .as("hour"))
          .groupBy($"event_type", $"hour")
          .agg(count(lit(1)).as("c"))
        counts.groupBy($"event_type")
          .agg(max_by($"hour", struct($"c", (-$"hour").as("neg")))
              .as("mode_hour"),
            max($"c").as("mode_n"),
            count(lit(1)).as("n_hours"))
          .orderBy($"event_type")
      },
      oracle = Some("""
        WITH c AS (
          SELECT event_type,
                 ((epoch_us(ts)//1000000) % 86400) // 3600 AS hour,
                 count(*) AS c
          FROM events GROUP BY 1, 2)
        SELECT event_type, mode_hour, mode_n, n_hours FROM (
            SELECT event_type, hour AS mode_hour, c AS mode_n,
                   count(*) OVER (PARTITION BY event_type) AS n_hours,
                   row_number() OVER (PARTITION BY event_type
                     ORDER BY c DESC, hour ASC) AS rn
            FROM c)
        WHERE rn = 1 ORDER BY event_type"""),
      desc = "exact mode (modal hour per type) with deterministic tie-break")
  )
}
