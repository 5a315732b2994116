package graft

import graft.sources.Sources
import org.apache.spark.sql.SparkSession

/** SQL-first entry point: registers the source tables, the MTA model
  * DAG, and any subset of the extension-query catalog as temp views,
  * so a user whose whole workflow is `spark.sql` strings (the
  * reference's users write SQL — docs/metrics_guide.md queries)
  * reaches every operator without touching the Scala API.
  *
  * Query views are LAZY plans, not data — registration moves nothing
  * for pure-DataFrame operators. The exception is operators that pin
  * a hot intermediate through [[Engine.materialize]] (minhash
  * signatures, k-means codebooks, BPE fits): building their frame
  * runs the eager materialize step at registration time. That is why
  * [[register]] takes an explicit name list and [[registerAll]] is a
  * separate, documented-as-expensive call, rather than sources
  * defaulting to the full catalog.
  */
object SqlSurface {

  /** Register sources + model DAG + the named extension queries as
    * temp views (view name = query name, e.g. `dedup_minhash`).
    * Unknown names fail fast with the catalog's valid keys. */
  def register(spark: SparkSession, dir: String,
               queries: Seq[String]): Unit = {
    Sources.registerAll(spark, dir)
    Engine.registerMta(spark, dir)
    queries.foreach { n =>
      val q = SparkEntry.queries.getOrElse(n,
        throw new IllegalArgumentException(
          s"SqlSurface: unknown query '$n' (valid: " +
            s"${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")})"))
      q(spark, dir).createOrReplaceTempView(n)
    }
  }

  /** Register the ENTIRE catalog (eager-materialize operators run
    * their builds now — minutes at large SF; prefer [[register]] with
    * the views a session actually needs). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    register(spark, dir, SparkEntry.queries.keys.toSeq.sorted)

  /** PARAMETERIZED metric entry points for the SQL-only user: the
    * reference's metric queries take `DECLARE` variables
    * (docs/metrics_guide.md:24-25, 57-61, 171-173 — window bounds,
    * screenline stop, service day), which fixed-parameter views can
    * only expose at their defaults. Spark 4's SQL table functions
    * close that gap: each metric registers as a temporary
    * `CREATE FUNCTION … RETURNS TABLE` whose body is the metric's
    * plan over the model DAG views, so
    * `SELECT * FROM mta_headways_at_stop('S3', DATE'2024-01-12',
    * 'America/New_York')` runs the metric at ANY parameters with no
    * Scala in the query path (SqlSurfaceSpec pins result ≡ the Scala
    * call at non-default parameters). The bodies are the same
    * expression shapes as the MtaMetrics DataFrame code — Catalyst
    * inlines the function body at call site, so plans and pushdown
    * match the Scala path. */
  def registerMetricFunctions(spark: SparkSession, dir: String): Unit = {
    Sources.registerAll(spark, dir)
    Engine.registerMta(spark, dir)
    // M1/M2 twin — trips observed per minute in a caller-chosen UTC
    // window (metrics_guide.md:24-25)
    spark.sql("""
      CREATE OR REPLACE TEMPORARY FUNCTION mta_trips_per_minute(
          start_ts TIMESTAMP, end_ts TIMESTAMP)
      RETURNS TABLE
      RETURN
      SELECT route_id, direction_id,
             date_trunc('MINUTE', feed_ts_utc) AS ts_minute,
             count(DISTINCT trip_uid) AS trips_observed
      FROM fact_trips_stops
      WHERE feed_ts_utc BETWEEN start_ts AND end_ts
      GROUP BY route_id, direction_id, date_trunc('MINUTE', feed_ts_utc)
    """)
    // M2 twin — trips per aligned 5-minute bucket in a caller-chosen
    // UTC window (metrics_guide.md:39-51)
    spark.sql("""
      CREATE OR REPLACE TEMPORARY FUNCTION mta_trips_per_5min(
          start_ts TIMESTAMP, end_ts TIMESTAMP)
      RETURNS TABLE
      RETURN
      SELECT route_id, direction_id,
             timestamp_seconds((unix_timestamp(feed_ts_utc) div 300) * 300)
               AS ts_5min,
             count(DISTINCT trip_uid) AS trips_observed
      FROM fact_trips_stops
      WHERE feed_ts_utc BETWEEN start_ts AND end_ts
      GROUP BY route_id, direction_id,
               timestamp_seconds((unix_timestamp(feed_ts_utc) div 300) * 300)
    """)
    // M7 — run time between two caller-chosen stops on the same trip
    // (metrics_guide.md:217-237): same plan as MtaMetrics.runTimeAB
    spark.sql("""
      CREATE OR REPLACE TEMPORARY FUNCTION mta_runtime_ab(
          stop_a STRING, stop_b STRING)
      RETURNS TABLE
      RETURN
      WITH sa AS (
        SELECT trip_uid, coalesce(departure_ts_utc, arrival_ts_utc) AS ts_a,
               stu_id AS stu_a
        FROM fact_trips_stops WHERE stop_id = stop_a),
      sb AS (
        SELECT trip_uid, coalesce(arrival_ts_utc, departure_ts_utc) AS ts_b,
               stu_id AS stu_b
        FROM fact_trips_stops WHERE stop_id = stop_b)
      SELECT sa.trip_uid, sa.stu_a, sb.stu_b,
             unix_timestamp(sb.ts_b) - unix_timestamp(sa.ts_a) AS runtime_s
      FROM sa JOIN sb ON sb.trip_uid = sa.trip_uid
      WHERE sb.ts_b >= sa.ts_a
    """)
    // M3 — Service Delivered at any (service_day, tz, local window)
    // (metrics_guide.md:55-137): the full cal → trips_active →
    // first_stop → sched → window chain plus the decomposed
    // distinct-count form (the reference's (route, direction)-only
    // join fans out quadratically — see MtaMetrics.serviceDelivered)
    spark.sql("""
      CREATE OR REPLACE TEMPORARY FUNCTION mta_service_delivered(
          service_day DATE, tz STRING,
          start_local STRING, end_local STRING)
      RETURNS TABLE
      RETURN
      WITH cal AS (
        SELECT service_id FROM calendar
        WHERE start_date <= service_day AND end_date >= service_day
          AND ((dayofweek(service_day) = 1 AND sunday = 1) OR
               (dayofweek(service_day) = 2 AND monday = 1) OR
               (dayofweek(service_day) = 3 AND tuesday = 1) OR
               (dayofweek(service_day) = 4 AND wednesday = 1) OR
               (dayofweek(service_day) = 5 AND thursday = 1) OR
               (dayofweek(service_day) = 6 AND friday = 1) OR
               (dayofweek(service_day) = 7 AND saturday = 1))),
      ta AS (
        SELECT t.trip_id, t.route_id, t.direction_id
        FROM trips t JOIN cal c ON c.service_id = t.service_id),
      fs AS (
        SELECT trip_id AS fs_trip_id,
               min(try_cast(stop_sequence AS BIGINT)) AS min_seq
        FROM stop_times GROUP BY trip_id),
      sched AS (
        SELECT ta.route_id, ta.direction_id, ta.trip_id,
               timestamp_seconds(
                 unix_timestamp(CAST(service_day AS TIMESTAMP))
                 + CAST(split(st.departure_time, ':')[0] AS BIGINT) * 3600
                 + CAST(split(st.departure_time, ':')[1] AS BIGINT) * 60
                 + CAST(split(st.departure_time, ':')[2] AS BIGINT))
                 AS sched_departure_ts
        FROM ta
        JOIN fs ON fs.fs_trip_id = ta.trip_id
        JOIN stop_times st ON st.trip_id = ta.trip_id
          AND st.stop_sequence = CAST(fs.min_seq AS STRING)),
      wl AS (
        SELECT * FROM sched
        WHERE date_format(from_utc_timestamp(sched_departure_ts, tz),
                'HH:mm:ss') BETWEEN start_local AND end_local),
      fe AS (
        SELECT route_id, direction_id, trip_uid,
               min_by(evt, struct(stop_sequence_int, event_ts_utc,
                 stu_id)) AS first_evt
        FROM (SELECT *, coalesce(departure_ts_utc, arrival_ts_utc) AS evt
              FROM fact_trips_stops)
        WHERE evt IS NOT NULL
        GROUP BY route_id, direction_id, trip_uid),
      act AS (
        SELECT route_id AS a_route_id, direction_id AS a_direction_id,
               trip_uid
        FROM fe
        WHERE date_format(from_utc_timestamp(first_evt, tz), 'HH:mm:ss')
              BETWEEN start_local AND end_local),
      wlagg AS (
        SELECT route_id, direction_id,
               count(DISTINCT trip_id) AS scheduled_trips
        FROM wl GROUP BY route_id, direction_id),
      aagg AS (
        SELECT a_route_id, a_direction_id,
               count(DISTINCT trip_uid) AS delivered_nn
        FROM act GROUP BY a_route_id, a_direction_id)
      SELECT w.route_id, w.direction_id, w.scheduled_trips,
             coalesce(a.delivered_nn, CAST(0 AS BIGINT))
               AS delivered_trips,
             try_divide(coalesce(a.delivered_nn, CAST(0 AS BIGINT)),
               w.scheduled_trips) AS service_delivered
      FROM wlagg w LEFT JOIN aagg a
        ON a.a_route_id = w.route_id
       AND a.a_direction_id = w.direction_id
    """)
    // M4 — Terminal OTP at any (service_day, tz, local window)
    // (metrics_guide.md:141-165): same scheduled-window chain, the
    // decomposed matched/total-pairs form with the 420 s banded range
    // join (MtaMetrics.terminalOtp — the reference's LEFT JOIN on
    // (route, direction) alone is quadratic per group)
    spark.sql("""
      CREATE OR REPLACE TEMPORARY FUNCTION mta_terminal_otp(
          service_day DATE, tz STRING,
          start_local STRING, end_local STRING)
      RETURNS TABLE
      RETURN
      WITH cal AS (
        SELECT service_id FROM calendar
        WHERE start_date <= service_day AND end_date >= service_day
          AND ((dayofweek(service_day) = 1 AND sunday = 1) OR
               (dayofweek(service_day) = 2 AND monday = 1) OR
               (dayofweek(service_day) = 3 AND tuesday = 1) OR
               (dayofweek(service_day) = 4 AND wednesday = 1) OR
               (dayofweek(service_day) = 5 AND thursday = 1) OR
               (dayofweek(service_day) = 6 AND friday = 1) OR
               (dayofweek(service_day) = 7 AND saturday = 1))),
      ta AS (
        SELECT t.trip_id, t.route_id, t.direction_id
        FROM trips t JOIN cal c ON c.service_id = t.service_id),
      fs AS (
        SELECT trip_id AS fs_trip_id,
               min(try_cast(stop_sequence AS BIGINT)) AS min_seq
        FROM stop_times GROUP BY trip_id),
      sched AS (
        SELECT ta.route_id, ta.direction_id, ta.trip_id,
               timestamp_seconds(
                 unix_timestamp(CAST(service_day AS TIMESTAMP))
                 + CAST(split(st.departure_time, ':')[0] AS BIGINT) * 3600
                 + CAST(split(st.departure_time, ':')[1] AS BIGINT) * 60
                 + CAST(split(st.departure_time, ':')[2] AS BIGINT))
                 AS sched_departure_ts
        FROM ta
        JOIN fs ON fs.fs_trip_id = ta.trip_id
        JOIN stop_times st ON st.trip_id = ta.trip_id
          AND st.stop_sequence = CAST(fs.min_seq AS STRING)),
      wl AS (
        SELECT * FROM sched
        WHERE date_format(from_utc_timestamp(sched_departure_ts, tz),
                'HH:mm:ss') BETWEEN start_local AND end_local),
      fe AS (
        SELECT route_id AS f_route_id, direction_id AS f_direction_id,
               min_by(evt, struct(stop_sequence_int, event_ts_utc,
                 stu_id)) AS actual_departure_ts
        FROM (SELECT *, coalesce(departure_ts_utc, arrival_ts_utc) AS evt
              FROM fact_trips_stops)
        GROUP BY route_id, direction_id, trip_uid),
      wlagg AS (
        SELECT route_id, direction_id, count(*) AS n_wl
        FROM wl GROUP BY route_id, direction_id),
      feagg AS (
        SELECT f_route_id, f_direction_id, count(*) AS n_fe
        FROM fe GROUP BY f_route_id, f_direction_id),
      wlt AS (
        SELECT route_id AS w_route_id, direction_id AS w_direction_id,
               sched_departure_ts,
               floor(unix_timestamp(sched_departure_ts) / 420) AS bkt
        FROM wl WHERE sched_departure_ts IS NOT NULL),
      fet AS (
        SELECT f_route_id, f_direction_id, actual_departure_ts,
               explode(array(b0 - 1, b0, b0 + 1)) AS bkt
        FROM (SELECT *,
                floor(unix_timestamp(actual_departure_ts) / 420) AS b0
              FROM fe WHERE actual_departure_ts IS NOT NULL)),
      matched AS (
        SELECT w_route_id AS m_route_id, w_direction_id AS m_direction_id,
               count(*) AS n_matched
        FROM fet JOIN wlt
          ON wlt.w_route_id = fet.f_route_id
         AND wlt.w_direction_id = fet.f_direction_id
         AND wlt.bkt = fet.bkt
        WHERE CAST((unix_timestamp(actual_departure_ts)
                    - unix_timestamp(sched_departure_ts)) / 60 AS BIGINT)
              BETWEEN 0 AND 5
        GROUP BY w_route_id, w_direction_id),
      joined AS (
        SELECT w.route_id, w.direction_id, w.n_wl, f.n_fe, m.n_matched
        FROM wlagg w
        LEFT JOIN feagg f ON f.f_route_id = w.route_id
                         AND f.f_direction_id = w.direction_id
        LEFT JOIN matched m ON m.m_route_id = w.route_id
                           AND m.m_direction_id = w.direction_id)
      SELECT route_id, direction_id,
             100 * (CAST(coalesce(n_matched, CAST(0 AS BIGINT)) AS DOUBLE)
               / CAST(n_wl * greatest(coalesce(n_fe, CAST(0 AS BIGINT)),
                   CAST(1 AS BIGINT)) AS DOUBLE)) AS otp_pct
      FROM joined
    """)
    // M5 — headways at a screenline stop on a service day
    // (metrics_guide.md:171-173): same plan as
    // MtaMetrics.headwaysAtStop, trip_uid tie-breaks both orderings
    spark.sql("""
      CREATE OR REPLACE TEMPORARY FUNCTION mta_headways_at_stop(
          stop STRING, service_day DATE, tz STRING)
      RETURNS TABLE
      RETURN
      WITH seen AS (
        SELECT date_trunc('SECOND', event_ts_utc) AS pass_ts,
               route_id, direction_id, trip_uid, stu_id
        FROM fact_trips_stops
        WHERE stop_id = stop
          AND to_date(from_utc_timestamp(event_ts_utc, tz)) = service_day),
      fp AS (
        SELECT * FROM (
          SELECT *, row_number() OVER (PARTITION BY trip_uid
            ORDER BY pass_ts, stu_id) AS rn1 FROM seen)
        WHERE rn1 = 1),
      ord AS (
        SELECT *, row_number() OVER (ORDER BY pass_ts, trip_uid) AS rn
        FROM fp),
      hw AS (
        SELECT route_id, direction_id, pass_ts, trip_uid, rn,
               unix_timestamp(pass_ts) - unix_timestamp(
                 lag(pass_ts) OVER (PARTITION BY route_id, direction_id
                   ORDER BY pass_ts, trip_uid)) AS headway_s
        FROM ord)
      SELECT route_id, direction_id, pass_ts, trip_uid, headway_s
      FROM hw WHERE rn > 1
    """)
  }

  /** PARAMETERIZED corpus entry points for the SQL-only user — the
    * [[registerMetricFunctions]] treatment applied to the
    * dedup/retrieval operators, whose thresholds (`minJaccard`,
    * `topK`, query terms) were Scala-only:
    *
    *  - `dedup_minhash_tau(tau)` — MinHash near-dup pairs at ANY
    *    Jaccard threshold. The LSH candidate set is
    *    threshold-INDEPENDENT (banding then exact verify), so the
    *    function is a filter over the one `minhash_scored` view
    *    (all candidates with exact scores, built once through the
    *    operator's own materializeShared signature path) — exactly ≡
    *    `Corpus.minhashPairs(docs, tau)` for every tau, by
    *    construction.
    *  - `corpus_bm25(terms, top_k)` — integer fixed-point BM25
    *    ranked retrieval at any query-term array and cutoff; the
    *    body is the same expression shapes as [[graft.operators
    *    .Corpus.bm25Rank]] (k1 = 1.2, b = 0.75 in milli units), so
    *    plans and pushdown match the Scala path.
    *  - `corpus_maxsim(terms, top_k)` — late-interaction MaxSim
    *    retrieval at any query-term array and cutoff; same hash
    *    embeddings and `long_dot` codegen scoring as
    *    [[graft.operators.Corpus.maxsimSearch]].
    *  - `corpus_priority_sample(k)` — Duffield-Lund-Thorup priority
    *    sampling at any k; identical draw/threshold/estimator
    *    arithmetic to [[graft.operators.Corpus.prioritySample]].
    *    (The SQL body ranks with one global window — the SQL
    *    convenience surface; the Scala path's TakeOrderedAndProject
    *    top-(k+1) is the 100 TB shape.)
    *  - `dedup_allpairs(t_ppm)` — the flagship EXACT similarity join
    *    at any Jaccard threshold: AllPairs prefix filter + PPJoin
    *    positional filter + exact verify, same pruning mathematics
    *    as [[graft.operators.Corpus.allPairsJoin]].
    *  - `corpus_shuffle(epochs, shards)` — the deterministic
    *    training-order permutation at any epoch count / shard
    *    fan-out, ≡ `sample_shuffle`'s law.
    *  - `corpus_novelty(ref_max_id)` — the `text_novelty` metric at
    *    any reference/new split boundary: per new doc, the share of
    *    its distinct 3-token shingles absent from the reference
    *    inventory (same md5_prefix_long hashing, same one-equi-join
    *    membership shape).
    *  - `hll_users_grain(days)` — the `a_hll_rollup` register cube
    *    at any grain: per (bucket of `days` days, event_type), the
    *    integer HLL register readout (sum_regs / sum_inv) + the
    *    exact distinct twin as a separate joined pass.
    *
    * SqlSurfaceSpec pins each ≡ the Scala calls at NON-default
    * parameters. */
  def registerCorpusFunctions(spark: SparkSession, dir: String): Unit = {
    Sources.registerAll(spark, dir)
    graft.operators.Corpus
      .minhashPairs(spark.table("documents"), minJaccard = 0.0)
      .createOrReplaceTempView("minhash_scored")
    spark.sql("""
      CREATE OR REPLACE TEMPORARY FUNCTION dedup_minhash_tau(tau DOUBLE)
      RETURNS TABLE
      RETURN
      SELECT doc_a, doc_b, jaccard
      FROM minhash_scored
      WHERE jaccard >= tau
    """)
    spark.sql("""
      CREATE OR REPLACE TEMPORARY FUNCTION corpus_bm25(
          terms ARRAY<STRING>, top_k INT)
      RETURNS TABLE
      RETURN
      WITH toks AS (
        SELECT doc_id, explode(split(text, ' ')) AS tok FROM documents),
      dl AS (SELECT doc_id, count(1) AS dlen FROM toks GROUP BY doc_id),
      tot AS (SELECT count(1) AS n_docs, sum(dlen) AS dlen_sum FROM dl),
      tf AS (
        SELECT doc_id, tok, count(1) AS tf FROM toks
        WHERE array_contains(terms, tok) GROUP BY doc_id, tok),
      dft AS (SELECT tok, count(1) AS df FROM tf GROUP BY tok),
      stats AS (
        SELECT n_docs, (dlen_sum * 1000) div n_docs AS avg_m FROM tot),
      scored AS (
        SELECT tf.doc_id,
               ((s.n_docs - d.df) * 1000000 + 500000)
                 div (d.df * 1000 + 500) AS idf_m,
               (tf.tf * (1000 + 1200) * 1000000) div (tf.tf * 1000 +
                 (1200 * (1000 - 750 +
                   (750 * dl.dlen * 1000) div s.avg_m)) div 1000)
                 AS tfn_ppm
        FROM tf
        JOIN dft d ON d.tok = tf.tok
        JOIN dl ON dl.doc_id = tf.doc_id
        CROSS JOIN stats s),
      agg AS (
        SELECT doc_id, sum(idf_m * tfn_ppm) AS score,
               count(1) AS n_terms
        FROM scored GROUP BY doc_id),
      ranked AS (
        SELECT doc_id,
               row_number() OVER (ORDER BY score DESC, doc_id) AS rank,
               score, n_terms
        FROM agg)
      SELECT doc_id, rank, score, n_terms
      FROM ranked WHERE rank <= top_k
    """)
    spark.sql("""
      CREATE OR REPLACE TEMPORARY FUNCTION corpus_maxsim(
          terms ARRAY<STRING>, top_k INT)
      RETURNS TABLE
      RETURN
      WITH dtok AS (
        SELECT DISTINCT doc_id, tok FROM (
          SELECT doc_id, explode(split(text, ' ')) AS tok
          FROM documents)),
      tv AS (
        SELECT tok, transform(sequence(0, 7), d ->
          md5_prefix_long(concat(tok, ':', CAST(d AS STRING)), 8)
            % 2001 - 1000) AS tv
        FROM (SELECT DISTINCT tok FROM dtok)),
      qv AS (
        SELECT term, transform(sequence(0, 7), d ->
          md5_prefix_long(concat(term, ':', CAST(d AS STRING)), 8)
            % 2001 - 1000) AS qv
        FROM (SELECT explode(terms) AS term)),
      mx AS (
        SELECT t.doc_id, q.term, max(long_dot(v.tv, q.qv)) AS term_max
        FROM dtok t JOIN tv v ON v.tok = t.tok CROSS JOIN qv q
        GROUP BY t.doc_id, q.term),
      sc AS (SELECT doc_id, sum(term_max) AS maxsim FROM mx
             GROUP BY doc_id),
      rk AS (SELECT doc_id, maxsim, row_number() OVER
               (ORDER BY maxsim DESC, doc_id) AS rank FROM sc)
      SELECT doc_id, maxsim FROM rk WHERE rank <= top_k
    """)
    spark.sql("""
      CREATE OR REPLACE TEMPORARY FUNCTION corpus_priority_sample(k INT)
      RETURNS TABLE
      RETURN
      WITH b AS (
        SELECT doc_id, CAST(size(split(text, ' ')) AS BIGINT) AS w,
               CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 8),
                 16, 10) AS BIGINT) AS h
        FROM documents),
      q AS (SELECT doc_id, w, w * 4294967296 div (h + 1) AS q FROM b),
      r AS (SELECT doc_id, w, q,
                   row_number() OVER (ORDER BY q DESC, doc_id) AS rk
            FROM q),
      t AS (SELECT q AS tau FROM r WHERE rk = k + 1)
      SELECT r.doc_id, r.w, r.q, greatest(r.w, t.tau) AS w_est
      FROM r CROSS JOIN t WHERE r.rk <= k
    """)
    // the flagship EXACT dedup from SQL: AllPairs prefix filter +
    // PPJoin positional filter + exact array-intersect verify at ANY
    // threshold — the same pruning mathematics as
    // [[graft.operators.Corpus.allPairsJoin]] (whose scaladoc carries
    // the zero-loss proofs); this SQL body recomputes the df order
    // per call (the convenience surface), the Scala path rides the
    // session-persisted index
    spark.sql("""
      CREATE OR REPLACE TEMPORARY FUNCTION dedup_allpairs(t_ppm BIGINT)
      RETURNS TABLE
      RETURN
      WITH tk AS (SELECT doc_id, split(text, ' ') AS raw FROM documents),
      sh AS (
        SELECT DISTINCT doc_id, md5_prefix_long(
          CASE WHEN size(raw) >= 3 THEN concat_ws(' ',
                 element_at(raw, i), element_at(raw, i + 1),
                 element_at(raw, i + 2))
               ELSE concat_ws(' ', raw) END, 14) AS h
        FROM tk
        LATERAL VIEW explode(sequence(1,
          CASE WHEN size(raw) >= 3 THEN size(raw) - 2 ELSE 1 END)) AS i),
      dfq AS (SELECT h, count(1) AS df FROM sh GROUP BY h),
      rk AS (
        SELECT s.doc_id, s.h,
               row_number() OVER (PARTITION BY s.doc_id
                 ORDER BY d.df, s.h) AS pos,
               count(1) OVER (PARTITION BY s.doc_id) AS sz
        FROM sh s JOIN dfq d ON d.h = s.h),
      pfx AS (
        SELECT doc_id, h, sz, pos FROM rk
        WHERE pos <= sz - (t_ppm * sz + 999999L) div 1000000L + 1L),
      cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM pfx a JOIN pfx b
          ON a.h = b.h AND a.doc_id < b.doc_id
         AND least(a.sz, b.sz) * 1000000L >=
               greatest(a.sz, b.sz) * t_ppm
         AND (1L + least(a.sz - a.pos, b.sz - b.pos))
               * (1000000L + t_ppm) >= (a.sz + b.sz) * t_ppm),
      arr AS (
        SELECT doc_id, sort_array(collect_set(h)) AS hs,
               CAST(size(collect_set(h)) AS BIGINT) AS sz
        FROM sh GROUP BY doc_id),
      v AS (
        SELECT c.doc_a, c.doc_b,
               CAST(size(array_intersect(x.hs, y.hs)) AS BIGINT) AS inter,
               x.sz AS sz_a, y.sz AS sz_b
        FROM cand c
        JOIN arr x ON x.doc_id = c.doc_a
        JOIN arr y ON y.doc_id = c.doc_b)
      SELECT doc_a, doc_b, inter, sz_a, sz_b,
             inter * 1000000L div (sz_a + sz_b - inter) AS jacc_ppm
      FROM v WHERE inter * 1000000L >= (sz_a + sz_b - inter) * t_ppm
    """)
    // deterministic epoch shuffle from SQL: any epoch count and shard
    // fan-out — ≡ the sample_shuffle query's law (per-epoch md5
    // permutation addressed as (shard, pos-within-shard))
    spark.sql("""
      CREATE OR REPLACE TEMPORARY FUNCTION corpus_shuffle(
          epochs INT, shards INT)
      RETURNS TABLE
      RETURN
      WITH b AS (
        SELECT doc_id, e.epoch,
               md5_prefix_long(concat(CAST(e.epoch AS STRING), ':',
                 CAST(doc_id AS STRING)), 14) AS h
        FROM documents
        LATERAL VIEW explode(sequence(0, epochs - 1)) e AS epoch)
      SELECT CAST(epoch AS BIGINT) AS epoch, doc_id,
             h % shards AS shard,
             CAST(row_number() OVER (PARTITION BY epoch, h % shards
               ORDER BY h, doc_id) AS BIGINT) AS pos
      FROM b
    """)
    spark.sql("""
      CREATE OR REPLACE TEMPORARY FUNCTION corpus_novelty(ref_max_id BIGINT)
      RETURNS TABLE
      RETURN
      WITH tk AS (
        SELECT doc_id, split(text, ' ') AS raw FROM documents),
      sh AS (
        SELECT DISTINCT doc_id, md5_prefix_long(
          CASE WHEN size(raw) >= 3 THEN concat_ws(' ',
                 element_at(raw, i), element_at(raw, i + 1),
                 element_at(raw, i + 2))
               ELSE concat_ws(' ', raw) END, 14) AS h
        FROM tk
        LATERAL VIEW explode(sequence(1,
          CASE WHEN size(raw) >= 3 THEN size(raw) - 2 ELSE 1 END)) AS i),
      ref AS (
        SELECT DISTINCT h FROM sh WHERE doc_id < ref_max_id)
      SELECT s.doc_id, count(1) AS n_shingles,
             sum(IF(r.h IS NULL, 1L, 0L)) AS n_novel,
             sum(IF(r.h IS NULL, 1L, 0L)) * 1000000L div count(1)
               AS novelty_ppm
      FROM sh s LEFT JOIN ref r ON s.h = r.h
      WHERE s.doc_id >= ref_max_id
      GROUP BY s.doc_id
    """)
    spark.sql("""
      CREATE OR REPLACE TEMPORARY FUNCTION hll_users_grain(days INT)
      RETURNS TABLE
      RETURN
      WITH b AS (
        SELECT event_type, user_id,
               (unix_timestamp(ts) div 86400) div days AS bucket,
               CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 8),
                 16, 10) AS BIGINT) AS h
        FROM events),
      r AS (
        SELECT bucket, event_type, CAST(h % 32 AS INT) AS idx,
               CASE WHEN h div 32 = 0L THEN 28L
                    ELSE 28L - length(bin(h div 32)) END AS rho
        FROM b),
      sk AS (
        SELECT bucket, event_type,
               hll_reg_update(idx, rho, 32) AS regs
        FROM r GROUP BY bucket, event_type),
      sks AS (
        SELECT bucket, event_type,
               aggregate(regs, 0L, (a, x) -> a + x) AS sum_regs,
               aggregate(regs, 0L, (a, x) ->
                 a + shiftleft(1L, CAST(28 - x AS INT))) AS sum_inv
        FROM sk),
      ex AS (
        SELECT bucket, event_type, count(DISTINCT user_id) AS n_exact
        FROM b GROUP BY bucket, event_type)
      SELECT s.bucket, s.event_type, e.n_exact, s.sum_regs, s.sum_inv
      FROM sks s JOIN ex e
        ON s.bucket = e.bucket AND s.event_type = e.event_type
    """)
    // exact phrase search from SQL at ANY phrase — the registered
    // search_phrase query's posting-probe pipeline (one positional
    // index, one filter per term, consecutive-position equi-joins)
    // with the phrase as user parameters instead of the mined
    // most-frequent trigram
    spark.sql("""
      CREATE OR REPLACE TEMPORARY FUNCTION search_phrase(
          w1 STRING, w2 STRING, w3 STRING)
      RETURNS TABLE
      RETURN
      WITH toks AS (
        SELECT doc_id, pos + 1L AS pos, tok FROM documents
        LATERAL VIEW posexplode(split(text, ' ')) AS pos, tok),
      a AS (SELECT doc_id, pos FROM toks WHERE tok = w1),
      b AS (SELECT doc_id, pos - 1L AS pos FROM toks WHERE tok = w2),
      c AS (SELECT doc_id, pos - 2L AS pos FROM toks WHERE tok = w3)
      SELECT a.doc_id, CAST(count(1) AS BIGINT) AS n_hits,
             min(a.pos) AS first_pos, max(a.pos) AS last_pos
      FROM a JOIN b ON b.doc_id = a.doc_id AND b.pos = a.pos
             JOIN c ON c.doc_id = a.doc_id AND c.pos = a.pos
      GROUP BY a.doc_id
    """)
  }
}
