package graft

/** A SQL-first user must reach the extension families through
  * `spark.sql` alone — no Scala API in the query path. */
class SqlSurfaceSpec extends SparkSuite {

  test("three extension families run end-to-end via spark.sql only") {
    SqlSurface.register(spark, sf(), Seq(
      "dedup_minhash",    // dedup family (LSH + verify pipeline)
      "text_normalize",   // text-analysis family
      "a_cms"))           // mergeable-sketch family
    // dedup: near-dup pairs are queryable and joinable back to the
    // documents source registered beside them
    val pairs = spark.sql("""
      SELECT p.doc_a, p.doc_b, d.n_chars
      FROM dedup_minhash p JOIN documents d ON d.doc_id = p.doc_a
      ORDER BY p.doc_a, p.doc_b""").collect()
    assert(pairs.length > 0)
    // text: normalization flags compose with ordinary SQL aggregation
    val changed = spark.sql("""
      SELECT count(*) AS n FROM text_normalize WHERE len_norm <= len_raw
      """).head().getLong(0)
    assert(changed ===
      spark.sql("SELECT count(*) FROM text_normalize").head().getLong(0))
    // sketch: the CMS one-sided bound holds when probed from SQL
    val bad = spark.sql(
      "SELECT count(*) AS n FROM a_cms WHERE est_n < exact_n")
      .head().getLong(0)
    assert(bad === 0L)
    // the model DAG rides along: metric-style SQL over a registered
    // model view
    val trips = spark.sql("""
      SELECT count(DISTINCT trip_uid) FROM fact_trips_stops
      WHERE feed = 'main'""").head().getLong(0)
    assert(trips > 0L)
  }

  test("parameterized metrics run at NON-DEFAULT parameters via spark.sql only") {
    import org.apache.spark.sql.functions._
    SqlSurface.registerMetricFunctions(spark, sf())
    // the registered mta_m5_headways view is pinned at ('S5',
    // 2024-01-10); call the SQL table function at different params
    val sqlRows = spark.sql("""
      SELECT route_id, direction_id, unix_timestamp(pass_ts) AS pass_s,
             trip_uid, headway_s
      FROM mta_headways_at_stop('S3', DATE'2024-01-12', 'America/New_York')
      ORDER BY pass_s, trip_uid""").collect()
    assert(sqlRows.nonEmpty, "non-default screenline must observe passes")
    val e = graft.models.MtaSynthetic.ev(spark, sf())
    val fts = graft.models.MtaModels.factTripsStops(
      graft.models.MtaSynthetic.tripUpdates(e),
      graft.models.MtaSynthetic.stopTimeUpdates(e),
      graft.models.MtaSynthetic.stops(spark),
      graft.models.MtaSynthetic.trips(e))
    val scalaRows = graft.models.MtaMetrics
      .headwaysAtStop(fts, "S3", "2024-01-12", "America/New_York")
      .select(col("route_id"), col("direction_id"),
        unix_timestamp(col("pass_ts")).as("pass_s"), col("trip_uid"),
        col("headway_s"))
      .orderBy(col("pass_s"), col("trip_uid")).collect()
    assert(sqlRows.map(_.toSeq).toSeq === scalaRows.map(_.toSeq).toSeq,
      "SQL table function must equal the Scala metric at the same params")
    // windowed M1 at a non-default window
    val m1Sql = spark.sql("""
      SELECT route_id, direction_id, unix_timestamp(ts_minute) AS minute_s,
             trips_observed
      FROM mta_trips_per_minute(TIMESTAMP'2024-01-12 11:00:00',
                                TIMESTAMP'2024-01-12 13:00:00')
      ORDER BY minute_s, route_id, direction_id""").collect()
    assert(m1Sql.nonEmpty)
    val m1Scala = graft.models.MtaMetrics
      .tripsPerMinute(fts, "2024-01-12 11:00:00", "2024-01-12 13:00:00")
      .select(col("route_id"), col("direction_id"),
        unix_timestamp(col("ts_minute")).as("minute_s"),
        col("trips_observed"))
      .orderBy(col("minute_s"), col("route_id"), col("direction_id"))
      .collect()
    assert(m1Sql.map(_.toSeq).toSeq === m1Scala.map(_.toSeq).toSeq)
    // M2 (5-min buckets) and M7 (runtime between a non-default stop
    // pair) at non-default parameters
    val m2Sql = spark.sql("""
      SELECT route_id, direction_id, unix_timestamp(ts_5min) AS bucket_s,
             trips_observed
      FROM mta_trips_per_5min(TIMESTAMP'2024-01-12 11:00:00',
                              TIMESTAMP'2024-01-12 13:00:00')
      ORDER BY bucket_s, route_id, direction_id""").collect()
    val m2Scala = graft.models.MtaMetrics
      .tripsPer5Min(fts, "2024-01-12 11:00:00", "2024-01-12 13:00:00")
      .select(col("route_id"), col("direction_id"),
        unix_timestamp(col("ts_5min")).as("bucket_s"),
        col("trips_observed"))
      .orderBy(col("bucket_s"), col("route_id"), col("direction_id"))
      .collect()
    assert(m2Sql.nonEmpty &&
      m2Sql.map(_.toSeq).toSeq === m2Scala.map(_.toSeq).toSeq)
    // pick a DATA-DERIVED stop pair some trip actually traverses (the
    // registered query pins S3→S9; any co-traversed pair exercises the
    // same function at non-default parameters)
    val Array(stopA, stopB) = fts
      .select(col("trip_uid"), col("stop_id"),
        coalesce(col("departure_ts_utc"), col("arrival_ts_utc")).as("ts0"))
      .filter(col("ts0").isNotNull)
      .groupBy(col("trip_uid"))
      .agg(array_sort(collect_set(struct(col("ts0"), col("stop_id"))))
        .as("ss"))
      .filter(size(col("ss")) >= 2)
      .orderBy(col("trip_uid"))
      .select(expr("ss[0].stop_id"), expr("ss[1].stop_id"))
      .head().toSeq.map(_.toString).toArray
    val m7Sql = spark.sql(s"""
      SELECT trip_uid, stu_a, stu_b, runtime_s
      FROM mta_runtime_ab('$stopA', '$stopB')
      ORDER BY trip_uid, stu_a, stu_b""").collect()
    val m7Scala = graft.models.MtaMetrics.runTimeAB(fts, stopA, stopB)
      .orderBy(col("trip_uid"), col("stu_a"), col("stu_b")).collect()
    assert(m7Sql.nonEmpty &&
      m7Sql.map(_.toSeq).toSeq === m7Scala.map(_.toSeq).toSeq)
  }

  test("m3/m4 SQL table functions equal the Scala metrics at non-default windows") {
    import org.apache.spark.sql.functions._
    SqlSurface.registerMetricFunctions(spark, sf())
    val e = graft.models.MtaSynthetic.ev(spark, sf())
    val fts = graft.models.MtaModels.factTripsStops(
      graft.models.MtaSynthetic.tripUpdates(e),
      graft.models.MtaSynthetic.stopTimeUpdates(e),
      graft.models.MtaSynthetic.stops(spark),
      graft.models.MtaSynthetic.trips(e))
    val cal = graft.models.MtaSynthetic.calendar(spark)
    val trips = graft.models.MtaSynthetic.trips(e)
    val st = graft.models.MtaSynthetic.stopTimes(e)
    // non-default day and a WIDER local window than the registered
    // mta_m3/m4 queries use
    val m3Sql = spark.sql("""
      SELECT route_id, direction_id, scheduled_trips, delivered_trips,
             service_delivered
      FROM mta_service_delivered(DATE'2024-01-12', 'America/New_York',
                                 '08:00:00', '20:00:00')
      ORDER BY route_id, direction_id""").collect()
    val m3Scala = graft.models.MtaMetrics.serviceDelivered(fts, cal,
        trips, st, "2024-01-12", "America/New_York",
        "08:00:00", "20:00:00")
      .collect()
    assert(m3Sql.nonEmpty &&
      m3Sql.map(_.toSeq).toSeq === m3Scala.map(_.toSeq).toSeq,
      "m3 SQL table function must equal the Scala metric")
    val m4Sql = spark.sql("""
      SELECT route_id, direction_id, otp_pct
      FROM mta_terminal_otp(DATE'2024-01-12', 'America/New_York',
                            '08:00:00', '20:00:00')
      ORDER BY route_id, direction_id""").collect()
    val m4Scala = graft.models.MtaMetrics.terminalOtp(fts, cal, trips,
        st, "2024-01-12", "America/New_York", "08:00:00", "20:00:00")
      .collect()
    assert(m4Sql.nonEmpty &&
      m4Sql.map(_.toSeq).toSeq === m4Scala.map(_.toSeq).toSeq,
      "m4 SQL table function must equal the Scala metric")
  }

  test("corpus SQL table functions equal the Scala operators at non-default parameters") {
    import org.apache.spark.sql.functions._
    SqlSurface.registerCorpusFunctions(spark, sf())
    val docs = spark.table("documents")
    // dedup at a NON-default threshold (Scala default is 0.5)
    val sqlPairs = spark.sql(
      "SELECT doc_a, doc_b, jaccard FROM dedup_minhash_tau(0.72) " +
        "ORDER BY doc_a, doc_b").collect().map(_.toSeq)
    val scalaPairs = graft.operators.Corpus
      .minhashPairs(docs, minJaccard = 0.72)
      .orderBy(col("doc_a"), col("doc_b")).collect().map(_.toSeq)
    assert(sqlPairs.nonEmpty && sqlPairs.toSeq === scalaPairs.toSeq)
    // the threshold actually binds (0.72 is a strict subset of 0.5)
    assert(sqlPairs.length < graft.operators.Corpus
      .minhashPairs(docs, minJaccard = 0.5).count())
    // BM25 at NON-default terms + cutoff (Scala default topK is 10)
    val terms = Seq("the", "service", "delay")
    val sqlTop = spark.sql(
      s"SELECT doc_id, rank, score, n_terms FROM corpus_bm25(" +
        s"array(${terms.map("'" + _ + "'").mkString(",")}), 4) " +
        "ORDER BY rank").collect().map(_.toSeq)
    val scalaTop = graft.operators.Corpus
      .bm25Rank(docs, terms, topK = 4)
      .select(col("doc_id"), col("rank"), col("score"), col("n_terms"))
      .orderBy(col("rank")).collect().map(_.toSeq)
    assert(sqlTop.length === 4 && sqlTop.toSeq === scalaTop.toSeq)
    // MaxSim at NON-default terms + cutoff (Scala default topK is 20)
    val msTerms = Seq("delay", "route")
    val sqlMs = spark.sql(
      s"SELECT doc_id, maxsim FROM corpus_maxsim(" +
        s"array(${msTerms.map("'" + _ + "'").mkString(",")}), 5)")
      .collect().map(_.toSeq)
    val scalaMs = graft.operators.Corpus
      .maxsimSearch(docs, msTerms, topK = 5)
      .collect().map(_.toSeq)
    assert(sqlMs.length === 5 && sqlMs.toSeq === scalaMs.toSeq)
    // priority sampling at a NON-default k (Scala query uses 64)
    val sqlPr = spark.sql(
      "SELECT doc_id, w, q, w_est FROM corpus_priority_sample(17) " +
        "ORDER BY doc_id").collect().map(_.toSeq)
    val scalaPr = graft.operators.Corpus.prioritySample(docs, k = 17)
      .orderBy(col("doc_id")).collect().map(_.toSeq)
    assert(sqlPr.length === 17 && sqlPr.toSeq === scalaPr.toSeq)
    // exact AllPairs similarity join at a NON-default threshold
    // (registered query uses 600000 ppm): the SQL body must
    // reproduce the prefix + positional pruning and the exact verify
    val sqlAp = spark.sql(
      "SELECT doc_a, doc_b, inter, sz_a, sz_b, jacc_ppm " +
        "FROM dedup_allpairs(950000) ORDER BY doc_a, doc_b")
      .collect().map(_.toSeq)
    val scalaAp = graft.operators.Corpus
      .allPairsJoin(docs, tPpm = 950000L)
      .orderBy(col("doc_a"), col("doc_b")).collect().map(_.toSeq)
    assert(sqlAp.nonEmpty && sqlAp.toSeq === scalaAp.toSeq)
    // the threshold binds: this corpus has pairs in [600000, 950000)
    assert(sqlAp.length < spark.sql(
      "SELECT count(1) FROM dedup_allpairs(600000)")
      .collect()(0).getLong(0))
    // epoch shuffle at NON-default epochs/shards (registered query
    // uses 2 epochs x 8 shards): the permutation law must hold at any
    // fan-out, and different epochs must genuinely reorder
    val sqlSh = spark.sql(
      "SELECT epoch, doc_id, shard, pos FROM corpus_shuffle(3, 4) " +
        "ORDER BY epoch, shard, pos").collect().map(_.toSeq)
    val nDocs = docs.count()
    assert(sqlSh.length === 3 * nDocs)
    // every (epoch, shard) is a dense 1..k ranking
    val byES = sqlSh.groupBy(r => (r(0), r(2)))
    assert(byES.forall { case (_, rs) =>
      rs.map(_(3).asInstanceOf[Long]).sorted
        .sameElements(1L to rs.length.toLong) })
    // epoch 0 and epoch 1 orders differ somewhere (the seed binds)
    def orderOf(e: Long) = sqlSh.filter(_(0) == e)
      .sortBy(r => (r(2).asInstanceOf[Long], r(3).asInstanceOf[Long]))
      .map(_(1))
    assert(!orderOf(0L).sameElements(orderOf(1L)))
    // novelty at a NON-default split boundary (registered query uses
    // 250): the SQL body must reproduce the engine shingle hashing
    val sqlNov = spark.sql(
      "SELECT doc_id, n_shingles, n_novel, novelty_ppm " +
        "FROM corpus_novelty(300) ORDER BY doc_id")
      .collect().map(_.toSeq)
    assert(sqlNov.nonEmpty && sqlNov.forall(r =>
      r(0).asInstanceOf[Long] >= 300))
    // at the registered query's own boundary the TVF must equal
    // text_novelty row-for-row
    val sqlNov250 = spark.sql(
      "SELECT doc_id, n_shingles, n_novel, novelty_ppm " +
        "FROM corpus_novelty(250) ORDER BY doc_id")
      .collect().map(_.toSeq)
    val scalaNov = graft.operators.TextQueries.queries("text_novelty")
      .fn(spark, sf()).collect().map(_.toSeq)
    assert(sqlNov250.toSeq === scalaNov.toSeq)
    // HLL register cube at a NON-default grain (registered query uses
    // 7-day weeks): 3-day buckets must carry the same register sums
    // as a direct Scala aggregation at that grain
    val sqlHll = spark.sql(
      "SELECT bucket, event_type, n_exact, sum_regs, sum_inv " +
        "FROM hll_users_grain(3) ORDER BY bucket, event_type")
      .collect().map(_.toSeq)
    val scalaHll = {
      val e = graft.sources.Sources.table(spark, sf(), "events")
        .select(col("event_type"), col("user_id"),
          expr("(unix_timestamp(ts) div 86400) div 3").as("bucket"))
        .withColumn("h", expr("CAST(conv(substring(md5(" +
          "CAST(user_id AS STRING)), 1, 8), 16, 10) AS BIGINT)"))
        .withColumn("idx", expr("CAST(h % 32 AS INT)"))
        .withColumn("w", expr("h div 32"))
        .withColumn("rho", expr(
          "CASE WHEN w = 0L THEN 28L ELSE 28L - length(bin(w)) END"))
      val sk = e.groupBy(col("bucket"), col("event_type"))
        .agg(expr("hll_reg_update(idx, rho, 32)").as("regs"))
        .select(col("bucket"), col("event_type"),
          expr("aggregate(regs, 0L, (a, x) -> a + x)").as("sum_regs"),
          expr("aggregate(regs, 0L, (a, x) -> " +
            "a + shiftleft(1L, CAST(28 - x AS INT)))").as("sum_inv"))
      val ex = e.groupBy(col("bucket"), col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_exact"))
      sk.join(ex, Seq("bucket", "event_type"))
        .select(col("bucket"), col("event_type"), col("n_exact"),
          col("sum_regs"), col("sum_inv"))
        .orderBy(col("bucket"), col("event_type"))
        .collect().map(_.toSeq)
    }
    assert(sqlHll.nonEmpty && sqlHll.toSeq === scalaHll.toSeq)
    // phrase search at the MINED phrase: the TVF must equal the
    // oracle-gated search_phrase query row-for-row; then at a
    // DIFFERENT phrase (tokens 4..6 of the min doc) the parameters
    // must bind — the expected occurrence appears at first_pos <= 4
    val mined = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("pos"))
      docs.select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("p0", "tok")))
        .select(col("doc_id"), (col("p0") + 1L).as("pos"), col("tok"))
        .select(col("tok").as("w1"), lead(col("tok"), 1).over(w).as("w2"),
          lead(col("tok"), 2).over(w).as("w3"))
        .filter(col("w3").isNotNull)
        .groupBy(col("w1"), col("w2"), col("w3"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("w1"), col("w2"), col("w3"))
        .limit(1).collect()(0)
    }
    // escape backslashes too: Spark SQL string literals process
    // backslash escapes (escapedStringLiterals=false), so a mined
    // token containing one would otherwise reach the TVF mangled
    def q(s: String) =
      "'" + s.replace("\\", "\\\\").replace("'", "''") + "'"
    val sqlPh = spark.sql(
      s"SELECT doc_id, n_hits, first_pos, last_pos FROM search_phrase(" +
        s"${q(mined.getString(0))}, ${q(mined.getString(1))}, " +
        s"${q(mined.getString(2))}) ORDER BY doc_id")
      .collect().map(_.toSeq)
    val scalaPh = graft.operators.TextQueries.queries("search_phrase")
      .fn(spark, sf()).collect().map(_.toSeq)
    assert(sqlPh.nonEmpty && sqlPh.toSeq === scalaPh.toSeq)
    val minDocToks = docs.orderBy(col("doc_id")).limit(1)
      .select(split(col("text"), " ").as("ws")).collect()(0)
      .getSeq[String](0)
    val other = spark.sql(
      s"SELECT doc_id, first_pos FROM search_phrase(" +
        s"${q(minDocToks(3))}, ${q(minDocToks(4))}, " +
        s"${q(minDocToks(5))}) ORDER BY doc_id")
      .collect()
    assert(other.exists(r => r.getLong(1) <= 4L),
      "the non-mined phrase must hit its source doc at pos 4")
  }

  test("every declared mta source is itself queryable from SQL") {
    SqlSurface.register(spark, sf(), Seq.empty)
    // the reference's users can SELECT from any mta_sources.yml table
    // (trip_updates, alert children, static GTFS) — so can ours
    val names = Seq("trip_updates",
      "trip_updates__trip_update__stop_time_update", "alerts",
      "alerts__alert__header_text__translation",
      "alerts__alert__description_text__translation",
      "alerts__alert__active_period", "alerts__alert__informed_entity",
      "routes", "stops", "trips", "stop_times", "calendar")
    names.foreach { n =>
      assert(spark.catalog.tableExists(n), s"source view $n missing")
    }
    // a metric-guide-style ad-hoc source query composes: scheduled
    // stops per trip from the GTFS pair
    val rows = spark.sql("""
      SELECT t.route_id, count(*) AS n_sched
      FROM trips t JOIN stop_times st ON st.trip_id = t.trip_id
      GROUP BY t.route_id ORDER BY t.route_id""").collect()
    assert(rows.nonEmpty && rows.forall(_.getLong(1) > 0))
  }

  test("unknown query names fail fast with the valid catalog") {
    val e = intercept[IllegalArgumentException] {
      SqlSurface.register(spark, sf(), Seq("no_such_query"))
    }
    assert(e.getMessage.contains("no_such_query"))
  }
}
