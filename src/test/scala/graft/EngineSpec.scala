package graft

import org.apache.spark.sql.functions._
import java.nio.file.Files

/** dbt-lifecycle equivalents: view DAG registration (S2/S3) and
  * partitioned table materialization with partition pruning (S4). */
class EngineSpec extends SparkSuite {
  import spark.implicits._

  test("registerMta builds the view DAG; views are queryable by name") {
    Engine.registerSources(spark, sf())
    Engine.registerMta(spark, sf())
    assert(spark.table("fact_trips_stops").count() > 0)
    assert(spark.table("fact_trips").count() > 0)
    assert(spark.table("fact_delays").count() > 0)
    assert(spark.table("fact_alerts").count() > 0)
    // ref-composition: metrics can run over the registered views
    val n = spark.sql(
      """SELECT count(DISTINCT trip_uid) FROM fact_trips_stops
         WHERE feed = 'main'""").collect().head.getLong(0)
    assert(n > 0)
  }

  test("registerMta per-model materialization: table mode composes through the DAG") {
    // dbt's +materialized switch (reference dbt_project.yml:39-43,
    // config(materialized='view') per model file): the same DAG with
    // fact_trips_stops as a TABLE must (a) return byte-identical
    // results for every downstream model, (b) resolve downstream refs
    // to the parquet table (partition-pruned on the service-day
    // filter), not the view's recomputation plan.
    Engine.registerSources(spark, sf())
    Engine.registerMta(spark, sf())
    val viewRows = Seq("fact_trips", "fact_delays")
      .map(t => t -> spark.table(t).count()).toMap
    // stu_id is the row grain of fact_delays — a total order, so the
    // 50-row sample is deterministic across the two registrations
    val viewSample = spark.table("fact_delays")
      .orderBy($"stu_id", $"trip_uid", $"stop_id")
      .limit(50).collect().toSeq

    val root = Files.createTempDirectory("graft_models").toString
    Engine.registerMta(spark, sf(),
      materialized = Map("fact_trips_stops" -> "table"),
      tableRoot = Some(root))
    // (a) results unchanged under the switch
    viewRows.foreach { case (t, n) => assert(spark.table(t).count() === n) }
    assert(spark.table("fact_delays")
      .orderBy($"stu_id", $"trip_uid", $"stop_id")
      .limit(50).collect().toSeq
      === viewSample)
    // (b) downstream models now READ the table: the scan is parquet
    // over the materialized path with day-partition pruning available
    val p = spark.table("fact_delays")
      .filter($"service_day_local" === "2024-01-10")
      .queryExecution.executedPlan.toString
    assert(p.contains(root), s"fact_delays does not scan the table:\n$p")
    assert(p.contains("PartitionFilters") && p.contains("service_day_local"),
      s"no partition pruning over the table-mode model:\n$p")

    // unknown mode and missing root fail loudly
    intercept[IllegalArgumentException] {
      Engine.registerMta(spark, sf(),
        materialized = Map("fact_trips" -> "incremental"), tableRoot = None)
    }
    intercept[IllegalArgumentException] {
      Engine.registerMta(spark, sf(),
        materialized = Map("fact_trips" -> "table"), tableRoot = None)
    }
    // restore the plain view DAG for suites sharing the session
    Engine.registerMta(spark, sf())
  }

  test("incremental materialization: day-2 refresh ≡ full rebuild, old days untouched") {
    import java.nio.file.{Files => JFiles, Paths, StandardCopyOption}
    // simulate the daily cadence: sources at day-1 state (last local
    // service day held back), first incremental run builds the full
    // table; sources appended to day-2 state, second run must rewrite
    // ONLY the boundary-and-later day partitions yet end byte-equal
    // to a full rebuild.
    val srcDir = Files.createTempDirectory("inc_src").toString
    graft.sources.Sources.testTables.foreach { t =>
      JFiles.copy(Paths.get(s"${sf()}/$t.parquet"),
        Paths.get(s"$srcDir/$t.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    val evFull = graft.sources.Sources.table(spark, sf(), "events")
    val sd = to_date(from_utc_timestamp($"ts", "America/New_York"))
    val lastDay = evFull.agg(max(sd)).head().getDate(0)
    val d1 = evFull.filter(sd < lit(lastDay))
    assert(d1.count() > 0 && d1.count() < evFull.count())
    def writeEvents(df: org.apache.spark.sql.DataFrame): Unit = {
      val tmp = Files.createTempDirectory("inc_ev").toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      JFiles.move(part.toPath, Paths.get(s"$srcDir/events.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    writeEvents(d1)
    val root = Files.createTempDirectory("inc_models").toString
    val mat = Map("fact_trips_stops" -> "incremental")
    Engine.registerMta(spark, srcDir, mat, Some(root))
    assert(spark.table("fact_trips_stops").count() > 0)
    val tableDir = new java.io.File(s"$root/fact_trips_stops")
    def dayDirs() = tableDir.listFiles()
      .filter(_.getName.startsWith("service_day_local="))
      .map(_.getName).filterNot(_.contains("HIVE_DEFAULT")).sorted
    def mtimes(d: String): Map[String, Long] =
      new java.io.File(tableDir, d).listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified).toMap
    // every day strictly before the on-disk max is frozen; the max
    // day itself is inside the inclusive refresh window
    val frozen = dayDirs().dropRight(1)
    assert(frozen.nonEmpty, "need >= 2 day partitions for the test")
    val before = frozen.map(d => d -> mtimes(d)).toMap

    writeEvents(evFull)
    Engine.registerMta(spark, srcDir, mat, Some(root))
    // incrementality: pre-boundary days were not rewritten
    frozen.foreach(d => assert(mtimes(d) === before(d), s"$d rewritten"))
    // equivalence: table contents == the view-mode full rebuild over
    // the same (appended) sources — exceptAll both ways, bag semantics
    val incTable = spark.read.parquet(tableDir.toString)
    Engine.registerMta(spark, srcDir)
    val full = spark.table("fact_trips_stops")
      .select(incTable.columns.map(c => col(c).cast(
        incTable.schema(c).dataType)): _*)
    assert(incTable.count() === full.count())
    assert(incTable.exceptAll(full).isEmpty, "rows only in incremental")
    assert(full.exceptAll(incTable).isEmpty, "rows only in full rebuild")
    // restore the plain view DAG for suites sharing the session
    Engine.registerMta(spark, sf())
  }

  test("materializeByServiceDay writes day-partitioned parquet; pruning applies") {
    Engine.registerMta(spark, sf())
    val out = Files.createTempDirectory("graft_mat").toString
    Engine.materializeByServiceDay(
      spark.table("fact_trips_stops").filter($"service_day_local".isNotNull), out)
    val back = spark.read.parquet(out)
    assert(back.count() ===
      spark.table("fact_trips_stops").filter($"service_day_local".isNotNull).count())
    // partition pruning: a day filter must turn into PartitionFilters
    val plan = back.filter($"service_day_local" === "2024-01-10")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.contains("service_day_local"))
  }

  test("s4_partition_roundtrip writes one dir per day and prunes the read") {
    // drive the REGISTERED gated query's fn, then assert the layout
    // and pruning claims its scaladoc makes (the hash gate checks
    // values; this checks the physical partition story)
    val q = graft.models.MtaQueries.queries("s4_partition_roundtrip")
    val out = q.fn(spark, sf())
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.contains("service_day_local"),
      s"read-back must prune on the partition column:\n$plan")
    // the sink dir is planToken-keyed (sharedDir) — recover it from
    // the read-back plan's scan root instead of a fixed path
    val rootPath = out.queryExecution.analyzed.collectFirst {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.head.toUri.getPath
        }
    }.get
    val sinkDir = java.nio.file.Paths.get(rootPath)
    val dayDirs = java.nio.file.Files.list(sinkDir).iterator()
    val names = scala.collection.mutable.ListBuffer.empty[String]
    while (dayDirs.hasNext) {
      val n = dayDirs.next().getFileName.toString
      // NULL days land in the hive default partition — count real days
      if (n.startsWith("service_day_local=") &&
        !n.contains("__HIVE_DEFAULT_PARTITION__")) names += n
    }
    Engine.registerMta(spark, sf())
    val expectDays = spark.table("fact_trips_stops")
      .filter($"service_day_local".isNotNull)
      .select($"service_day_local".cast("string")).distinct().count()
    assert(names.size.toLong === expectDays,
      s"one partition dir per day: got ${names.size}, want $expectDays")
  }

  test("sharedDir caches by token, rebuilds after rollback, deletes evicted dirs") {
    Engine.clearShared()
    var builds = 0
    def build(tok: String): String = Engine.sharedDir(spark, tok) { d =>
      builds += 1
      java.nio.file.Files.write(java.nio.file.Paths.get(d, "x.txt"),
        "1".getBytes)
    }
    val snap = Engine.sharedKeys()
    val d1 = build("es_tok_a")
    assert(builds === 1 && new java.io.File(d1, "x.txt").exists())
    // same token → same dir, no rebuild (the cross-query share)
    assert(build("es_tok_a") === d1 && builds === 1)
    // Bench rollback: evict what the sample added → dir DELETED
    Engine.retainShared(snap)
    assert(!new java.io.File(d1).exists(),
      "evicted shared dir must be deleted from disk")
    // next call rebuilds fresh (the builder-pays-in-both-samples law)
    val d2 = build("es_tok_a")
    assert(builds === 2 && d2 != d1 &&
      new java.io.File(d2, "x.txt").exists())
    // a registered dir deleted from disk behind the registry is a miss:
    // the token rebuilds into a live dir instead of returning the
    // vanished path
    java.nio.file.Files.delete(java.nio.file.Paths.get(d2, "x.txt"))
    java.nio.file.Files.delete(java.nio.file.Paths.get(d2))
    val d3 = build("es_tok_a")
    assert(builds === 3 && new java.io.File(d3, "x.txt").exists())
    assert(build("es_tok_a") === d3 && builds === 3)
    Engine.retainShared(snap)
  }

  test("a sharedDir build that throws leaves no dir and no registry key") {
    Engine.clearShared()
    var made: String = null
    val e = intercept[IllegalStateException] {
      Engine.sharedDir(spark, "es_tok_fail") { d =>
        made = d
        java.nio.file.Files.write(java.nio.file.Paths.get(d, "x.txt"),
          "1".getBytes)
        throw new IllegalStateException("build failed")
      }
    }
    assert(e.getMessage === "build failed")
    assert(made != null && !new java.io.File(made).exists(),
      "a failed build must delete its own directory at once")
    assert(!new java.io.File(made).getParentFile.exists(),
      "the graft_shared temp root must go too")
    assert(Engine.sharedKeys().isEmpty,
      s"a failed build registered: ${Engine.sharedKeys()}")
  }

  test("a frame and a dir under one token string are independent entries") {
    Engine.clearShared()
    try {
      val tok = "es_tok_both"
      val frame = Engine.materializeShared(spark, tok,
        Seq(1L, 2L, 3L).toDF("k"), key = "k", name = "both_frame")
      val dir = Engine.sharedDir(spark, tok) { d =>
        java.nio.file.Files.write(java.nio.file.Paths.get(d, "x.txt"),
          "1".getBytes)
      }
      assert(Engine.sharedKeys().size === 2,
        s"one key per artifact: ${Engine.sharedKeys()}")
      // each kind hits its own entry, without a rebuild
      assert(Engine.sharedDir(spark, tok)(_ => fail("dir rebuilt")) === dir)
      assert(Engine.materializeShared(spark, tok,
        fail("frame rebuilt"), key = "k", name = "both_frame") eq frame)
      assert(frame.count() === 3 && new java.io.File(dir, "x.txt").exists())
    } finally Engine.clearShared()
  }

  test("refreshByServiceDay rewrites only the delta's day partitions") {
    Engine.registerMta(spark, sf())
    val fts = spark.table("fact_trips_stops")
      .filter($"service_day_local".isNotNull)
    val out = Files.createTempDirectory("graft_incr").toString
    Engine.materializeByServiceDay(fts, out)
    val days = fts.select($"service_day_local".cast("string"))
      .distinct().as[String].collect().sorted
    assert(days.length >= 2, "need at least two service days")
    val keepDay = days.head
    val refreshDay = days.last
    def filesOf(day: String): Map[String, Long] = {
      val dir = new java.io.File(s"$out/service_day_local=$day")
      dir.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified).toMap
    }
    val keepBefore = filesOf(keepDay)
    assert(keepBefore.nonEmpty)
    Engine.refreshByServiceDay(
      fts.filter($"service_day_local".cast("string") === refreshDay), out)
    // unchanged day: identical file set and mtimes (not rewritten)
    assert(filesOf(keepDay) === keepBefore)
    // the whole table still reads back complete
    assert(spark.read.parquet(out).count() === fts.count())
  }

  test("bucketed tables join and aggregate with no exchange") {
    // drop any catalog entry AND orphaned warehouse dirs from prior runs
    // (a fresh in-memory catalog with a persistent spark-warehouse dir
    // otherwise fails with LOCATION_ALREADY_EXISTS)
    Seq("li_bucketed", "ord_bucketed").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val dir = new java.io.File(s"spark-warehouse/$t")
      if (dir.exists()) {
        dir.listFiles().foreach(_.delete())
        dir.delete()
      }
    }
    val li = graft.sources.Sources.table(spark, sf(), "lineitem")
    val ord = graft.sources.Sources.table(spark, sf(), "orders")
    Engine.materializeBucketed(li.withColumnRenamed("l_orderkey", "k"),
      "k", 8, "li_bucketed")
    Engine.materializeBucketed(ord.withColumnRenamed("o_orderkey", "k"),
      "k", 8, "ord_bucketed")
    // force a non-broadcast join so the shuffle-avoidance is visible
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("li_bucketed")
        .join(spark.table("ord_bucketed"), Seq("k"))
      val p = joined.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$p")
      assert(joined.count() > 0)
      // aggregation on the bucket key also avoids the exchange
      val agg = spark.table("li_bucketed").groupBy($"k")
        .agg(count(lit(1)))
      assert(!agg.queryExecution.executedPlan.toString
        .contains("Exchange hashpartitioning"))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("materialize: table mode writes a bucketed table with exchange-free reuse") {
    purgeMatTables("graft_mat_spec_li")
    val li = graft.sources.Sources.table(spark, sf(), "lineitem")
      .select($"l_orderkey".as("k"), $"l_quantity")
    spark.conf.set("graft.materialize.mode", "table")
    try {
      val mat = Engine.materialize(li, key = "k", name = "spec_li", buckets = 8)
      assert(mat.count() === li.count())
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        // groupBy on the bucket key over the materialized form: no shuffle
        val agg = mat.groupBy($"k").agg(count(lit(1)))
        assert(!agg.queryExecution.executedPlan.toString
          .contains("Exchange hashpartitioning"),
          "bucketed materialize still shuffles on the bucket key")
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    } finally spark.conf.unset("graft.materialize.mode")
    // local mode (default on local[*]) keeps the localCheckpoint shape
    val local = Engine.materialize(li, key = "k", name = "spec_li2")
    assert(local.count() === li.count())
  }

  test("lineageDoc renders the registered DAG: contracts, refs, live schemas") {
    Engine.registerSources(spark, sf())
    Engine.registerMta(spark, sf())
    val doc = Engine.lineageDoc(spark,
      materialized = Map("fact_trips_stops" -> "table"))
    // every declared model appears, refs point to EARLIER models only
    // (topological consistency with registerMta), and each registered
    // view contributes its live column schema
    val names = Engine.mtaLineage.map(_.name)
    names.foreach(n => assert(doc.contains(s"### $n"), s"missing $n"))
    Engine.mtaLineage.foldLeft(Set.empty[String]) { (seen, m) =>
      m.refs.foreach(r => assert(seen.contains(r),
        s"${m.name} refs $r before it is declared"))
      seen + m.name
    }
    names.foreach { n =>
      assert(spark.catalog.tableExists(n), s"$n not registered")
      assert(doc.contains(spark.table(n).schema.fieldNames.head),
        s"$n schema not rendered")
    }
    assert(doc.contains("fact_trips_stops (`table`)") &&
      doc.contains("fact_trips (`view`)"))
    // source contracts section carries every declared source
    graft.sources.Sources.contracts.keys
      .foreach(s => assert(doc.contains(s"**$s**"), s"missing source $s"))
    // writeLineage round-trips to disk
    val p = Files.createTempFile("graft_lineage", ".md").toString
    Engine.writeLineage(spark, p)
    assert(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(p))).contains("# graft model lineage"))
  }

  test("materializeShared table mode: build once, sweep-safe, clean teardown") {
    // the cluster posture of the shared-frame path: on a real cluster
    // materializeShared backs onto a bucketed table, so (1) a second
    // same-token call must ride the FIRST table without re-evaluating
    // the builder, (2) exactly one metastore table may exist per
    // token, (3) an unpersistStale sweep between queries must not
    // break a table-backed frame (nothing of it is block-persisted),
    // (4) end-of-session cleanup must leave no graft_mat_ residue —
    // the 135-query-session leak class.
    purgeMatTables("graft_mat_shared_tbl")
    Engine.clearShared()
    spark.conf.set("graft.materialize.mode", "table")
    try {
      var builds = 0
      def build(): org.apache.spark.sql.DataFrame = {
        builds += 1
        graft.sources.Sources.table(spark, sf(), "region")
          .select($"r_regionkey".as("k"), $"r_name")
      }
      val token = Engine.planToken(
        graft.sources.Sources.table(spark, sf(), "region"), "shared_tbl_spec")
      val a = Engine.materializeShared(spark, token, build(),
        key = "k", name = "shared_tbl")
      val n = a.count()
      assert(builds === 1)
      val b = Engine.materializeShared(spark, token, build(),
        key = "k", name = "shared_tbl")
      assert(builds === 1, "cache hit must not re-evaluate the builder")
      assert(b.count() === n)
      def myTables() = spark.catalog.listTables().collect().map(_.name)
        .filter(_.startsWith("graft_mat_shared_tbl"))
      assert(myTables().length === 1,
        s"expected one backing table: ${myTables().mkString(", ")}")
      // inter-query sweep: table-backed shared frames own no persisted
      // blocks, so the sweep must leave them fully readable
      Engine.unpersistStale(spark)
      assert(b.count() === n, "unpersistStale broke a table-backed frame")
      // end-of-session hygiene
      Engine.clearShared()
      Engine.dropAllMaterialized(spark)
      assert(myTables().isEmpty,
        "dropAllMaterialized left shared tables in the metastore")
    } finally {
      spark.conf.unset("graft.materialize.mode")
      Engine.clearShared()
      purgeMatTables("graft_mat_shared_tbl")
    }
  }

  test("materializeShared supports NESTED shared builds (recursive-update regression)") {
    // spanDedup's shared build rides the shared span-windows frame and
    // bpeSegments' rides the shared BPE fit: the outer builder calls
    // materializeShared again for the SAME map. With computeIfAbsent
    // this threw IllegalStateException("Recursive update") whenever
    // the two tokens collided into one ConcurrentHashMap bin — the
    // tokens embed the per-run application id, so it surfaced as a
    // probabilistic whole-run failure of the span family. Exercise
    // many outer tokens against one shared inner token so at least
    // one pair collides with overwhelming probability.
    Engine.clearShared()
    try {
      var innerBuilds = 0
      val base = graft.sources.Sources.table(spark, sf(), "region")
        .select($"r_regionkey".as("k"), $"r_name")
      def inner(): org.apache.spark.sql.DataFrame =
        Engine.materializeShared(spark,
          Engine.planToken(base, "nested_inner"),
          { innerBuilds += 1; base },
          key = "k", name = "nested_inner")
      (0 until 64).foreach { i =>
        val outer = Engine.materializeShared(spark,
          Engine.planToken(base, s"nested_outer_$i"),
          inner().select($"k", lit(i).as("tag")),
          key = "k", name = s"nested_outer_$i")
        assert(outer.count() === 5)
      }
      assert(innerBuilds === 1,
        "inner shared frame must build once across all outer builds")
    } finally Engine.clearShared()
  }

  test("materialize table names are plan-namespaced: same name, two plans, no clobber") {
    purgeMatTables("graft_mat_ns_check")
    spark.conf.set("graft.materialize.mode", "table")
    try {
      val li = graft.sources.Sources.table(spark, sf(), "lineitem")
        .select($"l_orderkey".as("k"))
      val small = li.filter($"k" <= 10)
      val a = Engine.materialize(li, key = "k", name = "ns_check", buckets = 4)
      val aCount = a.count()
      val b = Engine.materialize(small, key = "k", name = "ns_check", buckets = 4)
      // if the second write had reused the first table, `a` would now
      // silently read `small`'s rows — the ADVICE collision scenario
      assert(b.count() < aCount, "test needs distinct plans")
      assert(a.count() === aCount, "same-name materialize clobbered the first table")
    } finally {
      spark.conf.unset("graft.materialize.mode")
      purgeMatTables("graft_mat_ns_check")
    }
  }

  test("schema contract: matching expectation passes, drift fails at table()") {
    import org.apache.spark.sql.types._
    // the real documents table satisfies its contract
    val ok = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    assert(graft.sources.Sources
      .table(spark, sf(), "documents", expect = Some(ok)).count() > 0)
    // upstream drift: doc_id declared INT where the contract wants
    // BIGINT must fail AT THE SCAN, naming source and column
    val drifted = StructType(Seq(StructField("doc_id", IntegerType)))
    val eType = intercept[IllegalArgumentException] {
      graft.sources.Sources.table(spark, sf(), "documents",
        expect = Some(drifted))
    }
    assert(eType.getMessage.contains("documents") &&
      eType.getMessage.contains("doc_id"), eType.getMessage)
    // a renamed/vanished column fails the same way
    val missing = StructType(Seq(StructField("document_id", LongType)))
    val eMissing = intercept[IllegalArgumentException] {
      graft.sources.Sources.table(spark, sf(), "documents",
        expect = Some(missing))
    }
    assert(eMissing.getMessage.contains("missing"), eMissing.getMessage)
    // nullability is advisory at EVERY nesting level: a contract
    // declaring non-null array elements must accept a writer that
    // marked them nullable (and vice versa)
    val strictNull = StructType(Seq(StructField("embedding",
      ArrayType(FloatType, containsNull = false))))
    assert(graft.sources.Sources
      .table(spark, sf(), "embeddings", expect = Some(strictNull))
      .count() > 0)
  }

  test("materialize tokens distinguish identical plans over different data dirs") {
    purgeMatTables("graft_mat_dir_check")
    spark.conf.set("graft.materialize.mode", "table")
    try {
      // canonicalized plans ERASE scan paths — the leaf ids hashed
      // into the token must keep these two frames on separate tables
      // (same query shape, different data)
      def build(dir: String) = graft.sources.Sources
        .table(spark, dir, "lineitem").select($"l_orderkey".as("k"))
      val a = Engine.materialize(build(sf("sf0.001")), key = "k",
        name = "dir_check", buckets = 4)
      val aCount = a.count()
      val b = Engine.materialize(build(sf("sf0.01")), key = "k",
        name = "dir_check", buckets = 4)
      assert(b.count() !== aCount, "test needs different-sized dirs")
      assert(a.count() === aCount,
        "materializing over a second data dir clobbered the first table")
      val tables = spark.catalog.listTables().collect().map(_.name)
        .filter(_.startsWith("graft_mat_dir_check"))
      assert(tables.length === 2, s"expected 2 tables: ${tables.mkString(", ")}")
    } finally {
      spark.conf.unset("graft.materialize.mode")
      purgeMatTables("graft_mat_dir_check")
    }
  }

  test("materialize tokens are stable across separate builds of the same plan") {
    purgeMatTables("graft_mat_tok_stable")
    spark.conf.set("graft.materialize.mode", "table")
    try {
      // two INDEPENDENT constructions of the same logical plan get
      // different exprIds; the canonicalized-plan hash must map both
      // to one table (the raw-plan hash minted a fresh table per
      // build and leaked the old one)
      def build() = graft.sources.Sources.table(spark, sf(), "lineitem")
        .select($"l_orderkey".as("k")).filter($"k" > 2)
      graft.Engine.materialize(build(), key = "k", name = "tok_stable",
        buckets = 4)
      graft.Engine.materialize(build(), key = "k", name = "tok_stable",
        buckets = 4)
      val tables = spark.catalog.listTables().collect().map(_.name)
        .filter(_.startsWith("graft_mat_tok_stable"))
      assert(tables.length === 1,
        s"same plan minted ${tables.length} tables: ${tables.mkString(", ")}")
    } finally {
      spark.conf.unset("graft.materialize.mode")
      purgeMatTables("graft_mat_tok_stable")
    }
  }

  test("every test source satisfies its declared contract") {
    graft.sources.Sources.testTables.foreach { t =>
      val c = graft.sources.Sources.contracts(t)
      assert(c.nonEmpty, s"no contract declared for $t")
      // throws (and fails the test) on any drift
      graft.sources.Sources.table(spark, sf(), t, expect = Some(c))
    }
  }

  test("snapshot check-strategy: history ≡ scd2 batch semantics, idempotent re-run") {
    val root = Files.createTempDirectory("graft_snap").toString
    val day = 86400L
    val d1 = Seq(("A", "red", 1L * day), ("B", "blue", 1L * day),
      ("C", "green", 1L * day)).toDF("route", "color", "updated_at")
    // day 2: B changes; A and C re-observed UNCHANGED at a newer
    // timestamp — check strategy must not version them
    val d2 = Seq(("A", "red", 2L * day), ("B", "navy", 2L * day),
      ("C", "green", 2L * day)).toDF("route", "color", "updated_at")
    val h1 = Engine.snapshot(spark, d1, "snap_dim", "route",
      "updated_at", Seq("color"), root, strategy = "check")
    assert(h1.count() === 3 && h1.filter($"valid_to".isNotNull).count() === 0)
    val h2 = Engine.snapshot(spark, d2, "snap_dim", "route",
      "updated_at", Seq("color"), root, strategy = "check")
    val rows = h2.orderBy($"route", $"version").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Long]), r.getLong(4)))
    assert(rows.toSeq === Seq(
      ("A", "red", day, None, 1L),
      ("B", "blue", day, Some(2 * day), 1L),
      ("B", "navy", 2 * day, None, 2L),
      ("C", "green", day, None, 1L)))
    // the temp view is registered and queryable
    assert(spark.sql("SELECT count(*) FROM snap_dim").head.getLong(0) === 4L)
    // idempotent: same source again changes nothing
    val h3 = Engine.snapshot(spark, d2, "snap_dim", "route",
      "updated_at", Seq("color"), root, strategy = "check").collect()
    assert(h3.length === 4)
    // parity with the batch SCD2 operator over the observation union:
    // same (version, attr, valid_from_day) sequence per key
    val obs = d1.unionByName(d2)
      .select($"route", $"updated_at", $"color",
        monotonically_increasing_id().as("tb"))
    val batch = graft.operators.Events
      .scd2(obs, "route", $"updated_at", "color", "tb")
      .orderBy($"route", $"version").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2),
        r.getLong(3)))
    val snapSeq = rows.map(r => (r._1, r._5, r._2, r._3 / day))
    assert(batch.toSeq === snapSeq.toSeq.map(s => (s._1, s._2, s._3, s._4)),
      "snapshot history must replay the batch scd2 version sequence")
  }

  test("snapshot timestamp-strategy: newer row versions, stale row no-ops, new key opens") {
    val root = Files.createTempDirectory("graft_snap_ts").toString
    val d1 = Seq(("A", "x", 100L), ("B", "y", 100L))
      .toDF("k", "v", "updated_at")
    Engine.snapshot(spark, d1, "snap_ts", "k", "updated_at", Seq("v"), root)
    // A newer (same value — timestamp strategy versions anyway, the
    // dbt contract: no column compare), B stale, C new
    val d2 = Seq(("A", "x", 200L), ("B", "y2", 50L), ("C", "z", 150L))
      .toDF("k", "v", "updated_at")
    val h = Engine.snapshot(spark, d2, "snap_ts", "k", "updated_at",
        Seq("v"), root)
      .orderBy($"k", $"version").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Long]), r.getLong(4)))
    assert(h.toSeq === Seq(
      ("A", "x", 100L, Some(200L), 1L),
      ("A", "x", 200L, None, 2L),
      ("B", "y", 100L, None, 1L), // stale update never rewinds history
      ("C", "z", 150L, None, 1L)))
  }

  test("snapshot hard-delete invalidation closes absent keys; re-appearance continues versions") {
    val root = Files.createTempDirectory("graft_snap_hd").toString
    val d1 = Seq(("A", "x", 100L), ("B", "y", 100L))
      .toDF("k", "v", "updated_at")
    Engine.snapshot(spark, d1, "snap_hd", "k", "updated_at", Seq("v"), root)
    // B vanishes from the source: closed at the run's observation ts
    val d2 = Seq(("A", "x", 100L)).toDF("k", "v", "updated_at")
    val h2 = Engine.snapshot(spark, d2, "snap_hd", "k", "updated_at",
        Seq("v"), root, invalidateHardDeletes = true,
        deletedAt = Some(300L))
      .orderBy($"k", $"version").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Long]), r.getLong(4)))
    assert(h2.toSeq === Seq(
      ("A", "x", 100L, None, 1L),
      ("B", "y", 100L, Some(300L), 1L)))
    // B re-appears: its version sequence CONTINUES (v2), no collision
    val d3 = Seq(("A", "x", 100L), ("B", "y9", 400L))
      .toDF("k", "v", "updated_at")
    val h3 = Engine.snapshot(spark, d3, "snap_hd", "k", "updated_at",
        Seq("v"), root, invalidateHardDeletes = true,
        deletedAt = Some(400L))
      .orderBy($"k", $"version").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Long]), r.getLong(4)))
    assert(h3.toSeq === Seq(
      ("A", "x", 100L, None, 1L),
      ("B", "y", 100L, Some(300L), 1L),
      ("B", "y9", 400L, None, 2L)))
    // idempotent under re-run with the same source
    val h4 = Engine.snapshot(spark, d3, "snap_hd", "k", "updated_at",
        Seq("v"), root, invalidateHardDeletes = true,
        deletedAt = Some(500L)).collect()
    assert(h4.length === 3)
  }

  test("snapshot recovers a history displaced by a mid-swap crash") {
    val root = Files.createTempDirectory("graft_snap_cr").toString
    val d1 = Seq(("A", "x", 100L), ("B", "y", 100L))
      .toDF("k", "v", "updated_at")
    Engine.snapshot(spark, d1, "snap_cr", "k", "updated_at", Seq("v"), root)
    val d2 = Seq(("A", "x2", 200L), ("B", "y", 100L))
      .toDF("k", "v", "updated_at")
    Engine.snapshot(spark, d2, "snap_cr", "k", "updated_at", Seq("v"), root)
    // simulate a crash between rename(p -> old) and rename(tmp -> p):
    // only .snap_old survives on disk
    val p = new org.apache.hadoop.fs.Path(s"$root/snap_cr")
    val old = new org.apache.hadoop.fs.Path(s"$root/.snap_cr.snap_old")
    val hfs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(hfs.rename(p, old) && !hfs.exists(p))
    // the next run must recover the displaced history, NOT
    // re-initialize from the current source (which would lose A's
    // closed v1 record and reset versions)
    val h = Engine.snapshot(spark, d2, "snap_cr", "k", "updated_at",
        Seq("v"), root)
      .orderBy($"k", $"version").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Long]), r.getLong(4)))
    assert(h.toSeq === Seq(
      ("A", "x", 100L, Some(200L), 1L),
      ("A", "x2", 200L, None, 2L),
      ("B", "y", 100L, None, 1L)))
    assert(!hfs.exists(old), "recovered old directory must be consumed")
  }

  test("snapshot timestamp-strategy keeps the open record on NULL updatedAt") {
    val root = Files.createTempDirectory("graft_snap_nul").toString
    val d1 = Seq(("A", "x", Some(100L)), ("B", "y", Some(100L)))
      .toDF("k", "v", "updated_at")
    Engine.snapshot(spark, d1, "snap_nul", "k", "updated_at", Seq("v"), root)
    // A re-observed with NULL updatedAt: the comparison is NULL — must
    // read as "no change", never drop the open record from history
    val d2 = Seq(("A", "x9", None: Option[Long]), ("B", "y", Some(100L)))
      .toDF("k", "v", "updated_at")
    val h = Engine.snapshot(spark, d2, "snap_nul", "k", "updated_at",
        Seq("v"), root)
      .orderBy($"k", $"version").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Long]), r.getLong(4)))
    assert(h.toSeq === Seq(
      ("A", "x", 100L, None, 1L),
      ("B", "y", 100L, None, 1L)))
  }

  test("snapshot check-strategy: changed attrs with NULL updatedAt don't supersede") {
    val root = Files.createTempDirectory("graft_snap_nulc").toString
    val d1 = Seq(("A", "x", Some(100L)), ("B", "y", Some(100L)))
      .toDF("k", "v", "updated_at")
    Engine.snapshot(spark, d1, "snap_nulc", "k", "updated_at", Seq("v"), root,
      strategy = "check")
    // A re-observed with CHANGED attr but NULL updatedAt: the <=>
    // attr compare is null-safe and would register change — without
    // the explicit gate this closed/reopened at greatest(NULL,
    // valid_from) = valid_from, a zero-length closed interval plus a
    // new version sharing the old valid_from. A row that can't say
    // WHEN it changed must read as "no change" under BOTH strategies.
    val d2 = Seq(("A", "x9", None: Option[Long]), ("B", "y", Some(100L)))
      .toDF("k", "v", "updated_at")
    val h = Engine.snapshot(spark, d2, "snap_nulc", "k", "updated_at",
        Seq("v"), root, strategy = "check")
      .orderBy($"k", $"version").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Long]), r.getLong(4)))
    assert(h.toSeq === Seq(
      ("A", "x", 100L, None, 1L),
      ("B", "y", 100L, None, 1L)))
  }

  test("snapshot check-strategy never inverts intervals on out-of-order rows") {
    val root = Files.createTempDirectory("graft_snap_ooo").toString
    val d1 = Seq(("A", "red", 200L)).toDF("k", "v", "updated_at")
    Engine.snapshot(spark, d1, "snap_ooo", "k", "updated_at", Seq("v"), root,
      strategy = "check")
    // changed attr but an OLDER updatedAt: the transition instant is
    // clamped to greatest(updatedAt, valid_from) so valid_to >=
    // valid_from always holds (no inverted/overlapping interval)
    val d2 = Seq(("A", "blue", 50L)).toDF("k", "v", "updated_at")
    val h = Engine.snapshot(spark, d2, "snap_ooo", "k", "updated_at",
        Seq("v"), root, strategy = "check")
      .orderBy($"k", $"version").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Long]), r.getLong(4)))
    assert(h.toSeq === Seq(
      ("A", "red", 200L, Some(200L), 1L),
      ("A", "blue", 200L, None, 2L)))
    h.foreach { r => r._4.foreach(vt =>
      assert(vt >= r._3, s"inverted interval in $r")) }
  }

  test("seed registers contract-pinned CSVs; missing schema fails fast") {
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("graft_seeds")
    Files.writeString(dir.resolve("svc_calendar.csv"),
      "service_date,dow,is_weekend\n2024-01-06,6,true\n2024-01-08,1,false\n")
    val names = graft.sources.Sources.seed(spark, dir.toString, Map(
      "svc_calendar" -> StructType.fromDDL(
        "service_date DATE, dow INT, is_weekend BOOLEAN")))
    assert(names === Seq("svc_calendar"))
    // pinned types survive (no CSV inference drift) and the view joins
    val got = spark.sql(
      "SELECT dow FROM svc_calendar WHERE is_weekend ORDER BY dow")
      .collect().map(_.getInt(0))
    assert(got.toSeq === Seq(6))
    assert(spark.table("svc_calendar").schema("service_date").dataType
      === DateType)
    val err = intercept[IllegalArgumentException] {
      graft.sources.Sources.seed(spark, dir.toString, Map.empty)
    }
    assert(err.getMessage.contains("no declared schema"))
  }

  test("build runs seeds → models → snapshots → tests and reports each step") {
    import org.apache.spark.sql.types._
    val root = Files.createTempDirectory("graft_build").toString
    val seeds = Files.createTempDirectory("graft_build_seeds")
    Files.writeString(seeds.resolve("regions_ref.csv"),
      "region_code,region_label\nA,Alpha\nB,Beta\n")
    // a dimension view for the snapshot phase to track
    Seq(("R1", "red", 100L), ("R2", "blue", 100L))
      .toDF("route", "color", "updated_at")
      .createOrReplaceTempView("route_dim")
    // a STRAY contract-named view from unrelated session code, with a
    // duplicated AND a null key: build()'s auto-tests are scoped to
    // the views the build itself registers, so this must NOT flip the
    // MTA-only build red — but the one-arg catalog-wide
    // contractTests() must still catch both violations on demand
    Seq(Option(1L), Option(1L), Option.empty[Long])
      .toDF("r_regionkey").withColumn("r_name", lit("x"))
      .createOrReplaceTempView("region")
    val report = Engine.build(spark, sf(),
      tableRoot = Some(root),
      seedDir = Some(seeds.toString),
      seedSchemas = Map("regions_ref" -> StructType.fromDDL(
        "region_code STRING, region_label STRING")),
      snapshots = Seq(Engine.SnapshotSpec("route_hist", "route_dim",
        "route", "updated_at", Seq("color"), strategy = "check")),
      tests = Seq(
        "trips_nonempty" -> (() =>
          graft.operators.Dq.expectations(Seq(graft.operators.Dq.unique(
            "fact_trips", spark.table("fact_trips"), Seq("trip_uid"))))),
        "failing_check" -> (() =>
          graft.operators.Dq.expectations(Seq(graft.operators.Dq
            .acceptedValues("fact_trips_stops",
              spark.table("fact_trips_stops"), "feed", Seq("nope")))))))
    val byName = report.map(s => s.name -> s).toMap
    assert(report.map(_.kind).takeWhile(_ != "test") ===
      Seq("seed", "model", "snapshot"))
    assert(report.map(_.kind).dropWhile(_ != "test").forall(_ == "test"))
    // contract-derived tests ran without being asked for: the MTA
    // sources + model grains this build registered, then the two
    // caller thunks last
    val auto = report.filter(s =>
      s.name.startsWith("not_null:") || s.name.startsWith("unique:"))
    assert(auto.size >= 2 * 16, // mta sources + models at least
      s"expected auto-derived steps, got ${auto.map(_.name)}")
    assert(byName.contains("unique:fact_trips(trip_uid)") &&
      byName("unique:fact_trips(trip_uid)").status === "pass")
    assert(byName("not_null:fact_trips_stops(tu_id,stu_id)").status === "pass")
    // the stray broken `region` view is OUTSIDE the build's scope: no
    // region test ran, and every auto test the build DID run is green
    assert(!auto.exists(_.name.contains("region")),
      s"stray view leaked into the build's auto tests: ${auto.map(_.name)}")
    assert(auto.forall(_.status == "pass"),
      s"unexpected red auto tests: ${auto.filter(_.status != "pass").map(_.name)}")
    // …while the catalog-wide one-arg contractTests still catches the
    // stray view's violations when a user asks for everything: a red
    // auto-derivable contract stays detectable, just never implicit
    val wide = Engine.contractTests(spark).toMap
    def viol(n: String): Long =
      wide(n)().agg(org.apache.spark.sql.functions.coalesce(
        org.apache.spark.sql.functions.sum($"n_violations"),
        lit(0L))).head.getLong(0)
    assert(viol("unique:region(r_regionkey)") === 1L)
    assert(viol("not_null:region(r_regionkey)") === 1L)
    spark.catalog.dropTempView("region")
    assert(byName("seeds").status === "pass" &&
      byName("seeds").rows === 1L)
    assert(byName("mta_dag").status === "pass")
    assert(byName("route_hist").status === "pass" &&
      byName("route_hist").rows === 2L)
    assert(byName("trips_nonempty").status === "pass")
    // a red test is REPORTED, not thrown — the dbt build posture
    assert(byName("failing_check").status === "fail" &&
      byName("failing_check").rows > 0L)
    // artifacts are live: the seed view, the snapshot history, the DAG
    assert(spark.table("regions_ref").count() === 2L)
    assert(spark.table("route_hist").count() === 2L)
    assert(spark.sql("SELECT count(*) FROM fact_delays").head.getLong(0) > 0)
  }

  test("a seeded CSV calendar drives the scheduled-window metric") {
    import org.apache.spark.sql.types._
    // the calendar table is the canonical seed shape: round-trip the
    // synthetic calendar through a CSV seed and run the M3 window
    // chain over the SEEDED table — result ≡ the in-memory calendar
    val dir = Files.createTempDirectory("graft_seed_cal")
    val cal = graft.models.MtaSynthetic.calendar(spark)
    val header = cal.columns.mkString(",")
    val body = cal.collect().map(_.toSeq.mkString(",")).mkString("\n")
    Files.writeString(dir.resolve("svc.csv"), header + "\n" + body + "\n")
    graft.sources.Sources.seed(spark, dir.toString, Map(
      "svc" -> StructType.fromDDL(
        "service_id STRING, start_date DATE, end_date DATE, " +
          "monday BIGINT, tuesday BIGINT, wednesday BIGINT, " +
          "thursday BIGINT, friday BIGINT, saturday BIGINT, " +
          "sunday BIGINT")))
    val e = graft.models.MtaSynthetic.ev(spark, sf())
    def win(c: org.apache.spark.sql.DataFrame) = graft.models.MtaMetrics
      .scheduledWindow(c, graft.models.MtaSynthetic.trips(e),
        graft.models.MtaSynthetic.stopTimes(e), "2024-01-15",
        "America/New_York", "06:00:00", "23:00:00")
      .collect().map(_.toSeq).toSeq.sortBy(_.toString)
    assert(win(spark.table("svc")) === win(cal),
      "the seeded calendar must reproduce the synthetic one's window")
  }

  test("saltedJoin returns the same result as a plain join") {
    val li = graft.sources.Sources.table(spark, sf(), "lineitem")
      .select($"l_orderkey".as("k"), $"l_quantity")
    val ord = graft.sources.Sources.table(spark, sf(), "orders")
      .select($"o_orderkey".as("k"), $"o_orderpriority")
    val plain = li.join(ord, Seq("k")).count()
    val salted = Engine.saltedJoin(li, ord, "k", 4).count()
    assert(salted === plain)
  }

  test("bloomPrefilter: zero false negatives, real pruning, bounded fp overhead") {
    val li = graft.sources.Sources.table(spark, sf(), "lineitem")
    val small = graft.sources.Sources.table(spark, sf(), "orders")
      .filter($"o_orderpriority" === "1-URGENT").select($"o_orderkey")
    val pre = Engine.bloomPrefilter(li, "l_orderkey", small, "o_orderkey")
    val trueMatches = li.join(small,
      $"l_orderkey" === $"o_orderkey", "left_semi").count()
    val passed = pre.count()
    val total = li.count()
    // no false negative: every true-matching row passes the bitmap
    assert(pre.join(small, $"l_orderkey" === $"o_orderkey", "left_semi")
      .count() === trueMatches)
    // the filter genuinely prunes (URGENT is ~1/5 of orders)
    assert(passed < total / 2,
      s"bloom must prune: passed $passed of $total")
    // fp overhead bounded: passed rows ≤ 1.35× the true matches at
    // the default bits/keys sizing (~5.5k distinct keys in 64k bits
    // at sf0.001 scales with SF; 1% target, generous margin)
    assert(passed <= (trueMatches * 135) / 100,
      s"fp overhead too high: $passed vs $trueMatches true")
  }
}
