package graft

import graft.models.{MtaModels, MtaSynthetic}
import graft.sources.Sources
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The engine's equivalent of dbt's lifecycle (SURVEY §3):
  * ref/source resolution becomes a registry of named lazy views;
  * `dbt run` becomes registerMta (views move no data — computation at
  * query time, exactly like warehouse views); `materialized='table'`
  * becomes a partitioned Parquet write (S4).
  */
object Engine {

  /** Register the driver testdata tables as temp views ("sources"). */
  def registerSources(spark: SparkSession, dir: String): Unit =
    Sources.registerAll(spark, dir)

  /** Build the MTA model DAG as temp views, in topological order:
    * sources → fact_trips_stops → {fact_trips, fact_delays};
    * sources → fact_alerts (SURVEY §3 E1). Views are lazy — this
    * moves no data. */
  def registerMta(spark: SparkSession, dir: String): Set[String] =
    registerMta(spark, dir, Map.empty, None)

  /** [[registerMta]] with dbt's per-model materialization switch
    * (reference: every model file declares
    * `config(materialized='view')`, overridable per model from
    * `dbt_project.yml:39-43`). A model mapped to `"table"` is written
    * through the S4 sink at registration time — partitioned by
    * service day when the model carries `service_day_local`, plain
    * parquet otherwise — and its NAME then resolves to the table for
    * every downstream model and query, exactly like `dbt run` with
    * `+materialized: table`: fact_trips built over a table-mode
    * fact_trips_stops reads parquet, not the view's plan. Unmapped
    * models stay lazy views (dbt's default). `tableRoot` anchors the
    * table paths and is required iff any model maps to `"table"`.
    * Returns the set of view names registered (sources + models) so
    * callers like [[build]] can scope follow-up work — e.g. the
    * contract-derived auto-tests — to exactly what THIS run
    * registered rather than whatever else lives in the session
    * catalog. */
  def registerMta(spark: SparkSession, dir: String,
                  materialized: Map[String, String],
                  tableRoot: Option[String]): Set[String] = {
    val register = registerModel(spark, materialized, tableRoot) _
    val e = MtaSynthetic.ev(spark, dir)
    val stops = MtaSynthetic.stops(spark)
    // Every DECLARED source is itself queryable — the reference's
    // users can SELECT from any mta_sources.yml table, so the SQL
    // surface registers the source views under the same names
    // (mta_sources.yml:7-170: trip_updates + stop_time_update child,
    // alerts + its 1:1 children, and the static GTFS tables).
    val sourceViews = Seq(
      "trip_updates" -> MtaSynthetic.tripUpdates(e),
      "trip_updates__trip_update__stop_time_update" ->
        MtaSynthetic.stopTimeUpdates(e),
      "alerts" -> MtaSynthetic.alerts(e),
      "alerts__alert__header_text__translation" -> MtaSynthetic.headerTx(e),
      "alerts__alert__description_text__translation" ->
        MtaSynthetic.descTx(e),
      "alerts__alert__active_period" -> MtaSynthetic.activePeriod(e),
      "alerts__alert__informed_entity" -> MtaSynthetic.informedEntity(e),
      "routes" -> MtaSynthetic.routes(spark),
      "stops" -> stops,
      "trips" -> MtaSynthetic.trips(e),
      "stop_times" -> MtaSynthetic.stopTimes(e),
      "calendar" -> MtaSynthetic.calendar(spark)
    )
    sourceViews.foreach { case (n, df) => df.createOrReplaceTempView(n) }
    register("fact_trips_stops", MtaModels.factTripsStops(
      MtaSynthetic.tripUpdates(e), MtaSynthetic.stopTimeUpdates(e),
      stops, MtaSynthetic.trips(e)))
    // downstream refs go through the catalog (spark.table), not the
    // builder's frame, so they read whatever materialization the
    // upstream model got — the ref() indirection that makes the
    // per-model switch compose through the DAG
    register("fact_trips",
      MtaModels.factTrips(spark.table("fact_trips_stops"), stops))
    register("fact_delays",
      MtaModels.factDelays(spark.table("fact_trips_stops")))
    register("fact_alerts", MtaModels.factAlerts(
      MtaSynthetic.alerts(e), MtaSynthetic.headerTx(e), MtaSynthetic.descTx(e),
      MtaSynthetic.activePeriod(e), MtaSynthetic.informedEntity(e),
      MtaSynthetic.routes(spark), stops))
    sourceViews.map(_._1).toSet ++ mtaLineage.map(_.name)
  }

  /** One node of the model DAG for the lineage artifact: upstream
    * model refs, consumed sources, and the model's one-line doc. */
  final case class ModelLineage(name: String, refs: Seq[String],
                                sources: Seq[String], description: String)

  /** The MTA DAG's lineage, declared once in topological order — the
    * engine's analog of dbt's `ref()`/`source()` graph that
    * `dbt docs generate` renders (reference models/mta_sources.yml +
    * docs/metrics_guide.md:12-26). Kept next to [[registerMta]];
    * LineageSpec asserts the two stay consistent (every ref names an
    * earlier model, every named view registers). */
  val mtaLineage: Seq[ModelLineage] = Seq(
    ModelLineage("fact_trips_stops", refs = Nil,
      sources = Seq("events (trip_updates ⋈ stop_time_updates)",
        "gtfs: stops", "gtfs: trips"),
      description = "stop-level RT fact: one row per (trip update, " +
        "stop time update), GTFS-joined, delay + event timestamps"),
    ModelLineage("fact_trips", refs = Seq("fact_trips_stops"),
      sources = Seq("gtfs: stops"),
      description = "trip-grain rollup: ordered argmin/argmax first/" +
        "last stop events, origin/terminal join"),
    ModelLineage("fact_delays", refs = Seq("fact_trips_stops"),
      sources = Nil,
      description = "delay observations: main-feed rows carrying an " +
        "arrival or departure delay"),
    ModelLineage("fact_alerts", refs = Nil,
      sources = Seq("events (alerts + 1:1 children)", "gtfs: routes",
        "gtfs: stops"),
      description = "alert fact: header/description texts, active " +
        "periods, informed entities pre-aggregated 1:1"))

  /** dbt-docs-style lineage + schema artifact (markdown): the source
    * contracts ([[graft.sources.Sources.contracts]]), then each model
    * with its materialization, upstream refs/sources, and — when the
    * DAG is registered in `spark` — its resolved column schema.
    * Reference lifecycle E3 (`dbt docs generate`); the schemas come
    * from the live catalog so the doc can never drift from the code
    * the way a hand-written one would. */
  def lineageDoc(spark: SparkSession,
                 materialized: Map[String, String] = Map.empty): String = {
    val sb = new StringBuilder
    sb ++= "# graft model lineage\n\n"
    sb ++= "Generated by `Engine.lineageDoc` — the dbt-docs analog " +
      "for the MTA DAG.\n\n## Source contracts\n\n"
    Sources.contracts.toSeq.sortBy(_._1).foreach { case (name, schema) =>
      sb ++= s"- **$name**: `${schema.toDDL}`\n"
    }
    sb ++= "\n## Models (topological order)\n"
    mtaLineage.foreach { m =>
      val mode = materialized.getOrElse(m.name, "view")
      sb ++= s"\n### ${m.name} (`$mode`)\n\n${m.description}\n\n"
      if (m.refs.nonEmpty)
        sb ++= s"- refs: ${m.refs.map(r => s"`$r`").mkString(", ")}\n"
      if (m.sources.nonEmpty)
        sb ++= s"- sources: ${m.sources.mkString("; ")}\n"
      if (spark.catalog.tableExists(m.name))
        sb ++= s"- columns: `${spark.table(m.name).schema.toDDL}`\n"
    }
    sb.result()
  }

  /** Write [[lineageDoc]] to `path` (end of a `dbt run`-style build). */
  def writeLineage(spark: SparkSession, path: String,
                   materialized: Map[String, String] = Map.empty): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      lineageDoc(spark, materialized))

  /** One step of an [[build]] run report — name, lifecycle kind
    * (seed | model | snapshot | test), pass/fail status, the row
    * count the step produced (violations for tests), and wall ms. */
  final case class BuildStep(name: String, kind: String, status: String,
                             rows: Long, ms: Long)

  /** Declarative snapshot for [[build]]: the [[snapshot]] parameters
    * minus the session/source (the source is `sourceView`, resolved
    * from the catalog at run time — seeds and models register views,
    * so a snapshot can track either). */
  final case class SnapshotSpec(name: String, sourceView: String,
                                key: String, updatedAtCol: String,
                                attrs: Seq[String],
                                strategy: String = "timestamp")

  /** The `dbt build` analog — one call running the full lifecycle in
    * dependency order and returning a machine-checkable report:
    *   1. seeds   — CSV seeds registered with pinned schemas
    *                ([[graft.sources.Sources.seed]]);
    *   2. models  — sources + the model DAG with per-model
    *                view | table | incremental materialization
    *                ([[registerMta]]);
    *   3. snapshots — SCD2 histories maintained under `tableRoot`
    *                ([[snapshot]]);
    *   4. tests   — dbt-style expectations; a test step FAILS when
    *                its check reports violations, and the run carries
    *                the failure in the report instead of throwing
    *                (dbt's `--store-failures` posture — orchestrators
    *                decide whether a red test blocks).
    * Tests are thunks so they can reference views the earlier phases
    * registered. With `autoTests = true` (the default, dbt's
    * posture), the run FIRST executes the contract-derived
    * not_null/unique checks from [[contractTests]] — a user porting a
    * dbt project expects `build()` to test the declared schemas
    * without hand-wiring thunks — then any caller-supplied `tests`.
    * Auto-tests run ONLY over views THIS build registered (seeds +
    * the MTA DAG + snapshots), never over contract-named temp views
    * other code in the session happens to have left behind — a stray
    * view named `orders` from unrelated work must not flip an
    * MTA-only build red (catalog-wide checking stays available by
    * calling the one-arg [[contractTests]] directly).
    * Steps run sequentially; a THROWN step records
    * status = "error" and later steps still run (dbt continues
    * independent nodes). */
  def build(spark: SparkSession, dir: String,
            materialized: Map[String, String] = Map.empty,
            tableRoot: Option[String] = None,
            seedDir: Option[String] = None,
            seedSchemas: Map[String, org.apache.spark.sql.types.StructType] =
              Map.empty,
            snapshots: Seq[SnapshotSpec] = Nil,
            tests: Seq[(String, () => DataFrame)] = Nil,
            autoTests: Boolean = true): Seq[BuildStep] = {
    val out = scala.collection.mutable.ListBuffer.empty[BuildStep]
    // views registered by THIS build() call — the auto-test scope
    val registered = scala.collection.mutable.Set.empty[String]
    def step(name: String, kind: String)(run: => (String, Long)): Unit = {
      val t0 = System.nanoTime()
      val (status, rows) =
        try run
        catch { case e: Throwable =>
          System.err.println(s"[build] $kind $name failed: ${e.getMessage}")
          ("error", 0L)
        }
      out += BuildStep(name, kind, status,
        rows, (System.nanoTime() - t0) / 1000000L)
    }
    seedDir.foreach { sd =>
      step("seeds", "seed") {
        val names = Sources.seed(spark, sd, seedSchemas)
        registered ++= names
        ("pass", names.size.toLong)
      }
    }
    step("mta_dag", "model") {
      registered ++= registerMta(spark, dir, materialized, tableRoot)
      ("pass", mtaLineage.size.toLong)
    }
    snapshots.foreach { sp =>
      step(sp.name, "snapshot") {
        val root = tableRoot.getOrElse(throw new IllegalArgumentException(
          s"build: snapshot '${sp.name}' needs a tableRoot"))
        val hist = snapshot(spark, spark.table(sp.sourceView), sp.name,
          sp.key, sp.updatedAtCol, sp.attrs, root, sp.strategy)
        registered += sp.name
        ("pass", hist.count())
      }
    }
    def runTest(name: String, mk: () => DataFrame): Unit =
      step(name, "test") {
        // coalesce: a test thunk returning an EMPTY frame sums to
        // NULL; dbt treats zero-row test results as passing, so read
        // that as 0 violations rather than NPE-ing into "error".
        val rep = mk()
        val viol = rep.agg(org.apache.spark.sql.functions.coalesce(
          org.apache.spark.sql.functions
            .sum(org.apache.spark.sql.functions.col("n_violations")),
          org.apache.spark.sql.functions.lit(0L)))
          .head.getLong(0)
        (if (viol == 0L) "pass" else "fail", viol)
      }
    if (autoTests)
      contractTests(spark, registered.toSet)
        .foreach { case (n, mk) => runTest(n, mk) }
    tests.foreach { case (name, mk) => runTest(name, mk) }
    out.toList
  }

  /** One view's contract-derived checks: `cols` get a not_null test;
    * with `unique = true` (the default) they also form the declared
    * unique key. Keyless fact tables set `unique = false` — dbt
    * projects attach not_null to fact identity columns without
    * claiming a grain. */
  final case class ContractTest(cols: Seq[String], unique: Boolean = true)
  private def key(cols: String*): ContractTest = ContractTest(cols)

  /** Declared keys for the registered views — the engine's
    * analog of dbt attaching `not_null` + `unique` tests to the
    * columns the sources yml declares (the reference's dlt tables
    * each carry the per-row `_dlt_id`, `models/mta_sources.yml`; the
    * GTFS/static and registry tables key on their natural ids; model
    * grains are documented on their builders in MtaModels). */
  val contractKeys: Map[String, ContractTest] = Map(
    // dlt-ingested RT tables: _dlt_id is dlt's per-row key
    "trip_updates" -> key("_dlt_id"),
    "trip_updates__trip_update__stop_time_update" -> key("_dlt_id"),
    "alerts" -> key("_dlt_id"),
    "alerts__alert__header_text__translation" -> key("_dlt_id"),
    "alerts__alert__description_text__translation" -> key("_dlt_id"),
    "alerts__alert__active_period" -> key("_dlt_id"),
    "alerts__alert__informed_entity" -> key("_dlt_id"),
    // GTFS static tables
    "routes" -> key("route_id"),
    "stops" -> key("stop_id"),
    "trips" -> key("trip_id"),
    "stop_times" -> key("trip_id", "stop_sequence"),
    "calendar" -> key("service_id"),
    // model grains (one row per…)
    "fact_trips_stops" -> key("tu_id", "stu_id"),
    "fact_trips" -> key("trip_uid"),
    "fact_delays" -> key("tu_id", "stu_id"),
    "fact_alerts" -> key("alert_id"),
    // driver-testdata registry ([[graft.sources.Sources.contracts]])
    "region" -> key("r_regionkey"),
    "nation" -> key("n_nationkey"),
    "customer" -> key("c_custkey"),
    "supplier" -> key("s_suppkey"),
    "part" -> key("p_partkey"),
    "orders" -> key("o_orderkey"),
    // the synthetic lineitem is a KEYLESS fact: the generator draws
    // (order, part, supplier, linenumber) independently and collides
    // even the full 4-tuple (one dup at sf0.001) -- not_null on the
    // line identity, no unique claim
    "lineitem" -> ContractTest(Seq("l_orderkey", "l_partkey",
      "l_suppkey", "l_linenumber"), unique = false),
    "events" -> key("event_id"),
    "documents" -> key("doc_id"),
    "embeddings" -> key("vec_id"))

  /** Contract-derived test thunks (dbt's yml-declared tests): for
    * every [[contractKeys]] view PRESENT in the session catalog, a
    * `not_null` check (rows with any NULL key field) and a `unique`
    * check (key groups with more than one row). Views not registered
    * in this session are skipped — a build that only ran the MTA DAG
    * doesn't fail on absent registry tables. Both checks are one
    * scan-shaped aggregate per view; at 100 TB the unique check is
    * the usual map-side-combined groupBy on the key.
    *
    * The one-arg form scans the WHOLE session catalog (the standalone
    * "test everything I can see" call); the two-arg form restricts to
    * `only` — [[build]] passes the views it registered itself, so a
    * contract-named temp view left behind by unrelated session code
    * can't leak into a build's test set. */
  def contractTests(spark: SparkSession)
      : Seq[(String, () => DataFrame)] =
    contractTests(spark, contractKeys.keySet)

  /** [[contractTests]] restricted to the views in `only`. */
  def contractTests(spark: SparkSession, only: Set[String])
      : Seq[(String, () => DataFrame)] = {
    import org.apache.spark.sql.functions._
    contractKeys.toSeq.sortBy(_._1).flatMap { case (v, ct) =>
      if (!only.contains(v) || !spark.catalog.tableExists(v)) Nil
      else {
        val keys = ct.cols
        val keyList = keys.mkString(",")
        val notNull =
          s"not_null:$v($keyList)" -> (() =>
            spark.table(v)
              .filter(keys.map(c => col(c).isNull).reduce(_ || _))
              .agg(count(lit(1)).as("n_violations")))
        val uniq =
          s"unique:$v($keyList)" -> (() =>
            spark.table(v)
              .filter(keys.map(c => col(c).isNotNull).reduce(_ && _))
              .groupBy(keys.map(col): _*)
              .agg(count(lit(1)).as("_n"))
              .filter(col("_n") > 1L)
              .agg(count(lit(1)).as("n_violations")))
        if (ct.unique) Seq(notNull, uniq) else Seq(notNull)
      }
    }
  }

  /** dbt-snapshots analog (the reference ships the placeholder
    * `snapshots/.gitkeep`): maintain an SCD2 history table for a
    * dimension across runs. Each run compares the CURRENT source
    * state against the open records at `tableRoot/name` and
    *   - `strategy = "timestamp"`: a source row whose `updatedAtCol`
    *     is strictly newer than the open record's `valid_from`
    *     supersedes it (dbt's timestamp strategy — no column compare);
    *   - `strategy = "check"`: a source row whose tracked `attrs`
    *     differ (null-safe) from the open record supersedes it — the
    *     run-level twin of [[graft.operators.Events.scd2]]'s
    *     change-detection (EngineSpec pins the version/attr/valid_from
    *     parity against the batch operator).
    * Superseded records close with `valid_to = ` the new row's
    * `updatedAtCol` (check strategy: clamped to
    * `greatest(updatedAtCol, valid_from)` so an out-of-order source
    * row can never produce an inverted interval); new keys open at
    * version 1; keys absent from the source keep their open record
    * (dbt's default). A matched source row with a NULL `updatedAtCol`
    * reads as "no change" under BOTH strategies — the open record is
    * kept, never dropped, and (check strategy) changed attrs with no
    * change timestamp do not supersede: a row that can't say when it
    * changed can't open a version. With
    * `invalidateHardDeletes = true` (dbt's `invalidate_hard_deletes`)
    * a key absent from the source instead CLOSES its open record at
    * `deletedAt` — pass the run's observation timestamp; a later
    * re-appearance of the key opens a fresh version. Re-running with
    * an unchanged source is a no-op (idempotent), so a crashed
    * orchestrator can always just re-run.
    *
    * Source rows dedup per key to the max (updatedAt, attrs…) struct
    * — deterministic under any partitioning, same ordered-argmax
    * refinement the A4/A5 operators use. History columns:
    * (key, attrs…, valid_from, valid_to NULL=open, version 1-based).
    *
    * The rewrite goes through a tmp directory + rename-first swap
    * (the zorderCompact pattern): the new history lands beside the
    * old, the old directory moves away, the new one moves in, THEN
    * the old is deleted — a crash never leaves less than one full
    * history on disk. History tables are dimension-sized; the one
    * shuffle is the full-outer join on `key`.
    *
    * Registers the history as temp view `name`; returns it. */
  def snapshot(spark: SparkSession, source: DataFrame, name: String,
               key: String, updatedAtCol: String, attrs: Seq[String],
               tableRoot: String,
               strategy: String = "timestamp",
               invalidateHardDeletes: Boolean = false,
               deletedAt: Option[Any] = None): DataFrame = {
    import org.apache.spark.sql.functions._
    require(strategy == "timestamp" || strategy == "check",
      s"snapshot: unknown strategy '$strategy' (timestamp | check)")
    require(attrs.nonEmpty, "snapshot: at least one tracked attr")
    require(!invalidateHardDeletes || deletedAt.isDefined,
      "snapshot: invalidateHardDeletes needs deletedAt (the run's " +
        "observation timestamp to close deleted keys at)")
    val path = s"$tableRoot/$name"
    val p = new org.apache.hadoop.fs.Path(path)
    val hfs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Crash recovery for the rename-first swap below: a crash between
    // rename(p -> old) and rename(tmp -> p) leaves ONLY .snap_old on
    // disk. Without this, the next run would see !exists(p) and
    // silently re-initialize history from the current source (losing
    // every closed record and version number) before deleting the
    // surviving .snap_old. Recover the displaced history first; when
    // BOTH exist, p is the completed new history and old is stale
    // (handled by the pre-write cleanup below).
    val oldP = new org.apache.hadoop.fs.Path(s"$tableRoot/.$name.snap_old")
    if (!hfs.exists(p) && hfs.exists(oldP) && !hfs.rename(oldP, p))
      sys.error(s"snapshot: crash recovery rename $oldP -> $p failed")
    val tsType = source.schema(updatedAtCol).dataType
    val payload = updatedAtCol +: attrs
    val src = source
      .groupBy(col(key))
      .agg(max(struct(payload.map(col): _*)).as("_s"))
      .select(col(key) +: payload.map(c => col(s"_s.$c").as(c)): _*)
    val histCols = (key +: attrs) ++ Seq("valid_from", "valid_to", "version")
    val out: DataFrame =
      if (!hfs.exists(p))
        src.select(
          (col(key) +: attrs.map(col)) ++ Seq(
            col(updatedAtCol).as("valid_from"),
            lit(null).cast(tsType).as("valid_to"),
            lit(1L).as("version")): _*)
      else {
        val hist = spark.read.parquet(path)
        val cur = hist.filter(col("valid_to").isNull)
        val closed = hist.filter(col("valid_to").isNotNull)
        val s = src.select(col(key).as("_k") +:
          payload.map(c => col(c).as(s"_s_$c")): _*)
        val j = cur.join(s, col(key) === col("_k"), "full_outer")
        // coalesce(…, false): a matched source row with NULL
        // updatedAtCol makes the timestamp comparison NULL, which
        // would drop the key from BOTH keptCur (!chg -> NULL) and
        // closedNow (chg -> false) — the open record would silently
        // vanish from the rewritten history. A null comparison must
        // read as "no change" so the open record is kept. The check
        // strategy needs the same gate EXPLICITLY: its <=> attr
        // compare is null-safe, so changed attrs with a NULL
        // updatedAt would otherwise register change and close/open at
        // greatest(NULL, valid_from) = valid_from — a zero-length
        // closed interval plus a new version sharing the old
        // valid_from. A row that can't say WHEN it changed can't
        // supersede under either strategy.
        val chg: org.apache.spark.sql.Column = coalesce(strategy match {
          case "timestamp" =>
            col(s"_s_$updatedAtCol") > col("valid_from")
          case _ =>
            col(s"_s_$updatedAtCol").isNotNull &&
              attrs.map(a => !(col(s"_s_$a") <=> col(a))).reduce(_ || _)
        }, lit(false))
        // The check strategy detects change by attrs, not time, so an
        // out-of-order source row (changed attrs, updatedAt OLDER than
        // the open record's valid_from) would otherwise close/open at
        // that stale timestamp and produce an inverted interval
        // (valid_to < valid_from). Clamp the transition instant to
        // greatest(source updatedAt, open valid_from) — dbt's check
        // strategy similarly avoids inversion by using the run
        // timestamp. Monotone sources are unaffected (greatest is the
        // source updatedAt), which keeps the Events.scd2 parity pin.
        val transTs: org.apache.spark.sql.Column =
          if (strategy == "check")
            greatest(col(s"_s_$updatedAtCol"), col("valid_from"))
          else col(s"_s_$updatedAtCol")
        val matched = j.filter(col(key).isNotNull && col("_k").isNotNull)
        val keptCur = matched.filter(!chg).select(histCols.map(col): _*)
        // keys absent from the source: kept open (default) or closed
        // at the run's observation timestamp (hard-delete invalidation)
        val absentCur = j.filter(col(key).isNotNull && col("_k").isNull)
        val absentOut =
          if (!invalidateHardDeletes) absentCur.select(histCols.map(col): _*)
          else absentCur.select((col(key) +: attrs.map(col)) ++ Seq(
            col("valid_from"),
            lit(deletedAt.get).cast(tsType).as("valid_to"),
            col("version")): _*)
        val closedNow = matched.filter(chg)
          .select((col(key) +: attrs.map(col)) ++ Seq(
            col("valid_from"),
            transTs.as("valid_to"),
            col("version")): _*)
        val newVer = matched.filter(chg)
          .select((col("_k").as(key) +: attrs.map(a =>
            col(s"_s_$a").as(a))) ++ Seq(
            transTs.as("valid_from"),
            lit(null).cast(tsType).as("valid_to"),
            (col("version") + 1L).as("version")): _*)
        // a key with no OPEN record may still have CLOSED history (a
        // hard-deleted key re-appearing): continue its version
        // sequence rather than colliding with version 1
        val closedMaxV = closed.groupBy(col(key))
          .agg(max(col("version")).as("_cv"))
          .withColumnRenamed(key, "_ck")
        val newKeys = j.filter(col(key).isNull)
          .join(closedMaxV, col("_k") === col("_ck"), "left")
          .select((col("_k").as(key) +: attrs.map(a =>
            col(s"_s_$a").as(a))) ++ Seq(
            col(s"_s_$updatedAtCol").as("valid_from"),
            lit(null).cast(tsType).as("valid_to"),
            (coalesce(col("_cv"), lit(0L)) + 1L).as("version")): _*)
        closed.select(histCols.map(col): _*)
          .unionByName(keptCur).unionByName(closedNow)
          .unionByName(newVer).unionByName(absentOut).unionByName(newKeys)
      }
    // tmp + rename-first swap: never less than one full history on disk
    val tmp = new org.apache.hadoop.fs.Path(s"$tableRoot/.$name.snap_tmp")
    val old = new org.apache.hadoop.fs.Path(s"$tableRoot/.$name.snap_old")
    if (hfs.exists(tmp) && !hfs.delete(tmp, true))
      sys.error(s"snapshot: cleanup of stale $tmp failed")
    if (hfs.exists(old) && !hfs.delete(old, true))
      sys.error(s"snapshot: cleanup of stale $old failed")
    out.write.mode("overwrite").parquet(tmp.toString)
    if (hfs.exists(p) && !hfs.rename(p, old))
      sys.error(s"snapshot: rename $p -> $old failed")
    if (!hfs.rename(tmp, p))
      sys.error(s"snapshot: rename $tmp -> $p failed")
    if (hfs.exists(old) && !hfs.delete(old, true))
      sys.error(s"snapshot: delete of superseded $old failed")
    val result = spark.read.parquet(path)
    result.createOrReplaceTempView(name)
    result
  }

  private def registerModel(spark: SparkSession,
                            materialized: Map[String, String],
                            tableRoot: Option[String])
                           (name: String, df: DataFrame): Unit =
    materialized.getOrElse(name, "view") match {
      case "view" => df.createOrReplaceTempView(name)
      case "table" =>
        val root = tableRoot.getOrElse(throw new IllegalArgumentException(
          s"registerMta: model '$name' is table-materialized but no " +
            "tableRoot was given"))
        val path = s"$root/$name"
        if (df.columns.contains("service_day_local"))
          materializeByServiceDay(df, path)
        else df.write.mode("overwrite").parquet(path)
        spark.read.parquet(path).createOrReplaceTempView(name)
      // dbt's third materialization (`materialized='incremental'`,
      // day-partition strategy): first run writes the full
      // day-partitioned table; every later run recomputes the model
      // and dynamic-partition-overwrites ONLY the days ≥ the max day
      // already on disk (inclusive — the in-flight day is always
      // refreshed, so data landing on the boundary day is never
      // stale), the daily cadence docs/metrics_guide.md:385
      // recommends. The day restriction is applied to the model
      // OUTPUT: Catalyst pushes it down the model plan, and when the
      // upstream model is itself day-partitioned (table/incremental
      // mode) it becomes scan-level partition pruning — that chain,
      // not this operator, is what bounds the source scan at 100 TB.
      // Late data ≥2 days behind the watermark is the documented
      // non-case (same as dbt's insert_overwrite): repair with
      // [[refreshByServiceDay]] on the affected days.
      case "incremental" =>
        val root = tableRoot.getOrElse(throw new IllegalArgumentException(
          s"registerMta: model '$name' is incremental-materialized " +
            "but no tableRoot was given"))
        if (!df.columns.contains("service_day_local"))
          throw new IllegalArgumentException(
            s"registerMta: incremental model '$name' must carry " +
              "service_day_local (day-partition strategy)")
        val path = s"$root/$name"
        val exists = {
          val p = new org.apache.hadoop.fs.Path(path)
          p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
        }
        if (!exists) materializeByServiceDay(df, path)
        else {
          import org.apache.spark.sql.functions.{col, lit, max}
          val maxDay = spark.read.parquet(path)
            .agg(max(col("service_day_local"))).head().get(0)
          val dayCol = col("service_day_local")
          // null-day rows ride every refresh (they carry no watermark)
          refreshByServiceDay(
            df.filter(dayCol.isNull || dayCol >= lit(maxDay)), path)
        }
        spark.read.parquet(path).createOrReplaceTempView(name)
      case other => throw new IllegalArgumentException(
        s"registerMta: unknown materialization '$other' for model " +
          s"'$name' (expected 'view', 'table', or 'incremental')")
    }

  /** S4 table sink: materialize a model partitioned by local service
    * day — the reference's production guidance
    * (docs/metrics_guide.md:385). Partition pruning then makes
    * day-ranged dashboards scan only their days at any scale. */
  def materializeByServiceDay(df: DataFrame, outPath: String): Unit =
    df.write.mode("overwrite").partitionBy("service_day_local").parquet(outPath)

  /** Incremental S4: overwrite ONLY the service days present in
    * `delta` (dynamic partition overwrite), leaving every other day's
    * files untouched. This is the reference's production cadence
    * (docs/metrics_guide.md:385 — partition by day, refresh the days
    * the feed changed) and the only affordable form at 100 TB: a
    * daily refresh rewrites one day, not the table. */
  def refreshByServiceDay(delta: DataFrame, outPath: String): Unit =
    delta.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("service_day_local").parquet(outPath)

  /** Bucketed materialization: pre-shuffle a fact on its join/rollup
    * key so repeated joins and aggregations on that key run with NO
    * exchange (SURVEY §4: bucketing on trip_uid for the rollup). At
    * 100 TB this converts the per-query shuffle of the biggest table
    * into a one-time write cost. */
  def materializeBucketed(df: DataFrame, key: String, buckets: Int,
                          table: String): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, key).sortBy(key)
      .format("parquet").saveAsTable(table)

  /** Cluster-safe materialization of a hot intermediate reused by
    * several downstream branches.
    *
    * Local mode: `localCheckpoint` — cheapest way to truncate lineage
    * and share the computed blocks in one JVM. On a real cluster
    * localCheckpoint pins blocks to executors (an executor loss kills
    * the job instead of recomputing), so there the intermediate goes
    * through the bucketed table write path instead: one shuffle at
    * write time, then every downstream join/agg on `key` reads it
    * exchange-free.
    *
    * Mode resolution: conf `graft.materialize.mode` = `local` |
    * `table` overrides; default picks `local` iff the master is
    * local[*].
    *
    * Table names are namespaced with a token hashed from the
    * application id + the CANONICALIZED logical plan + the plan's
    * LEAF identities. Canonicalization normalizes exprIds to ordinals
    * (two logically-identical frames built separately map to the same
    * token) but ALSO erases scan paths, so the leaf identities — file
    * scan root paths, v2 table names, inline-data hashes — are hashed
    * in explicitly: one session materializing the same `name` over
    * two data dirs gets two tables, and two applications sharing a
    * metastore never clobber each other. Same application + same plan
    * over the same data reuses the same table (idempotent overwrite).
    * 8 token bytes keep the cross-plan collision odds negligible. */
  def materialize(df: DataFrame, key: String, name: String,
                  buckets: Int = 32): DataFrame =
    materializeTracked(df, key, name, buckets)._1

  /** Stable 8-byte identity token for (application, logical plan,
    * leaf data). Canonicalization normalizes exprIds (two
    * logically-identical frames built separately map to the same
    * token) but erases scan paths, so leaf identities — file-scan
    * root paths, v2 table names, inline-data hashes, checkpoint RDD
    * ids, and a nodeName+schema catch-all for any other leaf kind
    * (Hive relations, custom sources) — are hashed in explicitly.
    * Used to namespace materialized tables and to key
    * [[materializeShared]] frames. `extra` folds caller context
    * (e.g. parameter values) into the token. */
  def planToken(df: DataFrame, extra: String = ""): String = {
    val spark = df.sparkSession
    val plan = df.queryExecution.analyzed
    val leafIds = plan.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.mkString(",")
          case other => other.toString
        }
      case v2: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
        v2.name
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        s"local:${l.data.hashCode}"
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        s"rdd:${r.rdd.id}"
      case other if other.children.isEmpty =>
        // catch-all: without it two distinct unknown-leaf sources with
        // identical canonicalized shapes would share one token
        s"${other.nodeName}:${other.schema.catalogString}"
    }.mkString(";")
    java.security.MessageDigest.getInstance("MD5")
      .digest((spark.sparkContext.applicationId +
        plan.canonicalized.toString + leafIds + extra).getBytes("UTF-8"))
      .take(8).map("%02x".format(_)).mkString
  }

  /** Widen a SMALL scan's parallelism before a per-row-EXPENSIVE map
    * stage (per-position/per-shingle hash explodes): a local test
    * table arrives as ONE parquet split (a single row group under
    * `maxPartitionBytes`), so everything pipelined into the scan
    * stage — a 1.3M-window md5 explode, say — runs on ONE core of
    * `local[N]` until the first exchange. That is the optimization
    * guide's input-skew shape (one unsplittable input → repartition
    * immediately after the read, §2.5). Round-robin repartition to
    * the session default parallelism, ONLY when the plan's current
    * parallelism is below it: on a cluster-scale corpus the scan
    * already arrives in many splits and this adds NO shuffle — the
    * knob is derived from the input, not a local constant (r17 opt
    * round: span_windows build 4.7 → 1.0 s, winnow_fp 2.7 → 0.8 s,
    * minhash_sig 1.1 → 0.6 s isolated warm). Streaming inputs pass
    * through untouched (`.rdd` is illegal on them; their per-trigger
    * batches are planned by the micro-batch engine). Callers are
    * hash/aggregate pipelines whose outputs are row-order-independent
    * (the repo-wide determinism contract), so the round-robin
    * placement cannot move results. */
  def widenScan(df: DataFrame): DataFrame = {
    if (df.isStreaming) df
    else {
      val p = df.sparkSession.sparkContext.defaultParallelism
      if (df.rdd.getNumPartitions < p) df.repartition(p) else df
    }
  }

  /** [[materialize]] variant that also returns the backing table name
    * in table mode (`None` in local mode) so iterative callers — e.g.
    * connectedComponents' per-round labels — can drop a superseded
    * round's table instead of leaking one table per iteration. */
  def materializeTracked(df: DataFrame, key: String, name: String,
                         buckets: Int = 32): (DataFrame, Option[String]) = {
    val spark = df.sparkSession
    val mode = spark.conf.getOption("graft.materialize.mode").getOrElse(
      if (spark.sparkContext.isLocal) "local" else "table")
    if (mode == "local") (df.localCheckpoint(), None)
    else {
      // canonicalized.toString nulls out scan paths and table
      // identity — without the leaf ids, the same query shape over
      // two data dirs would silently share one table
      val table = s"graft_mat_${name}_${planToken(df)}"
      df.write.mode("overwrite")
        .bucketBy(buckets, key).sortBy(key)
        .format("parquet").saveAsTable(table)
      (spark.table(table), Some(table))
    }
  }

  // ── the SHARED-ARTIFACT registry: every [[materializeShared]] frame
  // and [[sharedDir]] directory lives in this one map, keyed by kind +
  // token so a frame and a dir can never collide. Each entry carries
  // its value, the idle tick it was last used at, and its release
  // action (none for a frame — [[unpersistStale]] frees its blocks
  // once it leaves the map; delete-from-disk for a directory, which
  // nothing holds open between queries: streams drain before their fn
  // returns). Lookup, stamping, aging, rollback and release all go
  // through here.
  private final class Shared(val value: AnyRef, val release: () => Unit,
                             @volatile var lastUse: Long)

  private val shared =
    new java.util.concurrent.ConcurrentHashMap[String, Shared]()

  // idle clock: advanced once per query by [[endQuery]]; every hit or
  // build stamps its entry. Purely advisory — eviction is safe at any
  // time (a later consumer just rebuilds on miss).
  private val sharedTick = new java.util.concurrent.atomic.AtomicLong(0L)

  // a directory entry still in the map at JVM exit is deleted
  Runtime.getRuntime.addShutdownHook(new Thread(() => clearShared()))

  /** Get-or-build for the registry. A hit counts only while `live`
    * holds for its value (a directory must still exist on disk).
    *
    * Builds run OUTSIDE the map lock (get → build → compare-and-set),
    * NOT via `computeIfAbsent`: shared builds nest — `spanDedup`'s
    * build rides the shared span-windows frame, `bpeSegments`' rides
    * the shared fit — and a nested `computeIfAbsent` on one
    * ConcurrentHashMap throws IllegalStateException("Recursive
    * update") whenever the two tokens land in the same bin. Tokens
    * embed the per-run application id, so the collision is
    * probabilistic PER JVM — it surfaced as a whole-run flaky failure
    * of the span-dedup family. The trade: two concurrent first
    * callers may both build; the loser releases its own artifact at
    * once and returns the winner's, which is benign — callers here
    * are single-threaded harness mains. A build that throws registers
    * nothing (`build` cleans up after itself). */
  private def sharedGetOrBuild[A <: AnyRef](key: String, live: A => Boolean)
                                           (build: => (A, () => Unit)): A = {
    val hit = shared.get(key)
    if (hit != null && live(hit.value.asInstanceOf[A])) {
      hit.lastUse = sharedTick.get
      hit.value.asInstanceOf[A]
    } else {
      val (value, release) = build
      val mine = new Shared(value, release, sharedTick.get)
      // replace only a missing or stale entry, never a live one that a
      // concurrent build registered first
      val kept = shared.merge(key, mine,
        (cur, m) => if (cur eq hit) m else cur)
      if (kept ne mine) release()
      else if (hit != null) hit.release()
      kept.value.asInstanceOf[A]
    }
  }

  /** Remove and release every entry matching `drop`. */
  private def evictShared(drop: (String, Shared) => Boolean): Unit = {
    import scala.jdk.CollectionConverters._
    shared.asScala.filter { case (k, e) => drop(k, e) }.toSeq
      .foreach { case (k, e) => if (shared.remove(k, e)) e.release() }
  }

  /** Idle window: an entry untouched for this many [[endQuery]] calls
    * is evicted. Bounds the registry at any query count: without it a
    * long session pins one localCheckpoint per shared frame for the
    * JVM lifetime (341 MB at 167 queries / sf0.1 — GBs at larger SFs),
    * and the storage-memory pressure is exactly the late-query
    * slowdown class [[unpersistStale]] exists for. Queries run in
    * sorted name order, so a family's builder and riders are adjacent
    * — a window of ~25 keeps every measured rider relationship
    * alive. */
  private val SharedIdleWindow = 25L

  /** End-of-query step for a session running many queries back to back
    * (Bench, Verify): advance the idle clock, evict shared artifacts
    * idle for [[SharedIdleWindow]] queries, then release every dead
    * checkpoint block ([[unpersistStale]]). Call after each query,
    * once every consumer of its frames has run. */
  def endQuery(spark: SparkSession): Unit = {
    val now = sharedTick.incrementAndGet()
    evictShared((_, e) => now - e.lastUse > SharedIdleWindow)
    unpersistStale(spark)
  }

  /** Session-scoped SHARED materialization, for a frame that several
    * registered queries build identically (e.g. the n-gram scored-pairs
    * frame behind both the jaccard and containment dedups: without
    * sharing, each query rebuilds the same multi-million-row inverted
    * index).
    *
    * `token` must identify the INPUT data + transform — derive it with
    * [[planToken]] on the PRE-transform input frame plus a transform
    * tag, never on the built frame itself: a built frame that reads an
    * upstream checkpoint carries a fresh RDD identity each time, so
    * its own token would never hit the cache. `df` is by-name and only
    * evaluated on a miss.
    *
    * Correct exactly when sources are immutable for the session;
    * tokens embed the application id, so entries from other sessions
    * in the same JVM can never be returned (they only age out — call
    * [[clearShared]] for test hygiene). */
  def materializeShared(spark: SparkSession, token: String,
                        df: => DataFrame, key: String,
                        name: String): DataFrame =
    sharedGetOrBuild[DataFrame]("frame:" + token, _ => true) {
      (materialize(df, key, name), () => ())
    }

  /** Evict every shared artifact (test hygiene — entries are
    * per-application-id and otherwise live for the JVM); evicted
    * directories are deleted from disk. */
  def clearShared(): Unit = evictShared((_, _) => true)

  @volatile private var scratchRootOpt: Option[String] = None

  /** [[routeScratch]] applied to a session builder: routes scratch
    * and points `spark.local.dir` (shuffle/spill files) at it. */
  def withScratch(b: SparkSession.Builder): SparkSession.Builder =
    routeScratch().map(p => b.config("spark.local.dir", p)).getOrElse(b)

  /** The harness mains' session: scratch routed ([[withScratch]]),
    * `local[SPARK_GRAFT_CPUS]` (else `defaultCpus`) with as many
    * shuffle partitions, UTC, no UI, events.ts TIMESTAMP(NANOS) read
    * as Long (normalized in Sources), and [[GraftExtensions]]. */
  def localSession(defaultCpus: Int): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    val spark = withScratch(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Route ALL scratch I/O — shuffle local dirs, temporary streaming
    * checkpoints (offsets + STATE STORE delta files: the per
    * operator×partition×trigger commit tax), and [[sharedDir]] stream
    * sources/sinks — onto a RAM-backed tmpfs when one is mounted.
    * Call FIRST in a harness main, then pass the returned path as
    * `spark.local.dir`; java.io.tmpdir is redirected here so Spark's
    * `Utils.createTempDir` callers (temp checkpoints) land on it too.
    *
    * Why: on the 4-vCPU bench VM `/tmp` is plain disk while `/dev/shm`
    * is a tmpfs, and the stateful streaming drains create, chmod and
    * rename hundreds of tiny state/commit-log files per run through the
    * checkpoint dir. Those files are never fsync'd (an LD_PRELOAD
    * counter of libc fsync/fdatasync saw no call during a drain); their
    * fixed cost was Hadoop's per-file `chmod`/`readlink` process
    * spawns, which [[graft.streaming.LocalCheckpointFs]] removes. tmpfs keeps the
    * remaining metadata and page-cache writes off other tenants' disk
    * I/O. At 100 TB the analog is provisioned local NVMe for
    * `spark.local.dir` and an object-store checkpoint dir sized for
    * the state volume — the point stands: scratch placement is a
    * first-class resource the harness pins, never inherited from
    * wherever `/tmp` happens to mount. A/B lever:
    * `SPARK_GRAFT_SCRATCH=disk` keeps the JVM defaults (the r16
    * before/after measurement in PERF.md); an explicit path routes
    * there instead of `/dev/shm`. */
  def routeScratch(): Option[String] = {
    val pref = sys.env.get("SPARK_GRAFT_SCRATCH")
    if (pref.contains("disk")) None
    else {
      val root = new java.io.File(pref.getOrElse("/dev/shm"))
      if (!(root.isDirectory && root.canWrite)) None
      else {
        val base = new java.io.File(root, "graft_scratch")
        base.mkdirs()
        // age sweep: a hard-killed run leaves RAM-backed debris no
        // shutdown hook could delete — reclaim anything stale
        val cutoff = System.currentTimeMillis - 6L * 3600 * 1000
        Option(base.listFiles()).getOrElse(Array.empty)
          .filter(_.lastModified < cutoff)
          .foreach(f => deleteDir(f.getAbsolutePath))
        val mine = new java.io.File(base,
          "p" + ProcessHandle.current().pid())
        mine.mkdirs()
        System.setProperty("java.io.tmpdir", mine.getAbsolutePath)
        scratchRootOpt = Some(mine.getAbsolutePath)
        Runtime.getRuntime.addShutdownHook(new Thread(() =>
          deleteDir(mine.getAbsolutePath)))
        scratchRootOpt
      }
    }
  }

  private def deleteDir(path: String): Unit = {
    // the registered path is <tmp>/graft_sharedXXXX/d — remove the
    // whole temp root, not just the payload dir, or empty shells
    // accumulate in /tmp
    val p0 = java.nio.file.Paths.get(path)
    val p = if (p0.getParent != null && p0.getParent.getFileName != null &&
      p0.getParent.getFileName.toString.startsWith("graft_shared"))
      p0.getParent else p0
    // walkFileTree, not Files.walk: the scratch-root and sharedDir
    // shutdown hooks (and Spark's own temp-dir hook) delete the same
    // tree concurrently, and a Files.walk iterator throws
    // UncheckedIOException(NoSuchFileException) on the first entry
    // another hook removed, abandoning the rest of the walk. Here a
    // vanished entry is skipped and its siblings are still deleted.
    import java.nio.file.{FileVisitResult, Files, Path,
      SimpleFileVisitor}
    import java.nio.file.attribute.BasicFileAttributes
    def rm(f: Path): FileVisitResult = {
      try Files.deleteIfExists(f)
      catch { case _: java.io.IOException => () }
      FileVisitResult.CONTINUE
    }
    Files.walkFileTree(p, new SimpleFileVisitor[Path] {
      override def visitFile(f: Path, a: BasicFileAttributes) = rm(f)
      override def visitFileFailed(f: Path, e: java.io.IOException) =
        FileVisitResult.CONTINUE
      override def postVisitDirectory(d: Path, e: java.io.IOException) =
        rm(d)
    })
  }

  /** Get-or-build a shared on-disk directory for `token` — a path
    * several queries read identically, e.g. the streaming twins'
    * parquet stream-source dirs, which would otherwise be rewritten per
    * query (and per bench sample) from the same table projection. On a
    * miss a fresh temp dir is created and `build(dir)` writes it; a
    * hit counts only while the dir still exists. The dir shares the
    * frames' snapshot/rollback/idle lifecycle; eviction deletes it,
    * and so does a build that throws. */
  def sharedDir(spark: SparkSession, token: String)
               (build: String => Unit): String =
    sharedGetOrBuild[String]("dir:" + token,
        d => java.nio.file.Files.exists(java.nio.file.Paths.get(d))) {
      // under the routed scratch root when [[routeScratch]] ran (the
      // nio TempFileHelper caches java.io.tmpdir at class load, so the
      // root is passed explicitly rather than trusted to the property)
      val tmpRoot = java.nio.file.Paths.get(
        scratchRootOpt.getOrElse(System.getProperty("java.io.tmpdir")))
      val dir = java.nio.file.Files.createDirectories(
        java.nio.file.Files.createTempDirectory(tmpRoot, "graft_shared")
          .resolve("d")).toString
      try build(dir)
      catch { case e: Throwable => deleteDir(dir); throw e }
      (dir, () => deleteDir(dir))
    }

  /** Snapshot of the current shared-artifact keys, one per live
    * [[materializeShared]] frame or [[sharedDir]] directory — pair
    * with [[retainShared]] to roll back entries added by a benchmark
    * sample. */
  def sharedKeys(): Set[String] = {
    import scala.jdk.CollectionConverters._
    shared.keySet.asScala.toSet
  }

  /** Evict every [[materializeShared]] / [[sharedDir]] entry whose
    * key is NOT in `keep` (evicted dirs are deleted from disk).
    * Benchmarks use this between two samples of one query so
    * the query that BUILDS a shared frame pays its build cost in every
    * sample (min-of-runs must not discard the build into a discarded
    * first sample), while queries that merely REUSE a frame built by
    * an earlier query keep riding it — per-query times then compose
    * into an honest pipeline total. */
  def retainShared(keep: Set[String]): Unit =
    evictShared((k, _) => !keep(k))

  /** RDD ids whose blocks back a LIVE [[materializeShared]] frame.
    * A localCheckpoint's lineage is truncated, so unpersisting its
    * blocks makes any later read of the frame fail — these must
    * survive a [[unpersistStale]] sweep. */
  private def liveSharedRddIds(): Set[Int] = {
    import scala.jdk.CollectionConverters._
    shared.values.asScala.map(_.value).flatMap {
      case ds: org.apache.spark.sql.Dataset[_] =>
        ds.queryExecution.analyzed.collect {
          case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
        }
      case _ => Nil
    }.toSet
  }

  /** Release every persisted block NOT backing a live shared frame.
    * Local-mode [[materialize]] pins its localCheckpoint blocks for
    * the JVM lifetime; a session running many queries back-to-back
    * (Bench, Verify) accumulates hundreds of dead checkpoint RDDs,
    * and the resulting memory pressure + eviction churn slows
    * late-running queries by ~2x (measured: dedup_containment 5.6 s
    * isolated vs 10.4 s as query 15 of 96). Call between queries,
    * once every consumer of the previous query's frames has run —
    * never mid-query (a query's own checkpoints are live until its
    * action completes). No-op for table-mode blocks (none persisted). */
  def unpersistStale(spark: SparkSession): Unit = {
    val keep = liveSharedRddIds()
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!keep.contains(id)) rdd.unpersist(blocking = false)
    }
  }

  /** Drop a table returned by [[materializeTracked]] (no-op for local
    * mode's `None`). Only call once every consumer of the returned
    * DataFrame has run — the frame reads the live table. */
  def dropMaterialized(spark: SparkSession, table: Option[String]): Unit =
    table.foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))

  /** Session-level cleanup: drop every `graft_mat_*` table this
    * catalog accumulated (end-of-job hygiene for table mode; local
    * mode creates none). */
  def dropAllMaterialized(spark: SparkSession): Unit =
    spark.catalog.listTables().collect()
      .filter(_.name.startsWith("graft_mat_"))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `${t.name}`"))

  /** Skew mitigation: salted left-side join for a hot key. The big
    * side gets a random-ish salt derived from a uniform column, the
    * small side is exploded across all salt values — the classic
    * pre-AQE salting pattern (AQE skew-join handles most cases; this
    * is for deterministic plans / extreme keys). */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
                 salts: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    val bigS = big.withColumn("_salt",
      pmod(hash(col(key), monotonically_increasing_id()), lit(salts)))
    val smallS = small.withColumn("_salt",
      explode(sequence(lit(0), lit(salts - 1))))
    bigS.join(smallS, Seq(key, "_salt")).drop("_salt")
  }

  /** Bloom-prefiltered join input: `big` reduced to the rows whose
    * `bigKey` MIGHT appear among `small`'s `smallKey`s, via an
    * explicit Bloom bitmap — the deterministic sibling of Spark's
    * adaptive runtime bloom pushdown
    * (`spark.sql.optimizer.runtime.bloomFilter.enabled`), exposed as
    * an operator so plans can rely on it and oracles can check it.
    * At 100 TB this is THE shuffle diet for a selective fact⋈filtered-
    * dim join: an 8 KB bitmap broadcast prunes the big side BEFORE
    * its shuffle, instead of shuffling every row to discover
    * non-membership at the join.
    *
    * Mechanics: `nHash` probe positions per key by Kirsch-
    * Mitzenmacher double hashing (pos_i = (h1 + i·h2) mod `bits`,
    * h1/h2 two 56-bit md5 prefixes — ONE digest family, portable to
    * the DuckDB twin); the small side's distinct keys OR their bits
    * into `bits`/64 longs (one tiny shuffle on word index), which are
    * then materialized ON THE DRIVER and embedded in the filter as a
    * single array LITERAL — the broadcast-variable class of artifact
    * (Spark's own runtime bloom materializes its filter through a
    * driver-side subquery result the same way; size is capped at
    * 8 MB). The literal matters: carrying the bitmap as a joined
    * COLUMN (1-row broadcast crossJoin) copies the whole array into
    * every surviving row — measured 27 s for 600k probes vs 0.9 s as
    * a literal. Probes are pure codegen built-ins (element_at +
    * shiftleft conjunction — no HOF in the hot path, per the repo
    * invariant; the small-side transform() runs once per distinct
    * key, not per big row). False negatives are impossible (every
    * inserted key's bits are set), so
    * `bloomPrefilter(big) ⋈ small ≡ big ⋈ small` exactly — the
    * j_bloom_prefilter gate hashes that law; false positives only
    * cost pruning efficiency.
    *
    * Sizing: `bits = 0` (the default) auto-sizes to 16 bits per
    * DISTINCT small-side key (~0.5% fp at nHash=5), via one
    * planning-time scalar count over the small side — the same class
    * of driver-side statistic AQE reads from shuffle stats; a fixed
    * bitmap would silently saturate when the "small" side grows 10×
    * (fp → 1, pruning → none, correctness unchanged). Pass explicit
    * `bits` to pin the build. */
  def bloomPrefilter(big: DataFrame, bigKey: String, small: DataFrame,
                     smallKey: String, bits: Int = 0,
                     nHash: Int = 5, hashFamily: String = "md5"): DataFrame = {
    import org.apache.spark.sql.functions._
    // md5 mode hashes the key's STRING form (the DuckDB twin's
    // replayable representation); xx mode hashes the native value —
    // both sides must then carry the SAME key type
    val keys = (if (hashFamily == "xx") small.select(col(smallKey).as("k"))
                else small.select(col(smallKey).cast("string").as("k")))
      .distinct()
    val nBits =
      if (bits > 0) bits
      else {
        val n = keys.count() // planning-time scalar (AQE-stat class)
        math.max(1024L, ((n * 16 + 63) / 64) * 64)
          .min(1L << 26).toInt // cap: 8 MB bitmap broadcast
      }
    require(nBits % 64 == 0, "bits must be a multiple of 64")
    val words = nBits / 64
    // two hash families for (h1, h2): "md5" (default) is the
    // DuckDB-portable family the j_bloom_prefilter oracle replays;
    // "xx" is the engine-internal fast path — xxhash64 is a codegen
    // built-in at a few ns/row, where md5-over-a-concat-string costs
    // ~100x that PER CORPUS ROW on the probe side. The BloomAB sweep
    // (PERF.md round-16) showed the md5 probe itself is O(corpus)
    // and swamps the shuffle saving at any local scale — a bloom
    // probe only pays if probing a row is much cheaper than
    // shuffling it, which "xx" is and "md5" is not. Engine-side
    // routing (minhashPairsIncremental) therefore uses "xx"; the
    // gated law query keeps "md5" so the bitmap stays replayable.
    // The shifted-seed second column gives an independent h2 (the
    // Kirsch-Mitzenmacher pair); pmod keeps positions nonneg under
    // Long wrap.
    def h12(df: DataFrame, k: String): DataFrame = hashFamily match {
      case "xx" => df
        // >>> 8: a 56-bit nonneg pair, same domain as the md5 family
        // — h1 + 4*h2 then provably fits a Long (ANSI overflow-safe)
        .withColumn("_bh1", expr(s"shiftrightunsigned(xxhash64($k), 8)"))
        .withColumn("_bh2",
          expr(s"shiftrightunsigned(xxhash64($k, 2027875393), 8)"))
      case _ => df
        .withColumn("_bh1", expr(s"md5_prefix_long(CAST($k AS STRING), 14)"))
        .withColumn("_bh2",
          expr(s"md5_prefix_long(concat(CAST($k AS STRING), '#b2'), 14)"))
    }
    // distributed build (shuffle on word index), then the ≤8 MB word
    // array comes back to the driver as the literal the probes embed
    val wordRows = h12(keys, "k")
      .select(explode(expr(
        s"transform(sequence(0, ${nHash - 1}), " +
          s"i -> pmod(_bh1 + i * _bh2, ${nBits}L))")).as("pos"))
      .groupBy(expr("CAST(pos div 64 AS INT)").as("w"))
      .agg(expr("bit_or(shiftleft(1L, CAST(pos % 64 AS INT)))").as("bw"))
      .collect()
    val wordArr = new Array[Long](words)
    wordRows.foreach(r => wordArr(r.getInt(0)) = r.getLong(1))
    val bloomLit = typedLit(wordArr.toSeq)
    val withH = h12(big, bigKey)
    var probed = withH
    val terms = (0 until nHash).map { i =>
      // pmod: the xx family's raw hashes are signed (md5's 56-bit
      // prefixes are nonneg, where pmod ≡ %)
      val m = pmod(col("_bh1") + lit(i.toLong) * col("_bh2"),
        lit(nBits.toLong))
      probed = probed
        .withColumn(s"_bw$i",
          element_at(bloomLit, (shiftright(m, 6) + lit(1L)).cast("int")))
        .withColumn(s"_bb$i", m.bitwiseAND(lit(63L)).cast("int"))
      s"(_bw$i & shiftleft(1L, _bb$i)) != 0L"
    }
    val aux = Seq("_bh1", "_bh2") ++
      (0 until nHash).flatMap(i => Seq(s"_bw$i", s"_bb$i"))
    probed.filter(expr(terms.mkString(" AND "))).drop(aux: _*)
  }
}
