package graft.operators

import graft.Q
import graft.functions.BqCompat._
import graft.sources.Sources
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Relational operator coverage (SURVEY §2.1–§2.4, §2.6) expressed on
  * the driver testdata star schema. Each query is the idiomatic-Spark
  * rendering of an operator the reference exercises, named by its
  * SURVEY §2 id.
  *
  * Scale notes are attached per query: every aggregation here is a
  * map-side-combinable hash agg; dimension joins broadcast (region /
  * nation / supplier are tiny relative to facts at any SF); fact-fact
  * joins shuffle on their equi-keys and survive 1000× row growth
  * because keys are high-cardinality (orderkey) — AQE handles skew.
  */
object RelationalQueries {

  /** zstd-parquet partition write (one file per pt) → binaryFile →
    * from-scratch thrift-compact footer decode — the
    * mm_parquet_footer body, public so ScaleProbe can ride it.
    * Returns (pt, num_rows, n_row_groups, leaves, codecs,
    * sum_values). */
  def parquetFooterAudit(docsDf: DataFrame): DataFrame = {
    val s = docsDf.sparkSession
    val src = docsDf
      .withColumn("pt", (col("doc_id") % 4).cast(IntegerType))
      .select(col("doc_id"), col("text"), col("pt"))
    val outDir = graft.Engine.sharedDir(s,
      graft.Engine.planToken(src, extra = "pq_footer")) { d =>
      src.repartition(col("pt")).write.mode("overwrite")
        .option("compression", "zstd")
        .partitionBy("pt").parquet(d)
    }
    s.read.format("binaryFile")
      .option("pathGlobFilter", "*.parquet")
      .option("recursiveFileLookup", "true")
      .load(outDir)
      .select(
        regexp_extract(col("path"), "pt=(\\d+)", 1)
          .cast(LongType).as("pt"),
        expr("parquet_footer(content)").as("f"))
      .select(col("pt"), col("f.num_rows").as("num_rows"),
        col("f.n_row_groups").as("n_row_groups"),
        col("f.leaves").as("leaves"),
        col("f.codecs").as("codecs"),
        col("f.sum_values").as("sum_values"))
      .orderBy(col("pt"))
  }

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Sources.table(s, dir, name)

  val queries: Map[String, Q] = Map(

    // ── A1/A2/A7/A10/A11 + P5: grouped aggregation over the big fact.
    // Pricing-summary shape (hash agg, partial aggregation map-side;
    // at 100 TB this is a pure scan+combine, no row explosion).
    "q1_agg" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        t(s, dir, "lineitem")
          .filter($"l_quantity" > 2.0)
          .groupBy($"l_returnflag", $"l_linestatus")
          .agg(
            sumMoney($"l_quantity").as("sum_qty"),
            sumMoney($"l_extendedprice").as("sum_base_price"),
            sumMoney($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("sum_disc_price"),
            count(lit(1)).as("n_rows"),
            avg(round($"l_quantity" * 100).cast(LongType)).as("avg_qty_cents"),
            try_divide(sumCents($"l_discount"), count(lit(1))).as("avg_disc_cents"))
          .orderBy($"l_returnflag", $"l_linestatus")
      },
      oracle = Some("""
        SELECT l_returnflag, l_linestatus,
               sum(CAST(round(l_quantity*100) AS BIGINT))/100.0 AS sum_qty,
               sum(CAST(round(l_extendedprice*100) AS BIGINT))/100.0 AS sum_base_price,
               sum(CAST(round(l_extendedprice*(1.0-l_discount)*100) AS BIGINT))/100.0 AS sum_disc_price,
               count(*) AS n_rows,
               avg(CAST(round(l_quantity*100) AS BIGINT)) AS avg_qty_cents,
               CAST(sum(CAST(round(l_discount*100) AS BIGINT)) AS DOUBLE)/count(*) AS avg_disc_cents
        FROM lineitem WHERE l_quantity > 2.0
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus"""),
      desc = "A1/A2 hash group-by with deterministic money sums"),

    // ── J1: fact-fact inner equi-join (orders ⋈ lineitem fan-out).
    // Shuffle join on orderkey; high-cardinality key → no skew issue;
    // AQE coalesces post-shuffle partitions at small SF.
    "j1_inner_fanout" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        t(s, dir, "orders")
          .join(t(s, dir, "lineitem"), $"o_orderkey" === $"l_orderkey", "inner")
          .groupBy($"o_orderpriority")
          .agg(
            count(lit(1)).as("n_items"),
            countDistinct($"o_orderkey").as("n_orders"),
            sumMoney($"l_extendedprice").as("sum_price"))
          .orderBy($"o_orderpriority")
      },
      oracle = Some("""
        SELECT o_orderpriority,
               count(*) AS n_items,
               count(DISTINCT o_orderkey) AS n_orders,
               sum(CAST(round(l_extendedprice*100) AS BIGINT))/100.0 AS sum_price
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        GROUP BY o_orderpriority ORDER BY o_orderpriority"""),
      desc = "J1 inner equi-join parent->child fan-out + A8 count distinct"),

    // ── J2: left outer join to small dimensions (broadcast at any SF:
    // supplier/nation are bounded dims — explicit broadcast()).
    "j2_left_dim" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        val nat = t(s, dir, "nation").select($"n_nationkey", $"n_name")
        t(s, dir, "supplier")
          .join(broadcast(nat), $"s_nationkey" === $"n_nationkey", "left")
          .groupBy($"n_name")
          .agg(count(lit(1)).as("n_suppliers"),
               sumMoney($"s_acctbal").as("sum_bal"))
          .orderBy($"n_name")
      },
      oracle = Some("""
        SELECT n_name,
               count(*) AS n_suppliers,
               sum(CAST(round(s_acctbal*100) AS BIGINT))/100.0 AS sum_bal
        FROM supplier LEFT JOIN nation ON s_nationkey = n_nationkey
        GROUP BY n_name ORDER BY n_name"""),
      desc = "J2 left join to broadcast dimension"),

    // ── J3: same dimension joined twice under different roles
    // (customer-nation and supplier-nation), like stops as fs/ls in
    // fact_trips (reference models/fact_trips.sql:88-89).
    "j3_dim_twice" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        val cn = t(s, dir, "nation")
          .select($"n_nationkey".as("cn_key"), $"n_name".as("cust_nation"))
        val sn = t(s, dir, "nation")
          .select($"n_nationkey".as("sn_key"), $"n_name".as("supp_nation"))
        t(s, dir, "lineitem")
          .join(t(s, dir, "orders"), $"l_orderkey" === $"o_orderkey")
          .join(t(s, dir, "customer"), $"o_custkey" === $"c_custkey")
          .join(t(s, dir, "supplier"), $"l_suppkey" === $"s_suppkey")
          .join(broadcast(cn), $"c_nationkey" === $"cn_key")
          .join(broadcast(sn), $"s_nationkey" === $"sn_key")
          .filter($"cust_nation" < $"supp_nation")
          .groupBy($"cust_nation", $"supp_nation")
          .agg(count(lit(1)).as("n"), sumMoney($"l_extendedprice").as("volume"))
          .orderBy($"cust_nation", $"supp_nation")
      },
      oracle = Some("""
        SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
               count(*) AS n,
               sum(CAST(round(l_extendedprice*100) AS BIGINT))/100.0 AS volume
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey  = c_custkey
        JOIN supplier ON l_suppkey  = s_suppkey
        JOIN nation cn ON c_nationkey = cn.n_nationkey
        JOIN nation sn ON s_nationkey = sn.n_nationkey
        WHERE cn.n_name < sn.n_name
        GROUP BY 1, 2 ORDER BY 1, 2"""),
      desc = "J3 aliased dimension joined twice + multi-join pipeline"),

    // ── J4: left-join chain of pre-aggregated children (1:1 after
    // pre-agg) — the fact_alerts shape (models/fact_alerts.sql:87-93).
    // Pre-aggregating BEFORE the join keeps the join 1:1 (no fan-out
    // blowup) — at 100 TB this is the difference between a bounded
    // shuffle and a cross-product explosion.
    "j4_preagg_chain" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        val li = t(s, dir, "lineitem")
        val items = li.groupBy($"l_orderkey".as("ik"))
          .agg(count(lit(1)).as("n_items"), sumMoney($"l_quantity").as("qty"))
        val returns = li.filter($"l_returnflag" === "R")
          .groupBy($"l_orderkey".as("rk"))
          .agg(count(lit(1)).as("n_returned"))
        t(s, dir, "orders")
          .join(items, $"o_orderkey" === $"ik", "left")
          .join(returns, $"o_orderkey" === $"rk", "left")
          .filter($"o_totalprice" > 400000.0)
          .select($"o_orderkey", $"o_orderpriority",
                  coalesce($"n_items", lit(0L)).as("n_items"),
                  coalesce($"qty", lit(0.0)).as("qty"),
                  coalesce($"n_returned", lit(0L)).as("n_returned"))
          .orderBy($"o_orderkey")
      },
      oracle = Some("""
        SELECT o_orderkey, o_orderpriority,
               coalesce(i.n_items, 0) AS n_items,
               coalesce(i.qty, 0.0) AS qty,
               coalesce(r.n_returned, 0) AS n_returned
        FROM orders
        LEFT JOIN (SELECT l_orderkey, count(*) AS n_items,
                          sum(CAST(round(l_quantity*100) AS BIGINT))/100.0 AS qty
                   FROM lineitem GROUP BY l_orderkey) i ON o_orderkey = i.l_orderkey
        LEFT JOIN (SELECT l_orderkey, count(*) AS n_returned
                   FROM lineitem WHERE l_returnflag = 'R'
                   GROUP BY l_orderkey) r ON o_orderkey = r.l_orderkey
        WHERE o_totalprice > 400000.0
        ORDER BY o_orderkey"""),
      desc = "J4 chain of pre-aggregated children kept 1:1 + P8 coalesce"),

    // ── J5 + semi/anti + O4: JOIN USING dedup semantics, EXISTS /
    // NOT EXISTS as left_semi / left_anti, union of branches.
    "j5_semi_anti" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        val cust = t(s, dir, "customer")
        val ord = t(s, dir, "orders")
        val withO = cust
          .join(ord, $"c_custkey" === $"o_custkey", "left_semi")
          .groupBy($"c_mktsegment").agg(count(lit(1)).as("n"))
          .withColumn("kind", lit("with_orders"))
        val withoutO = cust
          .join(ord, $"c_custkey" === $"o_custkey", "left_anti")
          .groupBy($"c_mktsegment").agg(count(lit(1)).as("n"))
          .withColumn("kind", lit("without_orders"))
        withO.unionByName(withoutO)
          .select($"kind", $"c_mktsegment", $"n")
          .orderBy($"kind", $"c_mktsegment")
      },
      oracle = Some("""
        SELECT * FROM (
          SELECT 'with_orders' AS kind, c_mktsegment, count(*) AS n
          FROM customer c WHERE EXISTS
            (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
          GROUP BY c_mktsegment
          UNION ALL
          SELECT 'without_orders' AS kind, c_mktsegment, count(*) AS n
          FROM customer c WHERE NOT EXISTS
            (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
          GROUP BY c_mktsegment)
        ORDER BY kind, c_mktsegment"""),
      desc = "left_semi/left_anti (EXISTS/NOT EXISTS) + O4 union"),

    // ── J8 + J7: composite-key equi-join with theta residual.
    // customer×orders on (custkey) restricted by a residual range
    // predicate — Catalyst keeps the equi part as the join key and
    // evaluates the residual post-join.
    "j8_composite_theta" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        val bigC = t(s, dir, "customer").filter($"c_acctbal" > 0.0)
        t(s, dir, "orders")
          .join(bigC, $"o_custkey" === $"c_custkey" &&
                      $"o_totalprice" > $"c_acctbal" * 10.0, "inner")
          .groupBy($"c_mktsegment", $"o_orderstatus")
          .agg(count(lit(1)).as("n"), sumMoney($"o_totalprice").as("sum_price"))
          .orderBy($"c_mktsegment", $"o_orderstatus")
      },
      oracle = Some("""
        SELECT c_mktsegment, o_orderstatus, count(*) AS n,
               sum(CAST(round(o_totalprice*100) AS BIGINT))/100.0 AS sum_price
        FROM orders JOIN customer
          ON o_custkey = c_custkey AND o_totalprice > c_acctbal*10.0
        WHERE c_acctbal > 0.0
        GROUP BY 1, 2 ORDER BY 1, 2"""),
      desc = "J7/J8 equi-join with theta residual predicate"),

    // ── Bloom-prefiltered fact⋈filtered-dim join — the 100 TB
    // shuffle diet made an explicit, oracle-checked operator (the
    // deterministic sibling of AQE's runtime bloom pushdown): a
    // selective orders filter builds an 8 KB double-hashed bitmap,
    // the broadcast bitmap prunes lineitem BEFORE its join shuffle,
    // and the join result must equal the PLAIN join exactly — false
    // negatives are impossible by construction, and the oracle's
    // hash proves it on every row. EngineSpec additionally pins that
    // the filter actually PRUNES (passed ≪ total) and that the fp
    // overhead is small at the sized bits/key ratio.
    "j_bloom_prefilter" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        val small = t(s, dir, "orders")
          .filter($"o_orderpriority" === "1-URGENT")
          .select($"o_orderkey")
        val pre = graft.Engine.bloomPrefilter(
          t(s, dir, "lineitem"), "l_orderkey", small, "o_orderkey")
        pre.join(small, $"l_orderkey" === $"o_orderkey")
          .groupBy($"l_returnflag")
          .agg(count(lit(1)).as("n_rows"),
            sumMoney($"l_quantity").as("sum_qty"))
          .orderBy($"l_returnflag")
      },
      oracle = Some("""
        SELECT l_returnflag, count(*) AS n_rows,
               sum(CAST(round(l_quantity*100) AS BIGINT))/100.0 AS sum_qty
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE o_orderpriority = '1-URGENT'
        GROUP BY l_returnflag ORDER BY l_returnflag"""),
      desc = "bloom-prefiltered join: broadcast bitmap prunes the big side, result equals the plain join"),

    // ── salted join under the hash gate — the skew playbook proven ──
    // events ⋈ event-type dim is the EXTREME-skew shape (5 distinct
    // keys across the whole fact: every key is a hot key, and a plain
    // shuffle join puts each on ONE reducer). Engine.saltedJoin
    // spreads each key across `salts` reducers (big side salts by a
    // per-row uniform; the dim explodes across all salt values) —
    // pre-AQE machinery that still matters when a deterministic plan
    // is required. The salt must be INVISIBLE in values: the oracle
    // is the plain join, so the hash proves result-equality while
    // EngineSpec pins the mechanism. The monotonic-id salt is
    // partition-placement-only nondeterminism — values never move.
    "j_salted" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        val dim = Seq(("click", 1L), ("view", 2L), ("purchase", 3L),
          ("signup", 4L), ("error", 5L))
          .toDF("event_type", "type_rank")
        val e = t(s, dir, "events")
          .select($"event_type", $"user_id",
            round($"value" * 100).cast(LongType).as("cents"))
        graft.Engine.saltedJoin(e, dim, "event_type", salts = 8)
          .groupBy($"event_type", $"type_rank")
          .agg(count(lit(1)).as("n"),
            sum($"cents").as("sum_cents"),
            countDistinct($"user_id").as("n_users"))
          .orderBy($"event_type")
      },
      oracle = Some("""
        WITH dim(event_type, type_rank) AS (VALUES
          ('click', 1), ('view', 2), ('purchase', 3),
          ('signup', 4), ('error', 5))
        SELECT e.event_type, CAST(d.type_rank AS BIGINT) AS type_rank,
               count(*) AS n,
               CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT)
                 AS sum_cents,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        FROM events e JOIN dim d ON d.event_type = e.event_type
        GROUP BY e.event_type, d.type_rank
        ORDER BY e.event_type"""),
      desc = "salted join on an all-hot-keys fact: skew machinery value-identical to the plain join"),

    // ── A3/A4-deterministic: min/max rollup with first() replaced by
    // deterministic min (SURVEY A4: no any_value in checked paths).
    "a3_minmax" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        t(s, dir, "orders")
          .groupBy($"o_orderpriority")
          .agg(
            min($"o_orderdate").as("first_date"),
            max($"o_orderdate").as("last_date"),
            min($"o_orderkey").as("min_key"),
            count(lit(1)).as("n"))
          .orderBy($"o_orderpriority")
      },
      oracle = Some("""
        SELECT o_orderpriority,
               min(o_orderdate) AS first_date,
               max(o_orderdate) AS last_date,
               min(o_orderkey) AS min_key,
               count(*) AS n
        FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""),
      desc = "A3 min/max over timestamps and keys"),

    // ── P6/P7/P8: searched CASE, boolean derivation, coalesce chains.
    "p_case_flags" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        t(s, dir, "lineitem")
          .select(
            $"l_returnflag",
            when($"l_quantity" < 10, "small")
              .when($"l_quantity" < 30, "mid")
              .otherwise("big").as("qty_bucket"),
            ($"l_discount" > 0.05).as("high_disc"),
            coalesce(nullif($"l_linestatus", lit("O")), $"l_returnflag", lit("UNK"))
              .as("status_or_flag"))
          .groupBy($"l_returnflag", $"qty_bucket", $"high_disc", $"status_or_flag")
          .agg(count(lit(1)).as("n"))
          .orderBy($"l_returnflag", $"qty_bucket", $"high_disc", $"status_or_flag")
      },
      oracle = Some("""
        SELECT l_returnflag,
               CASE WHEN l_quantity < 10 THEN 'small'
                    WHEN l_quantity < 30 THEN 'mid'
                    ELSE 'big' END AS qty_bucket,
               l_discount > 0.05 AS high_disc,
               coalesce(nullif(l_linestatus, 'O'), l_returnflag, 'UNK') AS status_or_flag,
               count(*) AS n
        FROM lineitem
        GROUP BY 1, 2, 3, 4 ORDER BY 1, 2, 3, 4"""),
      desc = "P6/P7/P8 case-when, bool derivation, coalesce"),

    // ── S5: inline VALUES source joined to a real table.
    "s5_inline_values" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        val prios = Seq(("AMERICA", 1), ("ASIA", 2), ("EUROPE", 3))
          .toDF("r_name", "prio")
        t(s, dir, "region")
          .join(prios, Seq("r_name"), "inner")
          .select($"r_regionkey", $"r_name", $"prio")
          .orderBy($"r_regionkey")
      },
      oracle = Some("""
        SELECT r_regionkey, r_name, prio
        FROM region
        JOIN (VALUES ('AMERICA', 1), ('ASIA', 2), ('EUROPE', 3)) AS t(r_name, prio)
          USING (r_name)
        ORDER BY r_regionkey"""),
      desc = "S5 inline array/VALUES source + J5 USING join"),

    // ── S6: seed source under the hash gate — a small dim routed
    // through Sources.seed (the dbt-seeds analog: CSV + caller-pinned
    // schema contract), joined to real tables. The fn writes the
    // canonical seed file itself (deterministic literal content, a
    // fixed path) so the DuckDB oracle reads the SAME file via
    // read_csv — the full seed lifecycle (file → contract-pinned
    // registration → join) is what's gated, not just the CSV parse
    // (SourceFormatsSpec keeps the contract-enforcement cases).
    // Reference: dbt seeds placeholder `seeds/.gitkeep`; the calendar
    // dim in docs/metrics_guide.md is the canonical seed shape.
    "s6_seed_dim" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        val seedDir = java.nio.file.Paths.get("/tmp/graft_seeds")
        java.nio.file.Files.createDirectories(seedDir)
        java.nio.file.Files.write(seedDir.resolve("region_zone.csv"),
          ("r_name,zone\nAFRICA,emea\nAMERICA,amer\nASIA,apac\n" +
            "EUROPE,emea\nMIDDLE EAST,emea\n")
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        Sources.seed(s, seedDir.toString, Map("region_zone" ->
          StructType.fromDDL("r_name STRING, zone STRING")))
        t(s, dir, "customer")
          .join(t(s, dir, "nation"), $"c_nationkey" === $"n_nationkey")
          .join(t(s, dir, "region"), $"n_regionkey" === $"r_regionkey")
          .join(broadcast(s.table("region_zone")), Seq("r_name"))
          .groupBy($"zone")
          .agg(count(lit(1)).as("n_cust"),
            sum(round($"c_acctbal" * 100).cast(LongType)).as("bal_cents"))
          .orderBy($"zone")
      },
      oracle = Some("""
        WITH zone AS (
          SELECT * FROM read_csv('/tmp/graft_seeds/region_zone.csv',
            header=true,
            columns={'r_name': 'VARCHAR', 'zone': 'VARCHAR'}))
        SELECT z.zone, CAST(count(*) AS BIGINT) AS n_cust,
               CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
                 AS bal_cents
        FROM customer c
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        JOIN zone z ON z.r_name = r.r_name
        GROUP BY z.zone ORDER BY z.zone"""),
      desc = "S6 seed source: contract-pinned CSV dim joined through the star schema"),

    // ── S4 sibling: the ORC sink/source round trip — the second
    // columnar format (core Spark datasource, no extra deps). A
    // 100 TB lake is rarely single-format; what the gate proves is
    // TYPE fidelity through the other columnar container: long,
    // string, TIMESTAMP (ORC's own epoch encoding, read back under
    // the UTC session contract), DECIMAL (exact cents recovered),
    // and a partition column pruned on read-back (the pt=2 filter
    // reaches the directory listing, not the row scan — same
    // partition-pruning posture as s4's day partitions). The write
    // lands in a planToken-keyed sharedDir (per-(app, plan, data)
    // isolation + eviction cleanup; the write IS the operator and
    // re-pays inside the bench sample, like s4).
    "s4_orc_roundtrip" -> Q(
      fn = (s, dir) => {
        val src = t(s, dir, "documents")
          .withColumn("pt", (col("doc_id") % 4).cast(IntegerType))
          .withColumn("ts", timestamp_seconds(col("doc_id") * 977))
          .withColumn("amt",
            expr("CAST(doc_id * 125 AS DECIMAL(18, 2)) / 100"))
          .select(col("doc_id"), col("pt"), col("text"), col("ts"),
            col("amt"))
        val outDir = graft.Engine.sharedDir(s,
          graft.Engine.planToken(src, extra = "s4_orc_docs")) { d =>
          src.write.mode("overwrite").format("orc")
            .partitionBy("pt").save(d)
        }
        s.read.orc(outDir)
          .filter(col("pt") === 2)
          .select(col("doc_id"),
            col("pt").cast(LongType).as("pt"),
            col("text"),
            unix_timestamp(col("ts")).as("ts_s"),
            (col("amt") * 100).cast(LongType).as("amt_cents"))
          .orderBy(col("doc_id"))
      },
      oracle = Some("""
        SELECT doc_id, CAST(2 AS BIGINT) AS pt, text,
               CAST(doc_id * 977 AS BIGINT) AS ts_s,
               CAST(doc_id * 125 AS BIGINT) AS amt_cents
        FROM documents WHERE doc_id % 4 = 2 ORDER BY doc_id"""),
      desc = "S4 ORC sink: partitioned columnar write, pruned read-back, types round-tripped"),

    // ── S4 sibling: parquet with ZSTD page compression — the codec
    // a 100 TB lake actually configures (better ratio than the
    // snappy default at comparable scan speed; the same zstd the
    // engine now decodes from scratch at the shard level). The fn
    // ASSERTS every data file landed as *.zstd.parquet (a lying
    // codec option would otherwise pass the row compare silently),
    // then prunes a partition on read-back.
    "s4_parquet_zstd" -> Q(
      fn = (s, dir) => {
        val src = t(s, dir, "documents")
          .withColumn("pt", (col("doc_id") % 4).cast(IntegerType))
          .withColumn("amt",
            expr("CAST(doc_id * 125 AS DECIMAL(18, 2)) / 100"))
          .select(col("doc_id"), col("pt"), col("text"), col("amt"))
        val outDir = graft.Engine.sharedDir(s,
          graft.Engine.planToken(src, extra = "s4_pq_zstd")) { d =>
          src.write.mode("overwrite")
            .option("compression", "zstd")
            .partitionBy("pt").parquet(d)
        }
        val bad = {
          val root = new java.io.File(outDir)
          def walk(f: java.io.File): Seq[java.io.File] =
            if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
            else Seq(f)
          walk(root).map(_.getName)
            .filter(n => n.endsWith(".parquet"))
            .filterNot(n => n.endsWith(".zstd.parquet"))
        }
        require(bad.isEmpty, s"non-zstd parquet files: $bad")
        s.read.parquet(outDir)
          .filter(col("pt") === 1)
          .select(col("doc_id"),
            col("pt").cast(LongType).as("pt"),
            col("text"),
            (col("amt") * 100).cast(LongType).as("amt_cents"))
          .orderBy(col("doc_id"))
      },
      oracle = Some("""
        SELECT doc_id, CAST(1 AS BIGINT) AS pt, text,
               CAST(doc_id * 125 AS BIGINT) AS amt_cents
        FROM documents WHERE doc_id % 4 = 1 ORDER BY doc_id"""),
      desc = "S4 parquet-zstd sink: the lake codec setting, file suffix asserted, pruned read-back"),

    // ── Parquet footer audit: from-scratch thrift-compact decode ────
    // Footer metadata is how a 100 TB lake is AUDITED without
    // scanning it, and the datasource's own reader can't be its own
    // auditor. Spark writes one zstd-parquet file per partition
    // (repartition(pt) ⇒ exactly one file per dir), the raw files
    // come back through binaryFile, and `parquet_footer` — a
    // from-scratch THRIFT COMPACT decoder (nibble field deltas,
    // zigzag varints, list headers) — extracts the DECLARED row
    // counts, leaf schema, per-chunk codec and value counts. The
    // oracle recomputes the same numbers by actually counting the
    // source rows in DuckDB: declared == actual, codec uniform ZSTD,
    // schema exactly the written projection, sum_values = rows ×
    // leaves.
    "mm_parquet_footer" -> Q(
      fn = (s, dir) => parquetFooterAudit(t(s, dir, "documents")),
      oracle = Some("""
        SELECT CAST(doc_id % 4 AS BIGINT) AS pt,
               CAST(count(*) AS BIGINT) AS num_rows,
               CAST(1 AS BIGINT) AS n_row_groups,
               'doc_id,text' AS leaves,
               'ZSTD' AS codecs,
               CAST(count(*) * 2 AS BIGINT) AS sum_values
        FROM documents GROUP BY pt ORDER BY pt"""),
      desc = "parquet footer audit: from-scratch thrift-compact decode, declared == counted"),

    // ── F1/F3/F4/F5/F12 + P5: string derivations with BigQuery
    // semantics (regexp no-match → NULL via BqCompat).
    "f_strings" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        t(s, dir, "part")
          .filter($"p_size".between(1, 15))
          .select(
            $"p_partkey",
            regexpExtractOrNull($"p_name", "^[a-z]+").as("first_word"),
            sha256Hex($"p_name").as("name_sha"),
            concat($"p_brand", lit("|"), $"p_type").as("brand_type"),
            split($"p_type", " ").getItem(0).as("type_head"),
            length($"p_name").as("name_len"),
            upper($"p_brand").as("brand_uc"),
            safeCastLong(regexpExtractOrNull($"p_name", "\\d+")).as("name_num"))
          .orderBy($"p_partkey")
      },
      oracle = Some("""
        SELECT p_partkey,
               nullif(regexp_extract(p_name, '^[a-z]+'), '') AS first_word,
               sha256(p_name) AS name_sha,
               p_brand || '|' || p_type AS brand_type,
               string_split(p_type, ' ')[1] AS type_head,
               length(p_name) AS name_len,
               upper(p_brand) AS brand_uc,
               try_cast(nullif(regexp_extract(p_name, '\d+'), '') AS BIGINT) AS name_num
        FROM part WHERE p_size BETWEEN 1 AND 15
        ORDER BY p_partkey"""),
      desc = "F1/F3/F4/F5/F12 string+hash+cast compat functions"),

    // ── F-HOF: array higher-order functions (codegen-free lambda
    // family). transform/filter/aggregate/zip_with are how the engine
    // expresses per-row vector math WITHOUT a UDF (the embeddings
    // dot products ride the same machinery; see LongArrayDot for the
    // codegen escalation when even the HOF is too slow). Arrays are
    // canonicalized to CSV for the cross-engine compare — the
    // list-valued intermediates stay columnar. zip_with(arr,
    // reverse(arr)) over arr=[1..n] has the closed form i*(n+1-i),
    // which is what the oracle computes (DuckDB lambdas carry no
    // index) — same values, independently derived.
    "f_arrays" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        t(s, dir, "orders")
          .filter($"o_orderkey" <= 300)
          .withColumn("arr", sequence(lit(1L), $"o_orderkey" % 7L + 2L))
          .select(
            $"o_orderkey",
            array_join(transform($"arr", x => x * x), ",").as("squares"),
            size(filter($"arr", x => x % 2L === 0L)).cast(LongType)
              .as("n_even"),
            aggregate($"arr", lit(0L), (a, x) => a + x).as("tot"),
            array_join(zip_with($"arr", reverse($"arr"), (a, b) => a * b),
              ",").as("palindrome_prod"),
            array_join(sort_array($"arr", asc = false), ",").as("desc_csv"),
            array_contains($"arr", 3L).as("has_3"),
            array_join(slice($"arr", 2, 3), ",").as("mid3"))
          .orderBy($"o_orderkey")
      },
      oracle = Some("""
        WITH o AS (
          SELECT o_orderkey,
                 range(1, o_orderkey % 7 + 3) AS arr,
                 o_orderkey % 7 + 2 AS n
          FROM orders WHERE o_orderkey <= 300)
        SELECT o_orderkey,
               array_to_string(list_transform(arr, x -> x*x), ',') AS squares,
               CAST(len(list_filter(arr, x -> x % 2 = 0)) AS BIGINT) AS n_even,
               CAST(list_sum(arr) AS BIGINT) AS tot,
               array_to_string(list_transform(arr, x -> x * (n + 1 - x)), ',')
                 AS palindrome_prod,
               array_to_string(list_sort(arr, 'DESC'), ',') AS desc_csv,
               list_contains(arr, 3) AS has_3,
               array_to_string(arr[2:4], ',') AS mid3
        FROM o ORDER BY o_orderkey"""),
      desc = "F-HOF transform/filter/aggregate/zip_with/slice array family"),

    // ── J-skew: salted join on a pathologically skewed key ──────────
    // events ⋈ per-type stats on event_type: FIVE distinct keys over
    // the whole fact — the worst shuffle-join skew shape (≤5 reducers
    // own all rows). Engine.saltedJoin re-keys the big side with a
    // random-but-join-stable salt and explodes the small side ×32, so
    // the shuffle spreads over keys×32 partitions; the inner join
    // matches each big row exactly once (the small side carries every
    // salt), so results are salt-independent — which is what the
    // oracle checks. SHUFFLE_HASH hint keeps the demonstration
    // honest (Spark would otherwise broadcast a 5-row dim; at the
    // 100 TB large-LARGE version there is nothing to broadcast).
    // Downstream agg: events above their type's mean cents.
    "j_skew_salted" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        val e = t(s, dir, "events")
          .select($"event_type", $"event_id",
            round($"value" * 100).cast(LongType).as("cents"))
        val stats = e.groupBy($"event_type")
          .agg(expr("sum(cents) div count(1)").as("mean_cents"))
        graft.Engine
          .saltedJoin(e, stats.hint("shuffle_hash"), "event_type", 32)
          .groupBy($"event_type", $"mean_cents")
          .agg(count(lit(1)).as("n_total"),
            sum(when($"cents" > $"mean_cents", 1L).otherwise(0L))
              .as("n_above"))
          .orderBy($"event_type")
      },
      oracle = Some("""
        WITH e AS (
          SELECT event_type, event_id,
                 CAST(round(value*100) AS BIGINT) AS cents
          FROM events),
        st AS (
          SELECT event_type,
                 CAST(sum(cents) AS BIGINT) // count(*) AS mean_cents
          FROM e GROUP BY 1)
        SELECT e.event_type, st.mean_cents, count(*) AS n_total,
               CAST(sum(CASE WHEN e.cents > st.mean_cents
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_above
        FROM e JOIN st ON st.event_type = e.event_type
        GROUP BY 1, 2 ORDER BY e.event_type"""),
      desc = "salted skew join: 5-key fact join spread over keys x 32 salts"),

    // ── O1/O3: global sort + limit (top-k). Spark plans
    // TakeOrderedAndProject — no full sort materialization at scale.
    "o3_topk" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        t(s, dir, "orders")
          .orderBy($"o_totalprice".desc, $"o_orderkey".asc)
          .select($"o_orderkey", $"o_custkey", $"o_totalprice")
          .limit(25)
      },
      oracle = Some("""
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 25"""),
      desc = "O1/O3 global order-by + top-k (TakeOrderedAndProject)"),

    // ── blocked fuzzy join (typo-tolerant entity lookup) ────────────
    // The entity-resolution shape: dirty query strings (every distinct
    // part name with its 3rd char dropped — a deterministic typo)
    // resolved back to the catalog by a BLOCKED edit-distance join:
    // candidates only meet inside (last word, first char) blocks — the
    // stable parts of the string under single-char edits — then a
    // levenshtein ≤ 2 verify and a per-query top-1. Never an all-pairs
    // name×name product: block keys are equi-join keys, so at 100 TB
    // this shuffles on the block key like any hash join; the window
    // ranks within query-sized groups.
    "j_fuzzy_block" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        val w = org.apache.spark.sql.expressions.Window
        val names = t(s, dir, "part").select($"p_name".as("nm")).distinct()
        val qk = names
          .select(concat(substring($"nm", 1, 2), substring($"nm", 4, 100000))
            .as("qnm")).distinct()
          .withColumn("k1", element_at(split($"qnm", " "), -1))
          .withColumn("k2", substring($"qnm", 1, 1))
        val nk = names
          .withColumn("k1", element_at(split($"nm", " "), -1))
          .withColumn("k2", substring($"nm", 1, 1))
        qk.join(nk, Seq("k1", "k2"))
          .withColumn("lev", levenshtein($"qnm", $"nm"))
          .filter($"lev" <= 2)
          .withColumn("rk", row_number().over(
            w.partitionBy($"qnm").orderBy($"lev".asc, $"nm".asc)))
          .filter($"rk" === 1)
          .select($"qnm", $"nm", $"lev".cast(LongType).as("lev"))
          .orderBy($"qnm")
      },
      oracle = Some("""
        WITH names AS (SELECT DISTINCT p_name AS nm FROM part),
        qk AS (
          SELECT qnm, string_split(qnm, ' ')[-1] AS k1,
                 substr(qnm, 1, 1) AS k2
          FROM (SELECT DISTINCT substr(nm, 1, 2) || substr(nm, 4) AS qnm
                FROM names)),
        nk AS (
          SELECT nm, string_split(nm, ' ')[-1] AS k1,
                 substr(nm, 1, 1) AS k2
          FROM names),
        cand AS (
          SELECT qnm, nm, CAST(levenshtein(qnm, nm) AS BIGINT) AS lev
          FROM qk JOIN nk USING (k1, k2)
          WHERE levenshtein(qnm, nm) <= 2),
        ranked AS (
          SELECT *, row_number() OVER (PARTITION BY qnm
                      ORDER BY lev ASC, nm ASC) AS rk
          FROM cand)
        SELECT qnm, nm, lev FROM ranked WHERE rk = 1 ORDER BY qnm"""),
      desc = "blocked levenshtein join: typo queries resolved to the catalog"),

    // ── entity resolution: block → match → cluster → canonicalize ───
    // The full ER pipeline (the corpus_clean of the entity axis):
    // mentions = catalog names ∪ their typo variants; match edges =
    // levenshtein ≤ 2 inside (last word, first char) blocks (the
    // j_fuzzy_block scheme — never an all-pairs name product); then
    // Corpus.connectedComponents clusters transitively-linked
    // mentions (A~B, B~C puts A,C in one entity even at lev(A,C)=4 —
    // what the pairwise join alone cannot express) and each cluster
    // canonicalizes to its min mention. Node ids are 56-bit md5
    // prefixes of the mention string (the shingle-hash idiom; no
    // global id-assignment window at scale). Singleton mentions
    // resolve to themselves via the left join.
    "er_resolve" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        val names = t(s, dir, "part").select($"p_name".as("m")).distinct()
        val typos = names
          .select(concat(substring($"m", 1, 2), substring($"m", 4, 100000))
            .as("m")).distinct()
        val mentions = names.unionByName(typos).distinct()
          .withColumn("mid", expr(
            "CAST(conv(substring(md5(m), 1, 14), 16, 10) AS BIGINT)"))
        val mk = mentions
          .withColumn("k1", element_at(split($"m", " "), -1))
          .withColumn("k2", substring($"m", 1, 1))
        val pairs = mk.select($"k1", $"k2", $"m".as("ma"), $"mid".as("ida"))
          .join(mk.select($"k1", $"k2", $"m".as("mb"), $"mid".as("idb")),
            Seq("k1", "k2"))
          .filter($"ida" < $"idb" && levenshtein($"ma", $"mb") <= 2)
          .select($"ida".as("src"), $"idb".as("dst"))
        val labels = Corpus.connectedComponents(pairs)
          .withColumnRenamed("doc_id", "mid")
        val lbl = mentions.join(labels, Seq("mid"), "left")
          .withColumn("cid", coalesce($"component_id", $"mid"))
        val canon = lbl.groupBy($"cid")
          .agg(min($"m").as("entity"), count(lit(1)).as("cluster_size"))
        lbl.join(canon, Seq("cid"))
          .select($"m".as("mention"), $"entity", $"cluster_size")
          .orderBy($"mention")
      },
      oracle = Some("""
        WITH RECURSIVE er_names AS (
          SELECT DISTINCT p_name AS m FROM part),
        er_m AS (
          SELECT m, ('0x' || substr(md5(m), 1, 14))::BIGINT AS mid
          FROM (SELECT m FROM er_names
                UNION
                SELECT DISTINCT substr(m, 1, 2) || substr(m, 4) AS m
                FROM er_names)),
        er_k AS (
          SELECT m, mid, string_split(m, ' ')[-1] AS k1,
                 substr(m, 1, 1) AS k2
          FROM er_m),
        er_p AS (
          SELECT a.mid AS src, b.mid AS dst
          FROM er_k a JOIN er_k b
            ON a.k1 = b.k1 AND a.k2 = b.k2 AND a.mid < b.mid
          WHERE levenshtein(a.m, b.m) <= 2),
        er_e AS (
          SELECT src, dst FROM er_p UNION SELECT dst, src FROM er_p),
        reach(a, b) AS (
          SELECT src, src FROM er_e
          UNION
          SELECT r.a, e.dst FROM reach r JOIN er_e e ON e.src = r.b),
        er_lbl0 AS (SELECT a AS mid, min(b) AS cid FROM reach GROUP BY a),
        er_lbl AS (
          SELECT m.m, m.mid, COALESCE(l.cid, m.mid) AS cid
          FROM er_m m LEFT JOIN er_lbl0 l ON l.mid = m.mid),
        er_canon AS (
          SELECT cid, min(m) AS entity, count(*) AS cluster_size
          FROM er_lbl GROUP BY cid)
        SELECT l.m AS mention, c.entity,
               CAST(c.cluster_size AS BIGINT) AS cluster_size
        FROM er_lbl l JOIN er_canon c USING (cid)
        ORDER BY mention"""),
      desc = "entity resolution: blocked fuzzy edges, CC clusters, canonical names"),

    // ── blocking-quality eval (the ER scheme's acceptance test) ─────
    // Before trusting er_resolve's (last-word, first-char) blocking at
    // 100 TB, measure it: pair completeness (share of TRUE lev≤2
    // pairs the blocks surface) and reduction ratio (share of the
    // all-pairs space the blocks never touch) — the two numbers every
    // ER paper reports (Christen 2012). The all-pairs TRUTH side runs
    // over a bounded ≤200-mention slice (p_partkey ≤ 100 + typos) —
    // the knn_brute/lsh_curve documented-baseline posture; the
    // blocked side is the production equi-join shape.
    "er_blocking_eval" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        val names = t(s, dir, "part").filter($"p_partkey" <= 100L)
          .select($"p_name".as("m")).distinct()
        val typos = names
          .select(concat(substring($"m", 1, 2), substring($"m", 4, 100000))
            .as("m")).distinct()
        val mk = names.unionByName(typos).distinct()
          .withColumn("mid", expr(
            "CAST(conv(substring(md5(m), 1, 14), 16, 10) AS BIGINT)"))
          .withColumn("k1", element_at(split($"m", " "), -1))
          .withColumn("k2", substring($"m", 1, 1))
        val mkM = graft.Engine.materialize(mk, key = "mid",
          name = "erbe_mk")
        val all = mkM.select($"m".as("ma"), $"mid".as("ida"))
          .crossJoin(mkM.select($"m".as("mb"), $"mid".as("idb")))
          .filter($"ida" < $"idb")
          .withColumn("is_true",
            (levenshtein($"ma", $"mb") <= 2).cast(LongType))
        val blocked = mkM.select($"k1", $"k2", $"m".as("ma"),
            $"mid".as("ida"))
          .join(mkM.select($"k1", $"k2", $"m".as("mb"), $"mid".as("idb")),
            Seq("k1", "k2"))
          .filter($"ida" < $"idb")
          .agg(count(lit(1)).as("n_blocked"),
            sum((levenshtein($"ma", $"mb") <= 2).cast(LongType))
              .as("n_caught"))
        val n = mkM.agg(count(lit(1)).as("n_mentions"))
        all.agg(count(lit(1)).as("n_all_pairs"),
            sum($"is_true").as("n_true"))
          .crossJoin(broadcast(blocked))
          .crossJoin(broadcast(n))
          .select($"n_mentions", $"n_all_pairs", $"n_true",
            $"n_blocked", $"n_caught",
            expr("n_caught * 1000000 div nullif(n_true, 0)").as("pc_ppm"),
            expr("(n_all_pairs - n_blocked) * 1000000 div " +
              "nullif(n_all_pairs, 0)").as("rr_ppm"))
      },
      oracle = Some("""
        WITH eb_names AS (
          SELECT DISTINCT p_name AS m FROM part WHERE p_partkey <= 100),
        eb_m AS (
          SELECT m, ('0x' || substr(md5(m), 1, 14))::BIGINT AS mid,
                 string_split(m, ' ')[-1] AS k1, substr(m, 1, 1) AS k2
          FROM (SELECT m FROM eb_names
                UNION
                SELECT DISTINCT substr(m, 1, 2) || substr(m, 4) AS m
                FROM eb_names)),
        eb_all AS (
          SELECT CAST(count(*) AS BIGINT) AS n_all_pairs,
                 CAST(sum(CASE WHEN levenshtein(a.m, b.m) <= 2
                   THEN 1 ELSE 0 END) AS BIGINT) AS n_true
          FROM eb_m a JOIN eb_m b ON a.mid < b.mid),
        eb_blk AS (
          SELECT CAST(count(*) AS BIGINT) AS n_blocked,
                 CAST(sum(CASE WHEN levenshtein(a.m, b.m) <= 2
                   THEN 1 ELSE 0 END) AS BIGINT) AS n_caught
          FROM eb_m a JOIN eb_m b
            ON a.k1 = b.k1 AND a.k2 = b.k2 AND a.mid < b.mid),
        eb_n AS (SELECT CAST(count(*) AS BIGINT) AS n_mentions FROM eb_m)
        SELECT n.n_mentions, a.n_all_pairs, a.n_true,
               b.n_blocked, b.n_caught,
               b.n_caught * 1000000 // NULLIF(a.n_true, 0) AS pc_ppm,
               (a.n_all_pairs - b.n_blocked) * 1000000
                 // NULLIF(a.n_all_pairs, 0) AS rr_ppm
        FROM eb_all a CROSS JOIN eb_blk b CROSS JOIN eb_n n"""),
      desc = "ER blocking eval: pair completeness + reduction ratio vs bounded all-pairs truth")
  )
}
