package graft.operators

import graft.Q
import graft.sources.Sources
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Web-corpus URL curation: parse → canonicalize → dedup → host
  * governance. The first stage of every web-scale corpus build
  * (C4 / RefinedWeb style): raw crawl URLs arrive messy — random
  * scheme/host case, default ports, `www.` prefixes, doubled path
  * slashes, trailing slashes, tracking params in arbitrary order,
  * fragments — and the canonical form is the dedup + governance key.
  *
  * The testdata has no URL column, so each query SYNTHESIZES a messy
  * raw URL per document deterministically from `doc_id` arithmetic
  * (the MtaSynthetic pattern) and then runs the REAL parser over the
  * string. The DuckDB oracle never parses: it recomputes the expected
  * canonical form from the same doc_id arithmetic FIRST-PRINCIPLES,
  * so the hash proves the parse+canonicalize pipeline lands exactly
  * on the ground truth (the corpus_warc_ingest oracle shape).
  *
  * Junk varies on axes the canonical key ignores (doc_id mod 2/3/4/5)
  * while the canonical key lives on doc_id mod 19/23/7 — so distinct
  * raw strings genuinely collide on canon (the dedup groups are
  * non-trivial at every SF).
  *
  * 100 TB posture: everything here is a stateless per-row projection
  * (regex + small-array HOFs over ≤4 query params) followed by
  * hash-partitioned groupBys on the canonical key — embarrassingly
  * parallel, no skew beyond what the host rollup's own key carries.
  */
object WebQueries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Sources.table(s, dir, "documents")

  // ── deterministic messy-URL synthesis (Spark side) ───────────────
  // k/m/j are the canonical axes; everything else is junk the
  // canonicalizer must strip. Twin arithmetic lives in each oracle.
  private[graft] def withRawUrl(df: DataFrame): DataFrame = df
    .withColumn("k", col("doc_id") % 19)
    .withColumn("m", col("doc_id") % 23)
    .withColumn("j", col("doc_id") % 7)
    .withColumn("dom", expr(
      "CASE k % 3 WHEN 0 THEN 'Example' WHEN 1 THEN 'Sample' " +
        "ELSE 'Test' END"))
    .withColumn("url_raw", concat(
      expr("CASE doc_id % 3 WHEN 0 THEN 'HTTPS' WHEN 1 THEN 'https' " +
        "ELSE 'HtTpS' END"),
      lit("://"),
      expr("CASE doc_id % 3 WHEN 0 THEN 'WWW.' WHEN 1 THEN 'www.' " +
        "ELSE '' END"),
      expr("CASE WHEN doc_id % 2 = 0 THEN upper(concat('site-', k)) " +
        "ELSE concat('Site-', k) END"),
      lit("."), col("dom"), lit(".COM"),
      expr("CASE WHEN k % 7 = 3 THEN ':8080' " +
        "WHEN doc_id % 3 = 0 THEN ':443' ELSE '' END"),
      lit("/a//"), col("m"), lit("/"),
      expr("CASE WHEN k % 6 = 0 THEN '' " +
        "WHEN doc_id % 2 = 0 THEN concat('?utm_source=s', doc_id % 5, " +
        "'&a=', j, '&b=', j + 1) " +
        "ELSE concat('?b=', j + 1, '&a=', j, '&utm_campaign=x') END"),
      expr("CASE WHEN doc_id % 2 = 0 THEN concat('#sec-', doc_id % 4) " +
        "ELSE '' END")))

  // shared oracle arithmetic: the expected canonical parts, computed
  // straight from doc_id (no parsing anywhere in the oracle) — shared
  // with the streaming ingest gate (stream_web_ingest)
  private[graft] val ORACLE_PARTS = """
    WITH parts AS (
      SELECT doc_id, n_chars,
             doc_id % 19 AS k, doc_id % 23 AS m, doc_id % 7 AS j,
             CASE doc_id % 19 % 3 WHEN 0 THEN 'example'
               WHEN 1 THEN 'sample' ELSE 'test' END AS dom
      FROM documents),
    canon AS (
      SELECT doc_id, n_chars, k, m, j, dom,
             'site-' || CAST(k AS VARCHAR) || '.' || dom || '.com'
               AS host,
             dom || '.com' AS domain,
             'https://site-' || CAST(k AS VARCHAR) || '.' || dom ||
               '.com' ||
               CASE WHEN k % 7 = 3 THEN ':8080' ELSE '' END ||
               '/a/' || CAST(m AS VARCHAR) ||
               CASE WHEN k % 6 = 0 THEN ''
                 ELSE '?a=' || CAST(j AS VARCHAR) ||
                      '&b=' || CAST(j + 1 AS VARCHAR) END AS url_canon,
             CASE WHEN k % 6 = 0 THEN 0 ELSE 2 END AS n_params
      FROM parts)"""

  // ── the real parser + canonicalizer (Spark side only) ────────────
  // RFC-3986 component split by regex; the canonical form lowercases
  // scheme+host, strips `www.`, drops scheme-default ports, collapses
  // doubled path slashes, strips the trailing slash, removes
  // tracking params, sorts the survivors, and drops the fragment.
  // The query-param pass is a filter/sort over ≤4 elements — small
  // enough that the interpreted-HOF invariant doesn't bite (same
  // budget class as mm_tar_member's 11-char octal fold).
  private[graft] def canonicalized(df: DataFrame): DataFrame = df
    .withColumn("scheme",
      lower(regexp_extract(col("url_raw"), "^([A-Za-z]+)://", 1)))
    .withColumn("auth",
      regexp_extract(col("url_raw"), "^[A-Za-z]+://([^/?#]+)", 1))
    .withColumn("host", regexp_replace(
      lower(regexp_extract(col("auth"), "^([^:]+)", 1)),
      "^www\\.", ""))
    .withColumn("port",
      regexp_extract(col("auth"), ":([0-9]+)$", 1))
    .withColumn("port_c", expr(
      "CASE WHEN port = '' THEN '' " +
        "WHEN scheme = 'http' AND port = '80' THEN '' " +
        "WHEN scheme = 'https' AND port = '443' THEN '' " +
        "ELSE concat(':', port) END"))
    .withColumn("path0",
      regexp_extract(col("url_raw"), "^[A-Za-z]+://[^/?#]+([^?#]*)", 1))
    // hoisted out of the CASE: conditional branches are excluded from
    // subexpression elimination (CLAUDE.md invariant), so the regex
    // chain must live in its own column, referenced twice for free
    .withColumn("path1", regexp_replace(
      regexp_replace(col("path0"), "/{2,}", "/"), "/+$", ""))
    .withColumn("path_c",
      expr("CASE WHEN path1 = '' THEN '/' ELSE path1 END"))
    .withColumn("qs",
      regexp_extract(col("url_raw"), "\\?([^#]*)", 1))
    .withColumn("params", expr(
      "array_sort(filter(split(qs, '&'), x -> x != '' " +
        "AND NOT startswith(x, 'utm_') " +
        "AND NOT startswith(x, 'fbclid=') " +
        "AND NOT startswith(x, 'gclid=')))"))
    .withColumn("query_c", array_join(col("params"), "&"))
    .withColumn("url_canon", concat(col("scheme"), lit("://"),
      col("host"), col("port_c"), col("path_c"),
      expr("CASE WHEN query_c = '' THEN '' " +
        "ELSE concat('?', query_c) END")))
    .withColumn("domain",
      regexp_extract(col("host"), "([^.]+\\.[^.]+)$", 1))

  /** The web_boilerplate body — real regex block segmentation +
    * per-block integer scoring over [[htmlBlocked]] pages — public
    * so ScaleProbe rides the exact gated pipeline (the
    * jpegRoundtrip single-source pattern). Returns (doc_id,
    * block_idx, tag, text_chars, link_chars, density_ppm,
    * is_content). */
  def boilerplateBlocks(docsDf: DataFrame): DataFrame =
    htmlBlocked(docsDf)
      .select(col("doc_id"), posexplode(expr(
        "regexp_extract_all(html, " +
          "'<(nav|p|footer)>(?s:.*?)</\\\\1>', 0)")))
      .withColumnRenamed("pos", "block_idx")
      .withColumn("tag",
        regexp_extract(col("col"), "^<([a-z]+)>", 1))
      .withColumn("inner",
        regexp_replace(col("col"), "<[^>]*>", ""))
      .withColumn("text_chars", length(col("inner")).cast("long"))
      // interpreted-HOF exemption (the AHash64 invariant class): this
      // aggregate/transform fold runs per BLOCK, not per char/byte,
      // and a block carries at most a handful of <a> anchors — the
      // lambda-frame count is O(anchors per block), orders below the
      // 32-element per-row folds that forced native expressions. A
      // 100 TB corpus raises block COUNT (parallel rows), not
      // per-block anchor arity, so the exemption is scale-stable.
      .withColumn("link_chars", expr(
        "aggregate(transform(regexp_extract_all(col, " +
          "'<a [^>]*>((?s:.*?))</a>', 1), x -> " +
          "CAST(length(x) AS BIGINT)), 0L, (a, v) -> a + v)"))
      .withColumn("density_ppm",
        expr("link_chars * 1000000L div greatest(text_chars, 1L)"))
      .withColumn("is_content",
        col("text_chars") >= 50L && col("density_ppm") <= 200000L)
      .select(col("doc_id"),
        col("block_idx").cast("long").as("block_idx"),
        col("tag"), col("text_chars"), col("link_chars"),
        col("density_ppm"), col("is_content"))

  /** The fixed 19-host robots rule dim (a seed, like s6): every host
    * allows '/', even hosts disallow '/a/', every fifth path gets a
    * specific longer re-allow, every third host carries a same-length
    * DISALLOW of '/a/10' so the allow-wins tie-break is exercised.
    * Shared by web_robots and web_release. */
  private def robotsRules(s: SparkSession): DataFrame = {
    import s.implicits._
    val doms = Seq("example", "sample", "test")
    (0 until 19).flatMap { k =>
      val host = s"site-$k.${doms(k % 3)}.com"
      Seq((host, "/", true)) ++
        (if (k % 2 == 0) Seq((host, "/a/", false)) else Seq()) ++
        (0 to 22).filter(_ % 5 == 0)
          .map(m => (host, s"/a/$m", true)) ++
        (if (k % 3 == 0) Seq((host, "/a/10", false)) else Seq())
    }.toDF("host", "prefix", "allow")
  }

  /** The parsed+canonicalized URL frame that FOUR registered queries
    * (canon/dedup/host_stats/robots) build identically — session-
    * shared via Engine.materializeShared keyed by the documents scan
    * (the CLAUDE.md shared-frame invariant; a bucketed table at
    * 100 TB). Builders pay the regex parse once per bench sample;
    * the other three ride. */
  private def canonShared(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    graft.Engine.materializeShared(s,
      graft.Engine.planToken(d, extra = "web_canon"),
      canonicalized(withRawUrl(d)), key = "doc_id", name = "web_canon")
  }

  val queries: Map[String, Q] = Map(

    // ── URL parse + canonicalize, row for row ────────────────────────
    // The hash proves every per-doc canonical string, host, registered
    // domain, and surviving-param count against the first-principles
    // oracle — covering scheme/host case-folding, www-stripping,
    // default-port removal, non-default-port retention (k%7=3 keeps
    // :8080), slash collapsing, trailing-slash stripping, tracking-
    // param removal, param sorting, and fragment dropping at once.
    "web_url_canon" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        canonShared(s, dir)
          .select($"doc_id", $"url_canon", $"host", $"domain",
            size($"params").cast("long").as("n_params"))
          .orderBy($"doc_id")
      },
      oracle = Some(ORACLE_PARTS + """
        SELECT doc_id, url_canon, host, domain,
               CAST(n_params AS BIGINT) AS n_params
        FROM canon ORDER BY doc_id"""),
      desc = "URL canonicalization: parse messy raw URLs, ground-truth oracle from first principles"),

    // ── URL-level dedup on the canonical key ─────────────────────────
    // Distinct raw strings (junk axes mod 2/3/4/5) collide on canon
    // (axes mod 19/23/7 → 3 059 keys), so groups are real: keep the
    // min doc_id as representative, count members and distinct raw
    // variants. At 100 TB this is THE crawl dedup shuffle — one
    // hash-partitioned groupBy on the canonical string.
    "web_url_dedup" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        canonShared(s, dir)
          .groupBy($"url_canon")
          .agg(min($"doc_id").as("keep_doc"),
            count(lit(1)).as("n_docs"),
            countDistinct($"url_raw").as("n_raw_variants"))
          .orderBy($"url_canon")
      },
      oracle = Some(ORACLE_PARTS + """,
        raw AS (
          SELECT c.doc_id, c.url_canon,
                 CASE d.doc_id % 3 WHEN 0 THEN 'HTTPS'
                   WHEN 1 THEN 'https' ELSE 'HtTpS' END || '://' ||
                 CASE d.doc_id % 3 WHEN 0 THEN 'WWW.'
                   WHEN 1 THEN 'www.' ELSE '' END ||
                 CASE WHEN d.doc_id % 2 = 0
                   THEN upper('site-' || CAST(c.k AS VARCHAR))
                   ELSE 'Site-' || CAST(c.k AS VARCHAR) END ||
                 '.' || CASE c.k % 3 WHEN 0 THEN 'Example'
                   WHEN 1 THEN 'Sample' ELSE 'Test' END || '.COM' ||
                 CASE WHEN c.k % 7 = 3 THEN ':8080'
                   WHEN d.doc_id % 3 = 0 THEN ':443' ELSE '' END ||
                 '/a//' || CAST(d.doc_id % 23 AS VARCHAR) || '/' ||
                 CASE WHEN c.k % 6 = 0 THEN ''
                   WHEN d.doc_id % 2 = 0 THEN '?utm_source=s' ||
                     CAST(d.doc_id % 5 AS VARCHAR) || '&a=' ||
                     CAST(c.j AS VARCHAR) || '&b=' ||
                     CAST(c.j + 1 AS VARCHAR)
                   ELSE '?b=' || CAST(c.j + 1 AS VARCHAR) || '&a=' ||
                     CAST(c.j AS VARCHAR) || '&utm_campaign=x' END ||
                 CASE WHEN d.doc_id % 2 = 0
                   THEN '#sec-' || CAST(d.doc_id % 4 AS VARCHAR)
                   ELSE '' END AS url_raw
          FROM canon c JOIN documents d USING (doc_id))
        SELECT url_canon,
               CAST(min(doc_id) AS BIGINT) AS keep_doc,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(count(DISTINCT url_raw) AS BIGINT)
                 AS n_raw_variants
        FROM raw GROUP BY url_canon ORDER BY url_canon"""),
      desc = "crawl URL dedup: canonical-key groupBy with min-doc representative"),

    // ── incremental crawl dedup: settled index + batch merge ─────────
    // The production cadence of web_url_dedup: the settled corpus's
    // (url_canon → keep_doc, n_docs) index is PERSISTED (materialize
    // here; a bucketed table at 100 TB) and a day's crawl batch folds
    // in by pure merge — min(keep) and sum(n) are mergeable, so the
    // result is EXACTLY the full-corpus dedup (the oracle is the
    // batch oracle verbatim, minus the non-mergeable distinct-raw
    // count). Split at doc_id 250 (the text_novelty boundary
    // convention); only the batch side re-parses URLs at a real
    // cadence.
    "web_url_dedup_inc" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        val c = canonShared(s, dir)
        def rollup(df: DataFrame): DataFrame = df
          .groupBy($"url_canon")
          .agg(min($"doc_id").as("keep_doc"),
            count(lit(1)).as("n_docs"))
        val settled = graft.Engine.materialize(
          rollup(c.filter($"doc_id" < 250)),
          key = "url_canon", name = "web_dedup_idx")
        settled.unionByName(rollup(c.filter($"doc_id" >= 250)))
          .groupBy($"url_canon")
          .agg(min($"keep_doc").as("keep_doc"),
            sum($"n_docs").as("n_docs"))
          .orderBy($"url_canon")
      },
      oracle = Some(ORACLE_PARTS + """
        SELECT url_canon,
               CAST(min(doc_id) AS BIGINT) AS keep_doc,
               CAST(count(*) AS BIGINT) AS n_docs
        FROM canon GROUP BY url_canon ORDER BY url_canon"""),
      desc = "incremental crawl dedup: persisted canon index + mergeable batch fold equals the batch dedup"),

    // ── host governance rollup ───────────────────────────────────────
    // Per (registered domain, host): docs, distinct canonical URLs,
    // corpus chars — plus the spam-farm flag the curation pipeline
    // acts on: a host contributing more than 3× the mean host share
    // is `oversampled`. The mean threshold is a 1-row broadcast
    // (BNLJ), never a second scan per row; integer cross-multiply
    // avoids the ANSI divide trap.
    "web_host_stats" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        val c = canonShared(s, dir)
        val hosts = c.groupBy($"domain", $"host")
          .agg(count(lit(1)).as("n_docs"),
            countDistinct($"url_canon").as("n_urls"),
            sum($"n_chars").as("sum_chars"))
        val tot = hosts.agg(sum($"n_docs").as("total"),
          count(lit(1)).as("n_hosts"))
        hosts.crossJoin(broadcast(tot))
          .withColumn("oversampled",
            $"n_docs" * $"n_hosts" > $"total" * 3)
          .select($"domain", $"host", $"n_docs", $"n_urls",
            $"sum_chars", $"oversampled")
          .orderBy($"domain", $"host")
      },
      oracle = Some(ORACLE_PARTS + """,
        hosts AS (
          SELECT domain, host,
                 CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(count(DISTINCT url_canon) AS BIGINT) AS n_urls,
                 CAST(sum(n_chars) AS BIGINT) AS sum_chars
          FROM canon GROUP BY domain, host),
        tot AS (
          SELECT CAST(sum(n_docs) AS BIGINT) AS total,
                 CAST(count(*) AS BIGINT) AS n_hosts
          FROM hosts)
        SELECT domain, host, n_docs, n_urls, sum_chars,
               n_docs * n_hosts > total * 3 AS oversampled
        FROM hosts CROSS JOIN tot
        ORDER BY domain, host"""),
      desc = "host governance: per-host rollup with the 3x-mean-share spam-farm flag"),

    // ── robots.txt evaluation: longest-match allow/deny ──────────────
    // The crawl-side gate: per-host rule sets evaluated with the REP
    // longest-match semantics (the most specific matching prefix
    // decides; on a length tie, allow wins — the Google REP rule).
    // The rule table is a fixed 19-host dim (a seed, like s6): every
    // host allows '/', even hosts disallow '/a/', every fifth path
    // gets a specific re-allow (longer than the disallow, so
    // longest-match genuinely decides), and every third host carries
    // a same-length DISALLOW duplicate of '/a/10' so the tie-break is
    // exercised, not just implemented. URLs come from the real
    // canonicalizer; the oracle recomputes every decision from the
    // mod arithmetic — first principles, no rule engine in DuckDB.
    // Plan shape: broadcast dim join + per-URL argmax window.
    "web_robots" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        val rules = robotsRules(s)
        val urls = canonShared(s, dir)
          .select($"doc_id", $"host", $"path_c".as("path"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy($"doc_id")
          .orderBy(length($"prefix").desc, $"allow".desc, $"prefix")
        urls.join(broadcast(rules), Seq("host"))
          .filter($"path".startsWith($"prefix"))
          .withColumn("rn", row_number().over(w))
          .filter($"rn" === 1)
          .select($"doc_id", $"host", $"path", $"allow".as("allowed"),
            $"prefix".as("match_prefix"))
          .orderBy($"doc_id")
      },
      oracle = Some(ORACLE_PARTS + """
        SELECT doc_id, host, '/a/' || CAST(m AS VARCHAR) AS path,
               CASE WHEN m % 5 = 0 THEN true ELSE k % 2 = 1 END
                 AS allowed,
               CASE WHEN m % 5 = 0 THEN '/a/' || CAST(m AS VARCHAR)
                 WHEN k % 2 = 0 THEN '/a/' ELSE '/' END AS match_prefix
        FROM canon ORDER BY doc_id"""),
      desc = "robots.txt longest-match evaluation with the allow-wins tie-break exercised"),

    // ── HTML main-text extraction (boilerplate strip) ────────────────
    // The trafilatura-shaped ingest op: crawl payloads are HTML, the
    // corpus wants the title + main text with nav/footer boilerplate
    // and link markup gone. The fn builds a full page per doc (head,
    // title, nav with relative links, the <p> body, doc_id%3 absolute
    // links, footer) and extracts back with the real regexes; the
    // oracle emits the source fields — the hash proves wrap → strip
    // round-trips and the boilerplate never leaks into main_text.
    "web_html_text" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        htmlWrapped(docs(s, dir))
          .select($"doc_id",
            regexp_extract($"html", "<title>([^<]*)</title>", 1)
              .as("title"),
            regexp_extract($"html", "(?s)<p>(.*)</p>", 1)
              .as("main_text"),
            size(expr("regexp_extract_all(html, '<a href=', 0)"))
              .cast("long").as("n_links"))
          .orderBy($"doc_id")
      },
      oracle = Some("""
        SELECT doc_id,
               'Doc ' || CAST(doc_id AS VARCHAR) AS title,
               text AS main_text,
               CAST(doc_id % 3 + 2 AS BIGINT) AS n_links
        FROM documents ORDER BY doc_id"""),
      desc = "HTML boilerplate strip: title + main text extracted, nav/footer/links dropped"),

    // ── outlink extraction: the link-graph edge build ────────────────
    // Same synthesized pages; the absolute hrefs are parsed OUT of the
    // markup (relative nav links excluded by the scheme anchor) and
    // rolled up per target host — the first stage of every link-graph
    // / host-reputation pipeline. Oracle recomputes the edge set from
    // the (doc_id + i) arithmetic directly.
    "web_links" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        htmlWrapped(docs(s, dir))
          .withColumn("href", explode(expr(
            "regexp_extract_all(html, " +
              "'<a href=\"(https://[^\"]+)\"', 1)")))
          .withColumn("tgt_host",
            regexp_extract($"href", "https://([^/]+)", 1))
          .groupBy($"tgt_host")
          .agg(count(lit(1)).as("n_links"),
            countDistinct($"doc_id").as("n_docs"))
          .orderBy($"tgt_host")
      },
      oracle = Some("""
        WITH l AS (
          SELECT doc_id,
                 unnest(generate_series(0, doc_id % 3 - 1)) AS i
          FROM documents),
        h AS (
          SELECT doc_id,
                 'site-' || CAST((doc_id + i) % 19 AS VARCHAR) ||
                   '.example.com' AS tgt_host
          FROM l)
        SELECT tgt_host,
               CAST(count(*) AS BIGINT) AS n_links,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        FROM h GROUP BY tgt_host ORDER BY tgt_host"""),
      desc = "outlink extraction: absolute hrefs parsed from markup, rolled up per target host"),

    // ── head-metadata extraction + robots-meta governance ────────────
    // After boilerplate stripping, a crawl build reads the HEAD: the
    // canonical link (dedup key when pages self-duplicate), og:
    // properties (locale feeds the langid prior), and the robots
    // meta (noindex pages are DROPPED — the page-level governance
    // sibling of web_robots' host-level rules). The fn synthesizes a
    // head per doc (canonical pointing at doc_id div 7 for every 7th
    // doc — a genuine non-self canonical, so the self-check binds)
    // and parses it back with real regexes; the oracle recomputes
    // every field from the arithmetic. Stateless per-row regex work:
    // scan-linear at any scale.
    "web_meta_extract" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        docs(s, dir)
          .withColumn("canon_id", expr(
            "IF(doc_id % 7 = 0 AND doc_id > 0, doc_id div 7, doc_id)"))
          .withColumn("html", concat(
            lit("<html><head><title>Doc "), $"doc_id",
            lit("</title><meta property=\"og:locale\" content=\""),
            $"lang",
            lit("\"><meta name=\"robots\" content=\""),
            expr("IF(doc_id % 11 = 3, 'noindex,nofollow', " +
              "'index,follow')"),
            lit("\"><link rel=\"canonical\" " +
              "href=\"https://example.com/doc/"), $"canon_id",
            lit("\"></head><body><p>"), $"text",
            lit("</p></body></html>")))
          .select($"doc_id",
            regexp_extract($"html", "<title>([^<]*)</title>", 1)
              .as("title"),
            regexp_extract($"html",
              "property=\"og:locale\" content=\"([^\"]*)\"", 1)
              .as("og_locale"),
            regexp_extract($"html",
              "name=\"robots\" content=\"([^\"]*)\"", 1)
              .rlike("noindex").as("noindex"),
            regexp_extract($"html",
              "rel=\"canonical\" href=\"([^\"]*)\"", 1)
              .as("canonical"))
          .withColumn("canonical_self", $"canonical" === concat(
            lit("https://example.com/doc/"), $"doc_id"))
          .withColumn("keep", !$"noindex" && $"canonical_self")
          .orderBy($"doc_id")
      },
      oracle = Some("""
        WITH a AS (
          SELECT doc_id, lang,
                 CASE WHEN doc_id % 7 = 0 AND doc_id > 0
                   THEN doc_id // 7 ELSE doc_id END AS canon_id,
                 doc_id % 11 = 3 AS noindex
          FROM documents)
        SELECT doc_id,
               'Doc ' || CAST(doc_id AS VARCHAR) AS title,
               lang AS og_locale,
               noindex,
               'https://example.com/doc/' || CAST(canon_id AS VARCHAR)
                 AS canonical,
               canon_id = doc_id AS canonical_self,
               NOT noindex AND canon_id = doc_id AS keep
        FROM a ORDER BY doc_id"""),
      desc = "head metadata: title/og/canonical parsed, robots-meta noindex governance applied"),

    // ── block-level boilerplate removal (jusText/trafilatura shape) ──
    // The stage every crawl build runs between extraction and
    // cleaning: segment the page into BLOCKS, score each by pure
    // integer metrics (text chars, anchor-text chars, link density in
    // ppm), and classify content vs boilerplate by thresholds
    // (jusText's core heuristic: long low-link-density blocks are
    // content). The fn builds a 3-4 block page per doc (nav, the main
    // <p>, an even-doc promo <p> with an inline link, footer) and
    // runs a REAL regex segmentation + per-block scoring; the oracle
    // recomputes every block row from first principles (nav/footer
    // metrics are constants of the wrapper, promo metrics are doc_id
    // arithmetic, the main block's come from length(text)). The
    // 50-char content floor genuinely binds: the corpus's shortest
    // docs (48 chars at sf0.01) classify as boilerplate while the
    // rest pass — so the hash proves the threshold, not a constant.
    // Corpus assumption (spec-pinned in WebQueriesSpec): document
    // text contains no '<', so the segmentation and link regexes see
    // only the wrapper's own markup. 100 TB posture: stateless
    // per-row regex work, no shuffle at all before the final sort.
    "web_boilerplate" -> Q(
      fn = (s, dir) =>
        // the public API IS the implementation (ScaleProbe rides it)
        boilerplateBlocks(docs(s, dir))
          .orderBy(col("doc_id"), col("block_idx")),
      oracle = Some("""
        WITH b AS (
          SELECT doc_id, 0 AS block_idx, 'nav' AS tag,
                 12 AS text_chars, 9 AS link_chars,
                 750000 AS density_ppm, false AS is_content
          FROM documents
          UNION ALL
          SELECT doc_id, 1, 'p', length(text), 0, 0,
                 length(text) >= 50
          FROM documents
          UNION ALL
          SELECT doc_id, 2, 'p',
                 24 + length(CAST(doc_id % 19 AS VARCHAR)),
                 5 + length(CAST(doc_id % 19 AS VARCHAR)),
                 (5 + length(CAST(doc_id % 19 AS VARCHAR))) * 1000000
                   // (24 + length(CAST(doc_id % 19 AS VARCHAR))),
                 false
          FROM documents WHERE doc_id % 2 = 0
          UNION ALL
          SELECT doc_id, CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 2 END,
                 'footer', 8, 0, 0, false
          FROM documents)
        SELECT doc_id, CAST(block_idx AS BIGINT) AS block_idx, tag,
               CAST(text_chars AS BIGINT) AS text_chars,
               CAST(link_chars AS BIGINT) AS link_chars,
               CAST(density_ppm AS BIGINT) AS density_ppm, is_content
        FROM b ORDER BY doc_id, block_idx"""),
      desc = "block-level boilerplate classification: integer text-density segmentation, jusText shape"),

    // ── the crawl release: the whole pipeline under ONE hash ────────
    // corpus_release's web-family sibling: canonicalize (real parser,
    // shared frame) → dedup on canon (first-arrival survivor) →
    // robots longest-match filter (real rule engine) → HTML main-text
    // extraction (real regex round trip) → quality floor → shard
    // manifest keyed on the canonical URL, with an order-independent
    // per-shard content digest (per-row hashes REDUCED mod 1000003
    // before summing — the corpus_manifest ANSI-overflow lesson).
    // Every stage is the registered operator's own machinery; the
    // oracle recomputes the full composition from doc_id arithmetic,
    // so one hash mismatch anywhere in the five-stage pipeline fails
    // the gate. 100 TB posture: one window per dedup group, one
    // broadcast rules join, stateless extraction, 8-group rollup.
    "web_release" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        val c = canonShared(s, dir)
          .select($"doc_id", $"url_canon", $"host", $"path_c", $"text")
        val wd = org.apache.spark.sql.expressions.Window
          .partitionBy($"url_canon").orderBy($"doc_id")
        val surv = c.withColumn("rn", row_number().over(wd))
          .filter($"rn" === 1).drop("rn")
        val wr = org.apache.spark.sql.expressions.Window
          .partitionBy($"doc_id")
          .orderBy(length($"prefix").desc, $"allow".desc, $"prefix")
        val allowed = surv.join(broadcast(robotsRules(s)), Seq("host"))
          .filter($"path_c".startsWith($"prefix"))
          .withColumn("rn", row_number().over(wr))
          .filter($"rn" === 1 && $"allow")
          .drop("rn", "prefix", "allow")
        val extracted = htmlWrapped(allowed)
          .withColumn("main_text",
            regexp_extract($"html", "(?s)<p>(.*)</p>", 1))
          .filter(length($"main_text") >= 50)
        extracted
          .withColumn("shard", expr("md5_prefix_long(url_canon, 8) % 8"))
          .withColumn("h", expr("md5_prefix_long(main_text, 14) % 1000003"))
          .groupBy($"shard")
          .agg(count(lit(1)).as("n_docs"),
            sum(length($"main_text")).cast("long").as("sum_chars"),
            sum($"h").as("digest"))
          .orderBy($"shard")
      },
      oracle = Some(ORACLE_PARTS + """,
        surv AS (
          SELECT c.*, row_number() OVER (PARTITION BY url_canon
            ORDER BY doc_id) AS rn
          FROM canon c),
        alw AS (
          SELECT s.doc_id, s.url_canon
          FROM surv s
          WHERE rn = 1
            AND (m % 5 = 0 OR k % 2 = 1)),
        q AS (
          SELECT a.url_canon, d.text
          FROM alw a JOIN documents d ON d.doc_id = a.doc_id
          WHERE length(d.text) >= 50)
        SELECT ('0x' || substr(md5(url_canon), 1, 8))::BIGINT % 8
                 AS shard,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(length(text)) AS BIGINT) AS sum_chars,
               CAST(sum(('0x' || substr(md5(text), 1, 14))::BIGINT
                 % 1000003) AS BIGINT) AS digest
        FROM q GROUP BY shard ORDER BY shard"""),
      desc = "web release: canon -> dedup -> robots -> extract -> quality -> shard digest, one hash")
  )

  /** documents + a multi-BLOCK page per doc for the boilerplate
    * classifier: nav (pure link bar), the text as the main <p>, an
    * even-doc promo <p> with an inline link (short + linky — the
    * canonical boilerplate shape), footer. Block metrics are all
    * first-principles computable: nav/footer are wrapper constants,
    * promo is doc_id%19 digit arithmetic, main is length(text). */
  private[graft] def htmlBlocked(df: DataFrame): DataFrame = df
    .withColumn("k", col("doc_id") % 19)
    .withColumn("promo", expr(
      "CASE WHEN doc_id % 2 = 0 THEN concat(" +
        "'<p>Read more on <a href=\"https://site-', k, " +
        "'.example.com/\">site ', k, '</a> today</p>') ELSE '' END"))
    .withColumn("html", concat(
      lit("<html><head><title>Doc "), col("doc_id"),
      lit("</title></head><body><nav><a href=\"/\">Home</a> | " +
        "<a href=\"/about\">About</a></nav><p>"),
      col("text"), lit("</p>"), col("promo"),
      lit("<footer>(c) 2026</footer></body></html>")))

  /** documents + a full synthesized HTML page per doc: head/title,
    * nav boilerplate (relative links), the text as the single <p>
    * body, doc_id%3 absolute outlinks with mod-arithmetic targets,
    * footer. Shared by web_html_text and web_links.
    *
    * CORPUS ASSUMPTION (spec-pinned in WebQueriesSpec): document
    * text contains no '<' — the extraction/link regexes scan the
    * whole page, so a text containing '</p>' or '<a href=' would
    * diverge from the first-principles oracles (the r14 ADVICE
    * observation). The pin is a spec, not a filter, so a future
    * corpus change fails loudly instead of silently. */
  private[graft] def htmlWrapped(df: DataFrame): DataFrame = df
    .withColumn("nl", col("doc_id") % 3)
    .withColumn("linkshtml", expr(
      "CASE WHEN nl = 0 THEN '' ELSE concat_ws('', " +
        "transform(sequence(0, nl - 1), i -> concat(" +
        "'<a href=\"https://site-', (doc_id + i) % 19, " +
        "'.example.com/a/', (doc_id + i) % 23, '\">more</a>'))) END"))
    .withColumn("html", concat(
      lit("<html><head><title>Doc "), col("doc_id"),
      lit("</title></head><body><nav><a href=\"/\">Home</a> | " +
        "<a href=\"/about\">About</a></nav><p>"),
      col("text"), lit("</p>"), col("linkshtml"),
      lit("<footer>(c) 2026</footer></body></html>")))
}
