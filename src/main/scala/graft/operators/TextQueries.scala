package graft.operators

import graft.Q
import graft.sources.Sources
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis + deduplication operators over `documents` — the
  * LLM-training-data-pipeline extension surface (BASELINE.json north
  * star; beyond reference parity).
  *
  * All token hashing is md5-prefix arithmetic (md5 exists bit-identical
  * in both engines; Spark conv(hex,16,10) ≡ DuckDB '0x…'::BIGINT), so
  * every operator — including MinHash and SimHash — is exactly
  * DuckDB-oracle-checkable. No UDFs: everything is built-in
  * higher-order functions (transform/aggregate/zip_with), which stay
  * codegen-friendly and distribute trivially.
  *
  * Scale notes: per-document ops are embarrassingly parallel scans.
  * The pair-generation steps (LSH band join, block join) are designed
  * so candidate sets stay bounded: MinHash/SimHash bucket joins group
  * by band value (no all-pairs), n-gram Jaccard blocks by (lang,
  * source). At 100 TB: band tables shuffle-partition by band key;
  * skewed bands (huge buckets) get length-capped or salted.
  */
object TextQueries {

  /** DuckDB replay of [[Corpus.bm25Rank]] (log-free rational BM25,
    * integer fixed-point, floor division) ending in `bm_top`
    * (doc_id, rank, score, n_terms) — shared by `text_bm25` and the
    * hybrid-fusion oracle in VectorQueries. */
  private[operators] def duckBm25Ctes(terms: Seq[String], topK: Int,
                                      k1m: Long = 1200L,
                                      bm: Long = 750L): String = {
    val termList = terms.map(t => s"'$t'").mkString(", ")
    s"""
      bm_t AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents),
      bm_dl AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS dlen
        FROM bm_t GROUP BY doc_id),
      bm_st AS (
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
               (CAST(sum(dlen) AS BIGINT) * 1000) // count(*) AS avg_m
        FROM bm_dl),
      bm_tf AS (
        SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
        FROM bm_t WHERE tok IN ($termList) GROUP BY doc_id, tok),
      bm_df AS (
        SELECT tok, CAST(count(*) AS BIGINT) AS df
        FROM bm_tf GROUP BY tok),
      bm_sc AS (
        SELECT f.doc_id,
               ((s.n_docs - d.df) * 1000000 + 500000)
                 // (d.df * 1000 + 500) AS idf_m,
               1000 - $bm + ($bm * l.dlen * 1000) // s.avg_m AS norm_m,
               f.tf
        FROM bm_tf f JOIN bm_df d USING (tok)
        JOIN bm_dl l USING (doc_id) CROSS JOIN bm_st s),
      bm_agg AS (
        SELECT doc_id,
               CAST(sum(idf_m * ((tf * (1000 + $k1m) * 1000000)
                 // (tf * 1000 + ($k1m * norm_m) // 1000))) AS BIGINT)
                 AS score,
               CAST(count(*) AS BIGINT) AS n_terms
        FROM bm_sc GROUP BY doc_id),
      bm_top AS (
        SELECT doc_id, rank, score, n_terms FROM (
          SELECT *, row_number() OVER (ORDER BY score DESC, doc_id)
            AS rank
          FROM bm_agg)
        WHERE rank <= $topK)"""
  }

  /** DuckDB replay of [[Corpus.probeFit]]: feature CTEs + one
    * generated pf_w{i} weight CTE per perceptron round (unrolled
    * iteration, the ivf_kmeans oracle pattern). */
  private def probeOracle(rounds: Int, fitWhere: String = "TRUE",
                          applyWhere: String = "TRUE",
                          finalSelect: Option[String] = None): String = {
    val dot = "f.x0*w.w0 + f.x1*w.w1 + f.x2*w.w2 + f.x3*w.w3"
    def wCte(i: Int): String = {
      val cols = (0 to 3).map { j =>
        s"""CAST(w.w$j + COALESCE(sum(CASE WHEN f.y * ($dot) <= 0
           |THEN f.y * f.x$j END), 0) AS BIGINT) AS w$j""".stripMargin
      }.mkString(",\n")
      s"""pf_w$i AS (
         |SELECT $cols
         |FROM pf_f f CROSS JOIN pf_w${i - 1} w
         |WHERE $fitWhere
         |GROUP BY w.w0, w.w1, w.w2, w.w3)""".stripMargin
    }
    s"""
      WITH pf_t AS (
        SELECT doc_id, tok, count(*) AS c
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
              FROM documents)
        GROUP BY doc_id, tok),
      pf_s AS (
        SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
               CAST(max(c) AS BIGINT) AS top_tok
        FROM pf_t GROUP BY doc_id),
      pf_f AS (
        SELECT d.doc_id,
               CAST(256 AS BIGINT) AS x0,
               least(CAST(length(d.text) AS BIGINT), 512) AS x1,
               top_tok * 1024 // n_tokens AS x2,
               least(n_tokens, 128) AS x3,
               CAST(CASE WHEN length(d.text) >= 100 AND n_tokens >= 18
                      AND top_tok * 1024 // n_tokens <= 128
                    THEN 1 ELSE -1 END AS BIGINT) AS y
        FROM documents d JOIN pf_s s ON s.doc_id = d.doc_id),
      pf_w0 AS (
        SELECT CAST(0 AS BIGINT) AS w0, CAST(0 AS BIGINT) AS w1,
               CAST(0 AS BIGINT) AS w2, CAST(0 AS BIGINT) AS w3),
      ${(1 to rounds).map(wCte).mkString(",\n")},
      pf_sc AS (
        SELECT f.doc_id, f.y,
               ${dot.replace("w.", "w.")} AS score,
               CAST(CASE WHEN $dot > 0 THEN 1 ELSE -1 END AS BIGINT) AS pred,
               (CASE WHEN $dot > 0 THEN 1 ELSE -1 END) = f.y AS correct
        FROM pf_f f CROSS JOIN pf_w$rounds w
        WHERE $applyWhere)
      ${finalSelect.getOrElse(
        "SELECT doc_id, y, score, pred, correct FROM pf_sc ORDER BY doc_id")}"""
  }

  /** Final select of the probe-calibration oracle: equal-width
    * integer score bands over pf_sc (the broadcast-extent twin of
    * [[Corpus.probeCalibration]]), floor-div ppm ratios. */
  private def probeCalibSelect(nBands: Int): String = s"""
      SELECT band, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
             CAST(sum(CASE WHEN correct THEN 1 ELSE 0 END) AS BIGINT)
               AS n_correct,
             CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) * 1000000
               // count(*) AS BIGINT) AS pos_ppm,
             CAST(sum(CASE WHEN correct THEN 1 ELSE 0 END) * 1000000
               // count(*) AS BIGINT) AS acc_ppm
      FROM (SELECT s.*,
              (s.score - t.lo) // ((t.hi - t.lo) // $nBands + 1) AS band
            FROM pf_sc s CROSS JOIN
              (SELECT min(score) AS lo, max(score) AS hi FROM pf_sc) t)
      GROUP BY band ORDER BY band"""

  private def docs(s: SparkSession, dir: String): DataFrame =
    Sources.table(s, dir, "documents")

  /** Boundary-spanning chop (the pack_chop body, public so ScaleProbe
    * rides the exact gated pipeline): per-shard concat of the char
    * stream, chopped at exact `b`-char boundaries with documents
    * SPANNING chunks. Zero-length docs are dropped (a 0-char doc
    * occupies no chunk; Spark's sequence() would flip DESCENDING on
    * the inverted range — the r14 trap class). Returns one row per
    * (shard, chunk_id) with exact occupancy and span accounting. */
  def packChop(docsDf: DataFrame, b: Long = 2048L): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, 0)
    docsDf
      .filter(col("n_chars") > 0)
      .withColumn("shard", col("doc_id") % 8)
      .withColumn("cum", sum(col("n_chars")).over(w))
      .withColumn("cum0", col("cum") - col("n_chars"))
      .withColumn("c", explode(expr(
        s"sequence(cum0 div $b, (cum - 1) div $b)")))
      .groupBy(col("shard"), col("c").as("chunk_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(least(col("cum"), (col("c") + 1) * b) -
          greatest(col("cum0"), col("c") * b)).as("n_chars"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"),
        sum(when(col("cum0") < col("c") * b, 1L).otherwise(0L))
          .as("n_spanning"))
  }

  private val DUCK_TOKHASH = "('0x' || substr(md5(%s), 1, 14))::BIGINT"

  // stopword sets for the language-ID heuristic
  private val En = Seq("the", "a", "of", "and", "to")
  private val Tech = Seq("spark", "query", "table", "join", "scan")

  /** MinHash+LSH near-dup PAIRS (doc_a < doc_b, jaccard ≥ 0.5) —
    * shared by dedup_minhash and the connected-components clustering.
    * Shingles over the RAW token sequence (order is engine-portable;
    * distinct-list order is not); the distinct set only feeds the
    * order-insensitive Jaccard verify. Shingles are exploded and
    * hashed once, then 8 min-aggregates compute the signature in a
    * single codegen'd pass (no interpreted array lambdas). */
  private def minhashPairs(s: SparkSession, dir: String): DataFrame =
    Corpus.minhashPairs(docs(s, dir), minJaccard = 0.5)

  /** DuckDB twin of minhashPairs as CTEs ending in `mh_near`
    * (doc_a, doc_b, jaccard) — prefix-named to compose into larger
    * WITH blocks. */
  private def MINHASH_PAIRS_CTES: String = minhashPairsCtes("documents")

  /** [[MINHASH_PAIRS_CTES]] for cross-file oracle composition (the
    * streaming decontamination twin in StreamingQueries). */
  private[operators] def minhashPairsCtesPublic: String = MINHASH_PAIRS_CTES

  private def minhashPairsCtes(from: String): String = s"""
        mh_base AS (
          SELECT doc_id, string_split(text, ' ') AS raw,
                 list_distinct(string_split(text, ' ')) AS toks
          FROM $from),
        mh_sh AS (
          SELECT doc_id, toks,
            CASE WHEN len(raw) >= 3 THEN
              list_transform(range(1, len(raw) - 1),
                i -> raw[i] || ' ' || raw[i + 1] || ' ' || raw[i + 2])
            ELSE [array_to_string(raw, ' ')] END AS shingles
          FROM mh_base),
        mh_mh AS (
          SELECT doc_id, toks,
            ${(0 until 8).map(i =>
              s"""list_min(list_transform(shingles, s ->
                 (${37 + 101 * i} * (${DUCK_TOKHASH.format("s")} % 1000003)
                  + ${17 + 1009 * i}) % 1000033)) AS mh$i""").mkString(",\n")}
          FROM mh_sh),
        mh_sig AS (
          ${(0 until 4).map(b =>
            s"SELECT doc_id, $b AS band, mh${2 * b} AS k1, " +
            s"mh${2 * b + 1} AS k2 FROM mh_mh").mkString("\nUNION ALL\n")}),
        mh_banded AS (
          SELECT doc_id, band, k1, k2 FROM (
            SELECT *, count(*) OVER (PARTITION BY band, k1, k2) AS bsz
            FROM mh_sig)
          WHERE bsz <= 512),
        mh_cand AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM mh_banded a JOIN mh_banded b
            ON a.band = b.band AND a.k1 = b.k1 AND a.k2 = b.k2
           AND a.doc_id < b.doc_id),
        mh_pairs AS (
          SELECT c.doc_a, c.doc_b, ta.toks AS toks_a, tb.toks AS toks_b
          FROM mh_cand c
          JOIN mh_base ta ON ta.doc_id = c.doc_a
          JOIN mh_base tb ON tb.doc_id = c.doc_b),
        mh_near AS (
          SELECT doc_a, doc_b,
                 CAST(len(list_intersect(toks_a, toks_b)) AS DOUBLE)
                   / len(list_distinct(list_concat(toks_a, toks_b))) AS jaccard
          FROM mh_pairs
          WHERE CAST(len(list_intersect(toks_a, toks_b)) AS DOUBLE)
                  / len(list_distinct(list_concat(toks_a, toks_b))) >= 0.5)"""

  /** DuckDB twin of the Corpus.bpeFit round chain: N unrolled merge
    * rounds, each a pair-count CTE + a 1-row best-pair CTE + a
    * list_reduce merge application — the same fold expression as the
    * Spark side (string-typed accumulator, ends_with tail test,
    * substr strip). Ends with `s$merges` (the fully-merged
    * segmentation) and `b0..b{merges-1}` (the learned rules). */
  private def duckBpeCtes(merges: Int, where: String = ""): String = {
    val rounds = (0 until merges).map { r => s"""
        p$r AS (
          SELECT l, r, CAST(sum(freq) AS BIGINT) AS pair_freq FROM (
            SELECT freq, syms[i] AS l, syms[i + 1] AS r FROM (
              SELECT freq, syms, unnest(range(1, len(syms))) AS i
              FROM (SELECT freq, string_split(s, ' ') AS syms FROM s$r)))
          GROUP BY l, r),
        b$r AS (
          SELECT $r AS merge_rank, l, r, pair_freq
          FROM p$r ORDER BY pair_freq DESC, l, r LIMIT 1),
        s${r + 1} AS (
          SELECT word, freq,
            list_reduce(string_split(s, ' '), (acc, x) -> CASE
              WHEN (acc = b.l OR ends_with(acc, ' ' || b.l)) AND x = b.r
              THEN CASE WHEN acc = b.l THEN b.l || b.r
                   ELSE substr(acc, 1,
                          CAST(length(acc) - length(b.l) - 1 AS INT))
                        || ' ' || b.l || b.r END
              ELSE acc || ' ' || x END) AS s
          FROM s$r, b$r b)"""
    }.mkString(",")
    s"""
        w AS (
          SELECT word, count(*) AS freq FROM (
            SELECT unnest(regexp_extract_all(text, '[A-Za-z]+')) AS word
            FROM documents $where)
          GROUP BY word),
        s0 AS (
          SELECT word, freq, trim(regexp_replace(word, '(.)', '\\1 ', 'g')) AS s
          FROM w),$rounds"""
  }

  private def duckBpeFitSql(merges: Int): String = {
    val union = (0 until merges).map(r => s"SELECT * FROM b$r")
      .mkString(" UNION ALL ")
    s"""
        WITH ${duckBpeCtes(merges)}
        SELECT merge_rank, l AS left_sym, r AS right_sym, pair_freq
        FROM ($union)
        ORDER BY merge_rank"""
  }

  /** DuckDB twin of Corpus.bpeApply over the same corpus the rules
    * were learned from: the fit chain's final segmentation `s$merges`
    * IS the applied vocabulary (rank-order application of the learned
    * rules ≡ the training rounds — the spec pins this equivalence on
    * the Spark side too). */
  private def duckBpeApplySql(merges: Int): String = s"""
        WITH ${duckBpeCtes(merges)},
        docw AS (
          SELECT doc_id,
                 unnest(list_concat(regexp_extract_all(text, '[A-Za-z]+'),
                                    [NULL])) AS word
          FROM documents)
        SELECT d.doc_id,
               count(d.word) AS n_words,
               CAST(COALESCE(sum(len(string_split(sN.s, ' '))), 0)
                 AS BIGINT) AS n_subwords,
               CASE WHEN count(d.word) = 0 THEN NULL
                    ELSE CAST(COALESCE(sum(len(string_split(sN.s, ' '))), 0)
                           AS DOUBLE) / count(d.word) END AS bpe_fertility
        FROM docw d LEFT JOIN s$merges sN ON sN.word = d.word
        GROUP BY d.doc_id
        ORDER BY d.doc_id"""

  /** DuckDB twin of the incremental tokenizer shape: rules learned on
    * the HISTORICAL corpus (`trainWhere`), applied to the NEW batch
    * (`evalWhere`) — the fit chain's b0..b{merges-1} CTEs drive a
    * second segmentation chain over the new batch's distinct words
    * (same list_reduce fold), then the per-doc stat rollup of
    * duckBpeApplySql runs against the new docs only. */
  private def duckBpeApplyNewSql(merges: Int, trainWhere: String,
                                 evalWhere: String): String = {
    val applyRounds = (0 until merges).map { r => s"""
        a${r + 1} AS (
          SELECT word,
            list_reduce(string_split(s, ' '), (acc, x) -> CASE
              WHEN (acc = b.l OR ends_with(acc, ' ' || b.l)) AND x = b.r
              THEN CASE WHEN acc = b.l THEN b.l || b.r
                   ELSE substr(acc, 1,
                          CAST(length(acc) - length(b.l) - 1 AS INT))
                        || ' ' || b.l || b.r END
              ELSE acc || ' ' || x END) AS s
          FROM a$r, b$r b)"""
    }.mkString(",")
    s"""
        WITH ${duckBpeCtes(merges, trainWhere)},
        a0 AS (
          SELECT word,
                 trim(regexp_replace(word, '(.)', '\\1 ', 'g')) AS s
          FROM (
            SELECT DISTINCT unnest(regexp_extract_all(text, '[A-Za-z]+'))
              AS word
            FROM documents $evalWhere)),$applyRounds,
        docw AS (
          SELECT doc_id,
                 unnest(list_concat(regexp_extract_all(text, '[A-Za-z]+'),
                                    [NULL])) AS word
          FROM documents $evalWhere)
        SELECT d.doc_id,
               count(d.word) AS n_words,
               CAST(COALESCE(sum(len(string_split(sN.s, ' '))), 0)
                 AS BIGINT) AS n_subwords,
               CASE WHEN count(d.word) = 0 THEN NULL
                    ELSE CAST(COALESCE(sum(len(string_split(sN.s, ' '))), 0)
                           AS DOUBLE) / count(d.word) END AS bpe_fertility
        FROM docw d LEFT JOIN a$merges sN ON sN.word = d.word
        GROUP BY d.doc_id
        ORDER BY d.doc_id"""
  }

  /** DuckDB twin of the `text_bpe_coverage` symbol-usage rollup: the
    * fit chain's final segmentation `s$merges` already carries (word,
    * freq, s), so symbol stats are one unnest + one aggregate on it. */
  private def duckBpeCoverageSql(merges: Int): String = s"""
        WITH ${duckBpeCtes(merges)},
        sym AS (
          SELECT word, freq, unnest(string_split(s, ' ')) AS symbol
          FROM s$merges)
        SELECT symbol, CAST(length(symbol) AS BIGINT) AS sym_len,
               count(DISTINCT word) AS n_word_types,
               CAST(sum(freq) AS BIGINT) AS n_occ
        FROM sym GROUP BY symbol
        ORDER BY n_occ DESC, symbol LIMIT 30"""

  val queries: Map[String, Q] = Map(

    // ── RAG/training chunking: overlapping token windows ────────────
    // The step every retrieval corpus and long-context training mix
    // runs before embedding/packing: split each document into
    // fixed-size token windows (W=64) with stride S=48 (16-token
    // overlap so no boundary sentence is lost). Window count is the
    // standard sliding form 1 + ceil(max(n-W,0)/S) — every token
    // covered, last window short, never a window fully contained in
    // the previous one. Pure narrow exprs (split/slice/array_join +
    // one explode): embarrassingly parallel at 100 TB, no shuffle
    // before the output sort. chunk_sha (sha256 of the chunk text)
    // is the downstream dedup/lineage identity.
    "text_chunk" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        val W = 64L; val S = 48L
        docs(s, dir)
          .withColumn("toks", split($"text", " "))
          .withColumn("n", size($"toks").cast(LongType))
          // 1 + ceil(max(n-W,0)/S) via truncating div on a
          // guaranteed-nonnegative numerator (both engines truncate)
          .withColumn("n_chunks",
            lit(1L) + expr(s"(greatest(n, ${W - S + 1L}L) - ${W - S + 1L}L) div ${S}L"))
          .select($"doc_id", $"toks", $"n",
            explode(sequence(lit(0L), $"n_chunks" - 1L)).as("chunk_idx"))
          .withColumn("start_tok", $"chunk_idx" * S)
          .withColumn("chunk",
            slice($"toks", ($"start_tok" + 1L).cast("int"), lit(W.toInt)))
          .select(
            $"doc_id", $"chunk_idx", $"start_tok",
            size($"chunk").cast(LongType).as("n_toks"),
            array_join($"chunk", " ").as("chunk_text"),
            sha2(array_join($"chunk", " "), 256).as("chunk_sha"))
          .orderBy($"doc_id", $"chunk_idx")
      },
      oracle = Some("""
        WITH t AS (
          SELECT doc_id, string_split(text, ' ') AS toks,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS n
          FROM documents),
        c AS (
          SELECT doc_id, toks, n,
                 1 + (greatest(n, 17) - 17) // 48 AS n_chunks
          FROM t),
        e AS (
          SELECT doc_id, toks, n, unnest(range(n_chunks)) AS chunk_idx
          FROM c)
        SELECT doc_id, chunk_idx, chunk_idx * 48 AS start_tok,
               CAST(len(list_slice(toks, chunk_idx*48 + 1,
                                   chunk_idx*48 + 64)) AS BIGINT) AS n_toks,
               array_to_string(list_slice(toks, chunk_idx*48 + 1,
                                          chunk_idx*48 + 64), ' ') AS chunk_text,
               sha256(array_to_string(list_slice(toks, chunk_idx*48 + 1,
                                                 chunk_idx*48 + 64), ' '))
                 AS chunk_sha
        FROM e ORDER BY doc_id, chunk_idx"""),
      desc = "RAG chunking: overlapping 64-token windows, stride 48, sha identity"),

    // ── token statistics (counting, type-token ratio) ───────────────
    "text_tokens" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        docs(s, dir)
          .withColumn("toks", split($"text", " "))
          .select(
            $"doc_id", $"lang", $"source",
            length($"text").as("n_chars_actual"),
            size($"toks").as("n_tokens"),
            size(array_distinct($"toks")).as("n_distinct"),
            try_divide(size(array_distinct($"toks")), size($"toks")).as("ttr"),
            expr("aggregate(toks, 0L, (a, x) -> a + length(x))").as("sum_tok_len"))
          .orderBy($"doc_id")
      },
      oracle = Some("""
        SELECT doc_id, lang, source,
               length(text) AS n_chars_actual,
               len(string_split(text, ' ')) AS n_tokens,
               len(list_distinct(string_split(text, ' '))) AS n_distinct,
               CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                 / len(string_split(text, ' ')) AS ttr,
               CAST(list_sum(list_transform(string_split(text, ' '),
                                            x -> CAST(length(x) AS BIGINT)))
                 AS BIGINT) AS sum_tok_len
        FROM documents ORDER BY doc_id"""),
      desc = "token counting + type-token ratio (higher-order aggregate)"),

    // ── BPE-style subword proxy counts (regex pre-tokenizer) ────────
    // The second token count every pipeline needs beside whitespace
    // tokens: a GPT-2-ish pre-tokenization — letter runs, single
    // digits, single punctuation marks — as a subword-count proxy, and
    // fertility (subwords per whitespace word), the standard
    // tokenizer-cost signal. The three alternation classes are
    // DISJOINT character sets, so Java regex (Spark, leftmost-first)
    // and RE2 (DuckDB, leftmost-longest) cannot disagree on a match.
    "text_tokens_bpe" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        // Spark's regexp_extract_all extracts GROUP 1 (errors on a
        // group-less pattern); DuckDB's extracts group 0 (the full
        // match). One capture group spanning the whole pattern makes
        // both return the same strings.
        val pat = "([A-Za-z]+|[0-9]|[^A-Za-z0-9 ])"
        val bpe = expr(s"regexp_extract_all(text, '$pat')")
        docs(s, dir).select(
          $"doc_id",
          size(split($"text", " ")).as("n_ws_tokens"),
          size(bpe).as("n_bpe_tokens"),
          size(array_distinct(bpe)).as("n_bpe_distinct"),
          try_divide(size(bpe), size(split($"text", " "))).as("fertility"))
          .orderBy($"doc_id")
      },
      oracle = Some("""
        SELECT doc_id,
               len(string_split(text, ' ')) AS n_ws_tokens,
               len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]'))
                 AS n_bpe_tokens,
               len(list_distinct(regexp_extract_all(text,
                 '[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]'))) AS n_bpe_distinct,
               CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]'))
                 AS DOUBLE) / len(string_split(text, ' ')) AS fertility
        FROM documents ORDER BY doc_id"""),
      desc = "BPE-style regex pre-tokenizer counts + fertility"),

    // ── vocabulary building (tokenizer-training precursor) ──────────
    // The corpus-wide token table a tokenizer trainer starts from:
    // per-token total frequency + document frequency, top 200 by
    // (tf DESC, token ASC) — integer counts and a lexicographic
    // tie-break keep the cut deterministic cross-engine. Two shuffle
    // aggs; the distinct-per-doc side reuses the same explode.
    "text_vocab" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        val tok = docs(s, dir)
          .select($"doc_id", explode(split($"text", " ")).as("token"))
        val perDoc = tok.groupBy($"doc_id", $"token")
          .agg(count(lit(1)).as("c"))
        perDoc.groupBy($"token")
          .agg(sum($"c").as("tf"), count(lit(1)).as("df"))
          .orderBy($"tf".desc, $"token")
          .limit(200)
      },
      oracle = Some("""
        WITH t AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS token
          FROM documents),
        c AS (SELECT doc_id, token, count(*) AS c FROM t GROUP BY 1, 2)
        SELECT token, CAST(sum(c) AS BIGINT) AS tf, count(*) AS df
        FROM c GROUP BY token
        ORDER BY tf DESC, token LIMIT 200"""),
      desc = "vocabulary building: token tf/df table, deterministic top-k"),

    // ── BPE merge training (the iterative fit) ──────────────────────
    // text_tokens_bpe counts pre-tokens and text_vocab cuts a
    // frequency vocabulary; THIS is the loop that turns those counts
    // into a tokenizer: 8 rounds of most-frequent-adjacent-pair
    // merging over the alphabetic pre-tokens, replayed round-by-round
    // by the oracle (the kmeansFit replay pattern — deterministic tie
    // order, integer counts, fold-based merge application).
    "text_bpe_fit" -> Q(
      fn = (s, dir) => {
        // the public API IS the implementation — the driver's oracle
        // check verifies Corpus.bpeFit directly. Shared: apply and
        // coverage ride this fit instead of re-running the 8 rounds.
        Corpus.bpeFitShared(docs(s, dir), merges = 8)
          .orderBy(col("merge_rank"))
      },
      oracle = Some(duckBpeFitSql(8)),
      desc = "BPE merge training: 8 deterministic most-frequent-pair merges"),

    // ── BPE tokenization with the learned rules ─────────────────────
    // The apply half: segment every word with the 8 learned merges in
    // rank order and report per-doc subword counts + fertility — the
    // number a pipeline actually budgets with. Training on the same
    // corpus means the oracle's fit-chain final segmentation IS the
    // applied vocabulary.
    "text_bpe_apply" -> Q(
      fn = (s, dir) => {
        val d = docs(s, dir)
        // the public API IS the implementation — the driver's oracle
        // check verifies Corpus.bpeFit + bpeApply composed. Both the
        // fit and the segmented vocabulary are shared with
        // text_bpe_fit / text_bpe_coverage (one fit + one
        // segmentation per session across the trio).
        Corpus.bpeApply(d, Corpus.bpeFitShared(d, merges = 8), nMerges = 8,
            segToken = Some(graft.Engine.planToken(d, "bpe_seg:8")))
          .orderBy(col("doc_id"))
      },
      oracle = Some(duckBpeApplySql(8)),
      desc = "BPE apply: per-doc subword counts under the learned tokenizer"),

    // ── incremental tokenizer: historical rules on a new batch ──────
    // The daily shape (the 5th family to get an incremental form,
    // after minhash/semantic/spans/winnow dedup): rules learned ONCE
    // on the historical corpus (doc_id < 250), applied to the new
    // batch (doc_id ≥ 250) — the new batch's distinct words are
    // segmented, the historical corpus is never re-tokenized. Pure
    // composition of the two public APIs.
    "text_bpe_apply_new" -> Q(
      fn = (s, dir) => {
        val d = docs(s, dir)
        // bpeFitShared keys on the TRAINING frame's plan, so the
        // historical-only fit gets its own entry (never collides with
        // the full-corpus fit of the other three BPE queries); the
        // new-batch segmentation has no other rider, so no segToken.
        Corpus.bpeApply(d.filter(col("doc_id") >= 250),
            Corpus.bpeFitShared(d.filter(col("doc_id") < 250), merges = 8),
            nMerges = 8)
          .orderBy(col("doc_id"))
      },
      oracle = Some(duckBpeApplyNewSql(8,
        "WHERE doc_id < 250", "WHERE doc_id >= 250")),
      desc = "BPE incremental: historical rules segment only the new batch"),

    // ── tokenizer evaluation: symbol usage of the learned vocab ─────
    // The third leg of the tokenizer loop (fit → apply → EVALUATE):
    // which learned symbols actually carry the corpus. Top-30 symbols
    // by frequency-weighted occurrences — the table you read before
    // deciding whether 8 merges were enough. Segmentation rides the
    // same materialized distinct-word frame as bpe_apply; the rollup
    // is one explode + one agg (single countDistinct — no Expand
    // stacking) + TakeOrderedAndProject.
    "text_bpe_coverage" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        val d = docs(s, dir)
        val seg = Corpus.bpeSegments(d, Corpus.bpeFitShared(d, merges = 8),
          nMerges = 8,
          sharedToken = Some(graft.Engine.planToken(d, "bpe_seg:8")))
        val wf = d.select(explode(
            expr("regexp_extract_all(text, '([A-Za-z]+)')")).as("word"))
          .groupBy($"word").agg(count(lit(1)).as("freq"))
        seg.join(wf, Seq("word"))
          .select($"word", $"freq", explode(split($"s", " ")).as("symbol"))
          .groupBy($"symbol")
          .agg(countDistinct($"word").as("n_word_types"),
               sum($"freq").as("n_occ"))
          .withColumn("sym_len", length($"symbol").cast("long"))
          .select($"symbol", $"sym_len", $"n_word_types", $"n_occ")
          .orderBy($"n_occ".desc, $"symbol")
          .limit(30)
      },
      oracle = Some(duckBpeCoverageSql(8)),
      desc = "tokenizer eval: top symbols by weighted usage of the BPE vocab"),

    // ── quality scoring: punct/upper/digit/stopword ratios ──────────
    "text_quality" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        val toks = split($"text", " ")
        val stopHits = size(filter(toks, t => t.isin(En: _*)))
        docs(s, dir).select(
          $"doc_id",
          length($"text").as("len"),
          size(expr("regexp_extract_all(text, '[.,!?;:]')")).as("n_punct"),
          size(expr("regexp_extract_all(text, '[A-Z]')")).as("n_upper"),
          size(expr("regexp_extract_all(text, '[0-9]')")).as("n_digit"),
          stopHits.as("n_stop"),
          try_divide(stopHits, size(toks)).as("stopword_ratio"),
          try_divide(size(expr("regexp_extract_all(text, '[.,!?;:]')")),
                     length($"text")).as("punct_ratio"))
          .orderBy($"doc_id")
      },
      oracle = Some("""
        SELECT doc_id,
               length(text) AS len,
               len(regexp_extract_all(text, '[.,!?;:]')) AS n_punct,
               len(regexp_extract_all(text, '[A-Z]')) AS n_upper,
               len(regexp_extract_all(text, '[0-9]')) AS n_digit,
               len([x FOR x IN string_split(text, ' ')
                    IF x IN ('the', 'a', 'of', 'and', 'to')]) AS n_stop,
               CAST(len([x FOR x IN string_split(text, ' ')
                         IF x IN ('the', 'a', 'of', 'and', 'to')]) AS DOUBLE)
                 / len(string_split(text, ' ')) AS stopword_ratio,
               CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE)
                 / length(text) AS punct_ratio
        FROM documents ORDER BY doc_id"""),
      desc = "quality scoring: punct/upper/digit/stopword ratios"),

    // ── RAKE keyphrase extraction (integer-exact) ───────────────────
    // Per-doc labeling beside text_topics' per-cluster lift terms:
    // stopword-free token runs score by corpus-wide word degree/freq
    // in x100 fixed point; the oracle replays islands, stats, and
    // ranking expression-for-expression.
    "text_keyphrase" -> Q(
      fn = (s, dir) =>
        // the public API IS the implementation — the driver's oracle
        // check verifies Corpus.keyphrases directly.
        Corpus.keyphrases(docs(s, dir), stopwords = En,
            maxLen = 4, topK = 3)
          .orderBy(col("doc_id"), col("rank")),
      oracle = Some("""
        WITH kp_b AS (
          SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        kp_t AS (
          SELECT doc_id, x['pos'] AS pos, x['tok'] AS tok FROM (
            SELECT doc_id, unnest(list_transform(range(1, len(toks) + 1),
              i -> struct_pack(pos := i - 1, tok := toks[i]))) AS x
            FROM kp_b)),
        kp_ns AS (
          SELECT doc_id, pos, tok,
                 pos - row_number() OVER (PARTITION BY doc_id
                   ORDER BY pos) AS isl
          FROM kp_t
          WHERE tok NOT IN ('the', 'a', 'of', 'and', 'to')),
        kp_ph AS (
          SELECT doc_id, isl, list(tok ORDER BY pos) AS ws,
                 min(pos) AS p0
          FROM kp_ns GROUP BY 1, 2),
        kp_p2 AS (
          SELECT doc_id, isl, ws, array_to_string(ws, ' ') AS phrase,
                 CAST(len(ws) AS BIGINT) AS n_words, p0
          FROM kp_ph WHERE len(ws) <= 4),
        kp_w AS (
          SELECT doc_id, isl, phrase, n_words, p0, unnest(ws) AS w
          FROM kp_p2),
        kp_st AS (
          SELECT w, CAST(sum(n_words) AS BIGINT) * 100
                   // count(*) AS wscore_x100
          FROM kp_w GROUP BY 1),
        kp_sc AS (
          SELECT doc_id, isl, min(phrase) AS phrase,
                 min(n_words) AS n_words, min(p0) AS p0,
                 CAST(sum(wscore_x100) AS BIGINT) AS score_x100
          FROM kp_w JOIN kp_st USING (w) GROUP BY 1, 2)
        SELECT doc_id, rank, phrase, n_words, score_x100 FROM (
          SELECT *, row_number() OVER (PARTITION BY doc_id
            ORDER BY score_x100 DESC, phrase, p0) AS rank
          FROM kp_sc)
        WHERE rank <= 3 ORDER BY doc_id, rank"""),
      desc = "RAKE keyphrases: stopword-free runs, degree/freq x100 scores"),

    // ── normalization: the cleaning pass that runs BEFORE dedup ─────
    // Width fold + control strip + whitespace collapse + case fold
    // ([[Corpus.normalizeText]]) — per-document, embarrassingly
    // parallel, no shuffle except the presentation sort. The corpus
    // is synthetic ASCII so most rows pass through unchanged; the
    // interesting behavior (a formatting variant that defeats raw
    // minhash) is pinned in CorpusSpec with constructed variants.
    "text_normalize" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        docs(s, dir).select(
          $"doc_id",
          length($"text").as("len_raw"),
          Corpus.normalizeText($"text").as("norm"),
          (Corpus.normalizeText($"text") =!= $"text").as("changed"))
          .withColumn("len_norm", length($"norm"))
          .select($"doc_id", $"len_raw", $"norm", $"len_norm", $"changed")
          .orderBy($"doc_id")
      },
      oracle = Some(s"""
        SELECT doc_id, length(text) AS len_raw,
               ${Corpus.normalizeSqlDuck("text")} AS norm,
               length(${Corpus.normalizeSqlDuck("text")}) AS len_norm,
               ${Corpus.normalizeSqlDuck("text")} <> text AS changed
        FROM documents ORDER BY doc_id"""),
      desc = "text normalization: width/case fold, control strip, ws collapse"),

    // ── language-ID heuristic: stopword-list hit scoring ────────────
    "text_langid" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        val toks = split($"text", " ")
        val scoreEn = size(filter(toks, t => t.isin(En: _*)))
        val scoreTech = size(filter(toks, t => t.isin(Tech: _*)))
        docs(s, dir).select(
          $"doc_id", $"lang",
          scoreEn.as("score_en"),
          scoreTech.as("score_tech"),
          when(scoreEn >= scoreTech, "en").otherwise("tech").as("predicted"))
          .orderBy($"doc_id")
      },
      oracle = Some("""
        SELECT doc_id, lang,
               len([x FOR x IN string_split(text, ' ')
                    IF x IN ('the', 'a', 'of', 'and', 'to')]) AS score_en,
               len([x FOR x IN string_split(text, ' ')
                    IF x IN ('spark', 'query', 'table', 'join', 'scan')])
                 AS score_tech,
               CASE WHEN len([x FOR x IN string_split(text, ' ')
                              IF x IN ('the', 'a', 'of', 'and', 'to')])
                      >= len([x FOR x IN string_split(text, ' ')
                              IF x IN ('spark', 'query', 'table', 'join', 'scan')])
                    THEN 'en' ELSE 'tech' END AS predicted
        FROM documents ORDER BY doc_id"""),
      desc = "language-ID n-gram/stopword heuristic"),

    // ── snapshot drift: length-distribution shift between crawls ────
    // The dq companion to corpus_diff: diff counts WHAT changed,
    // drift asks whether the new crawl's SHAPE moved (a scraper
    // regression truncating pages shifts the length distribution long
    // before any per-doc check fires). Sides = doc_id parity (the
    // corpus_diff snapshot convention); feature = whitespace-token
    // count bucketed by 20; per-bucket ppm shares and an integer
    // chi-square-style statistic (Δppm² div (sum+1)) — log-free, so
    // every value hash-matches the oracle. Two bounded aggregations
    // (bucket cardinality ~ max_len/20) + one unpartitioned window
    // over the tiny bucket frame for side totals; nothing touches
    // raw rows twice.
    "dq_drift" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        val b = docs(s, dir)
          .select(($"doc_id" % 2 === 0).as("is_a"),
            (size(split($"text", " ")).cast(LongType) / 20L)
              .cast(LongType).as("bucket"))
          .groupBy($"bucket")
          .agg(sum(when($"is_a", 1L).otherwise(0L)).as("a_n"),
               sum(when(!$"is_a", 1L).otherwise(0L)).as("b_n"))
        val w = Window.partitionBy()
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        b.withColumn("a_tot", sum($"a_n").over(w))
          .withColumn("b_tot", sum($"b_n").over(w))
          .withColumn("a_ppm", expr("a_n * 1000000L div a_tot"))
          .withColumn("b_ppm", expr("b_n * 1000000L div b_tot"))
          .withColumn("chi2c", expr(
            "(a_ppm - b_ppm) * (a_ppm - b_ppm) div (a_ppm + b_ppm + 1)"))
          .select($"bucket", $"a_n", $"b_n", $"a_ppm", $"b_ppm", $"chi2c")
          .orderBy($"bucket")
      },
      oracle = Some("""
        WITH dd AS (
          SELECT doc_id % 2 = 0 AS is_a,
                 len(string_split(text, ' ')) // 20 AS bucket
          FROM documents),
        db AS (
          SELECT bucket,
                 CAST(sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT)
                   AS a_n,
                 CAST(sum(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT)
                   AS b_n
          FROM dd GROUP BY 1),
        dt AS (
          SELECT *, CAST(sum(a_n) OVER () AS BIGINT) AS a_tot,
                    CAST(sum(b_n) OVER () AS BIGINT) AS b_tot
          FROM db),
        dp AS (
          SELECT bucket, a_n, b_n,
                 a_n * 1000000 // a_tot AS a_ppm,
                 b_n * 1000000 // b_tot AS b_ppm
          FROM dt)
        SELECT bucket, a_n, b_n, a_ppm, b_ppm,
               (a_ppm - b_ppm) * (a_ppm - b_ppm) // (a_ppm + b_ppm + 1)
                 AS chi2c
        FROM dp ORDER BY bucket"""),
      desc = "snapshot drift: per-bucket ppm shares + integer chi-square"),

    // ── snapshot diff: content-hash movement between two crawls ─────
    // The crawl-over-crawl report a corpus owner reads before
    // retraining: which sources churned? Sides = doc_id parity (the
    // testdata stand-in for old/new snapshot tags); identity = md5 of
    // the exact text, so a moved/re-crawled identical page is
    // "common", not "added". One distinct + one flag-agg + one
    // per-source rollup — everything keys on the hash then the
    // source, no joins, no pairs; at 100 TB this is the same
    // shuffle-parallel shape as corpus_overlap's exact path.
    "corpus_diff" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        val flags = docs(s, dir)
          .select($"source", ($"doc_id" % 2 === 0).as("in_old"),
            md5($"text").as("h"))
          .distinct()
          .groupBy($"source", $"h")
          .agg(max(when($"in_old", 1L).otherwise(0L)).as("o"),
               max(when(!$"in_old", 1L).otherwise(0L)).as("n"))
        flags.groupBy($"source")
          .agg(sum($"o").as("n_old"), sum($"n").as("n_new"),
               sum(when($"o" === 0 && $"n" === 1, 1L).otherwise(0L))
                 .as("n_added"),
               sum(when($"o" === 1 && $"n" === 0, 1L).otherwise(0L))
                 .as("n_removed"),
               sum(when($"o" === 1 && $"n" === 1, 1L).otherwise(0L))
                 .as("n_common"))
          .orderBy($"source")
      },
      oracle = Some("""
        WITH flags AS (
          SELECT source, md5(text) AS h,
                 max(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS o,
                 max(CASE WHEN doc_id % 2 <> 0 THEN 1 ELSE 0 END) AS n
          FROM documents GROUP BY 1, 2)
        SELECT source,
               CAST(sum(o) AS BIGINT) AS n_old,
               CAST(sum(n) AS BIGINT) AS n_new,
               CAST(sum(CASE WHEN o = 0 AND n = 1 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_added,
               CAST(sum(CASE WHEN o = 1 AND n = 0 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_removed,
               CAST(sum(CASE WHEN o = 1 AND n = 1 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_common
        FROM flags GROUP BY source ORDER BY source"""),
      desc = "crawl snapshot diff: per-source added/removed/common by content hash"),

    // ── document fingerprint: rolling polynomial hash over tokens ───
    "text_fingerprint" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        docs(s, dir)
          // md5_prefix_long ≡ conv(substring(md5)) — one hash per
          // token occurrence inside the lambda (r16 opt round)
          .withColumn("hashes", expr(
            "transform(split(text, ' '), t -> " +
              "md5_prefix_long(t, 14) % 1000003L)"))
          .select(
            $"doc_id",
            expr("aggregate(hashes, 0L, (a, h) -> (a * 31 + h) % 1000000007L)")
              .as("fingerprint"),
            size($"hashes").as("n_tokens"))
          .orderBy($"doc_id")
      },
      oracle = Some(s"""
        SELECT doc_id,
               list_reduce(list_prepend(CAST(0 AS BIGINT),
                 list_transform(string_split(text, ' '),
                   t -> ${DUCK_TOKHASH.format("t")} % 1000003)),
                 (a, h) -> (a * 31 + h) % 1000000007) AS fingerprint,
               len(string_split(text, ' ')) AS n_tokens
        FROM documents ORDER BY doc_id"""),
      desc = "document fingerprinting: rolling hash over md5 token hashes"),

    // ── PII-style redaction (mask digit runs, count replacements) ───
    "text_redact" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        docs(s, dir).select(
          $"doc_id",
          size(expr("regexp_extract_all(text, '[0-9]+')")).as("n_num_spans"),
          substring(regexp_replace($"text", "[0-9]+", "<NUM>"), 1, 80)
            .as("redacted_prefix"),
          (size(expr("regexp_extract_all(text, '[0-9]+')")) > 0)
            .as("was_redacted"))
          .orderBy($"doc_id")
      },
      oracle = Some("""
        SELECT doc_id,
               len(regexp_extract_all(text, '[0-9]+')) AS n_num_spans,
               substr(regexp_replace(text, '[0-9]+', '<NUM>', 'g'), 1, 80)
                 AS redacted_prefix,
               len(regexp_extract_all(text, '[0-9]+')) > 0 AS was_redacted
        FROM documents ORDER BY doc_id"""),
      desc = "redaction: global regexp_replace masking + span counts"),

    // ── deterministic train/valid/test assignment ───────────────────
    // Hash-based splitting (md5 of the id — stable across runs,
    // engines, and cluster sizes; the only correct way to split at
    // 100 TB where row order is undefined).
    "text_split_assign" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        val h = expr(
          "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 2), 16, 10) AS BIGINT) % 10")
        docs(s, dir)
          .withColumn("split",
            when(h < 8, "train").when(h < 9, "valid").otherwise("test"))
          .groupBy($"split", $"lang")
          .agg(count(lit(1)).as("n"),
               sum($"n_chars").as("sum_chars"))
          .orderBy($"split", $"lang")
      },
      oracle = Some("""
        WITH a AS (
          SELECT *,
            ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2))::BIGINT % 10
              AS h
          FROM documents)
        SELECT CASE WHEN h < 8 THEN 'train'
                    WHEN h < 9 THEN 'valid'
                    ELSE 'test' END AS split,
               lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        FROM a GROUP BY 1, 2 ORDER BY 1, 2"""),
      desc = "deterministic hash-based train/valid/test split"),

    // ── deterministic training-shard assignment ─────────────────────
    // The export last mile: docs in deterministic md5-shuffled order,
    // cut into 8 contiguous runs of ≈equal token count. The Spark side
    // computes the global cumulative sum two-level (order-aligned hash
    // buckets + broadcast prefix frames — no single-partition window);
    // the oracle states the same semantics as one global window.
    "text_shard_assign" -> Q(
      fn = (s, dir) =>
        // the public API IS the implementation — the driver's oracle
        // check verifies Corpus.shardAssign directly.
        Corpus.shardAssign(docs(s, dir), nShards = 8)
          .orderBy(col("shard_id"), col("shard_rank")),
      oracle = Some("""
        WITH sa_base AS (
          SELECT doc_id,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok,
                 ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 14))::BIGINT
                   AS h
          FROM documents),
        sa_tot AS (SELECT CAST(sum(ntok) AS BIGINT) AS total FROM sa_base),
        sa_cum AS (
          SELECT doc_id, ntok, h,
            CAST(COALESCE(sum(ntok) OVER (ORDER BY h, doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS cum_excl
          FROM sa_base),
        sa_sh AS (
          SELECT doc_id, ntok, h,
            CAST(least(cum_excl // greatest((total + 7) // 8, 1), 7)
              AS INT) AS shard_id
          FROM sa_cum, sa_tot)
        SELECT doc_id, ntok, shard_id,
               row_number() OVER (PARTITION BY shard_id
                 ORDER BY h, doc_id) AS shard_rank
        FROM sa_sh ORDER BY shard_id, shard_rank"""),
      desc = "token-balanced deterministic shard assignment (export last mile)"),

    // ── content-addressed release manifest per shard ────────────────
    // The provenance artifact a reproducible release ships next to
    // its shards: per shard, counts + an ORDER-INDEPENDENT content
    // digest (sum and xor of the 56-bit per-doc text hashes — both
    // commutative/associative, so the manifest is invariant to
    // partition and write order, exactly what a distributed rewriter
    // needs; xor catches substitutions sum can cancel, sum catches
    // xor's even-multiplicity blindness). Re-running the manifest on
    // a re-exported corpus and diffing IS the integrity check — one
    // scan, map-side-combined agg, no shuffle beyond 8 groups.
    "corpus_manifest" -> Q(
      fn = (s, dir) =>
        // the public API IS the implementation (ScaleProbe rides it).
        // sum_hash reduces each hash mod 2^31 BEFORE summing: a raw
        // 56-bit sum overflows a long past ~128 docs/shard (the probe
        // caught it at sf0.1 - ANSI mode throws, it does not wrap)
        Corpus.shardManifest(docs(s, dir), nShards = 8)
          .orderBy(col("shard_id")),
      oracle = Some("""
        WITH mn_base AS (
          SELECT doc_id,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok,
                 ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 14))::BIGINT
                   AS h,
                 ('0x' || substr(md5(text), 1, 14))::BIGINT AS th
          FROM documents),
        mn_tot AS (SELECT CAST(sum(ntok) AS BIGINT) AS total FROM mn_base),
        mn_cum AS (
          SELECT doc_id, ntok, h, th,
            CAST(COALESCE(sum(ntok) OVER (ORDER BY h, doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS cum_excl
          FROM mn_base),
        mn_sh AS (
          SELECT doc_id, ntok, th,
            CAST(least(cum_excl // greatest((total + 7) // 8, 1), 7)
              AS INT) AS shard_id
          FROM mn_cum, mn_tot)
        SELECT shard_id, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(ntok) AS BIGINT) AS n_tokens,
               CAST(sum(th % 2147483648) AS BIGINT) AS sum_hash,
               CAST(bit_xor(th) AS BIGINT) AS xor_hash
        FROM mn_sh GROUP BY shard_id ORDER BY shard_id"""),
      desc = "content-addressed shard manifest: order-independent sum+xor digests per shard"),

    // ── deterministic epoch shuffle (training-order generation) ─────
    // The order a training run reads the corpus in: per epoch a fresh
    // md5-keyed permutation, sharded so the shuffle is fully parallel
    // (shard = hash % S; position = rank WITHIN the shard — never a
    // global row_number: at 100 TB global order is an anti-pattern,
    // and the (shard, pos) pair IS the reproducible read address).
    // Two epochs emitted so the oracle pins that epochs genuinely
    // reorder (seeded by the epoch in the hash input).
    "sample_shuffle" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        docs(s, dir)
          .select($"doc_id", explode(expr("sequence(0, 1)")).as("epoch"))
          .withColumn("h", expr(
            "md5_prefix_long(concat(CAST(epoch AS STRING), ':', " +
              "CAST(doc_id AS STRING)), 14)"))
          .withColumn("shard", pmod($"h", lit(8L)))
          .withColumn("pos", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy($"epoch", $"shard").orderBy($"h", $"doc_id"))
            .cast("long"))
          .select($"epoch".cast("long").as("epoch"), $"doc_id",
            $"shard", $"pos")
          .orderBy($"epoch", $"shard", $"pos")
      },
      oracle = Some("""
        WITH sf_b AS (
          SELECT doc_id, e.epoch,
                 ('0x' || substr(md5(CAST(e.epoch AS VARCHAR) || ':' ||
                   CAST(doc_id AS VARCHAR)), 1, 14))::BIGINT AS h
          FROM documents, (SELECT unnest(generate_series(0, 1)) AS epoch) e)
        SELECT CAST(epoch AS BIGINT) AS epoch, doc_id, h % 8 AS shard,
               row_number() OVER (PARTITION BY epoch, h % 8
                 ORDER BY h, doc_id) AS pos
        FROM sf_b ORDER BY epoch, shard, pos"""),
      desc = "deterministic epoch shuffle: per-epoch md5 permutation addressed as (shard, pos)"),

    // ── deterministic sequence packing (training-example framing) ───
    // After sharding, a training run consumes fixed-length token
    // sequences: concatenate the md5-shuffled doc stream, cut every
    // 2048 tokens, assign each doc to the sequence holding its start
    // offset. Per-sequence: docs started, their token mass, and the
    // tokens spilling past the cut into the next sequence. Same
    // two-level cumsum as text_shard_assign — no global window.
    "pack_sequences" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        // the public API IS the implementation — the driver's oracle
        // check verifies Corpus.packSequences directly.
        Corpus.packSequences(docs(s, dir), seqTokens = 2048L)
          .groupBy($"seq_id")
          .agg(count(lit(1)).as("n_docs"),
               sum($"ntok").as("seq_tokens"),
               greatest(max($"seq_off" + $"ntok") - lit(2048L), lit(0L))
                 .as("spill"))
          .orderBy($"seq_id")
      },
      oracle = Some("""
        WITH ps_base AS (
          SELECT doc_id,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok,
                 ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 14))::BIGINT
                   AS h
          FROM documents),
        ps_cum AS (
          SELECT doc_id, ntok,
            CAST(COALESCE(sum(ntok) OVER (ORDER BY h, doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS cum_excl
          FROM ps_base),
        ps_seq AS (
          SELECT doc_id, ntok, cum_excl // 2048 AS seq_id,
                 cum_excl - (cum_excl // 2048) * 2048 AS seq_off
          FROM ps_cum)
        SELECT seq_id, count(*) AS n_docs,
               CAST(sum(ntok) AS BIGINT) AS seq_tokens,
               CAST(greatest(max(seq_off + ntok) - 2048, 0) AS BIGINT)
                 AS spill
        FROM ps_seq GROUP BY seq_id ORDER BY seq_id"""),
      desc = "fixed-token-budget sequence packing over the shuffled stream"),

    // ── length-bucketed batch assembly (dynamic batching) ───────────
    // The other batching discipline beside pack_sequences'
    // concatenation: pad to the next multiple of 32, batch equal
    // padded lengths at 4096 tokens per batch, and report the
    // padding waste per batch — the number a training team watches
    // to pick between padding and packing. Deterministic two-level
    // rank (Corpus.batchAssign); the oracle replays the flat
    // (h, doc_id) order with a single window.
    "pack_batches" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        Corpus.batchAssign(docs(s, dir), maxBatchTokens = 4096L,
            padMultiple = 32L)
          .groupBy($"bucket_len", $"batch_id")
          .agg(count(lit(1)).as("n_seqs"), sum($"ntok").as("sum_tokens"))
          .withColumn("padded_tokens", $"n_seqs" * $"bucket_len")
          .withColumn("pad_ppm", expr(
            "(padded_tokens - sum_tokens) * 1000000L div padded_tokens"))
          .orderBy($"bucket_len", $"batch_id")
      },
      oracle = Some("""
        WITH pb_b AS (
          SELECT doc_id,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok,
                 least(((CAST(len(string_split(text, ' ')) AS BIGINT)
                     + 31) // 32) * 32, 4096) AS bucket_len,
                 ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 14))
                   ::BIGINT AS h
          FROM documents),
        pb_r AS (
          SELECT *, row_number() OVER (PARTITION BY bucket_len
                   ORDER BY h, doc_id) AS rn,
                 4096 // bucket_len AS per_batch
          FROM pb_b),
        pb_a AS (
          SELECT bucket_len, (rn - 1) // per_batch AS batch_id,
                 ntok
          FROM pb_r)
        SELECT bucket_len, batch_id,
               count(*) AS n_seqs,
               CAST(sum(ntok) AS BIGINT) AS sum_tokens,
               count(*) * bucket_len AS padded_tokens,
               (count(*) * bucket_len - CAST(sum(ntok) AS BIGINT))
                 * 1000000 // (count(*) * bucket_len) AS pad_ppm
        FROM pb_a GROUP BY bucket_len, batch_id
        ORDER BY bucket_len, batch_id"""),
      desc = "length-bucketed batch assembly with per-batch padding waste"),

    // ── stratified sampling (per-stratum rates, hash-deterministic) ─
    // Corpus balancing: sample each (lang) stratum at its own rate via
    // the md5-of-id rule — the only reproducible sample at 100 TB
    // where row order and partitioning are undefined. Rates: en 30%,
    // everything else 10%. The hash draws 8 hex chars (32 bits) so the
    // % 100 residue bias is ~2e-8 — a 2-hex draw would deliver 11.7%
    // on a requested 10% (same rule as Corpus.stratifiedSample).
    "sample_stratified" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        val h = expr(
          "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT) % 100")
        docs(s, dir)
          .withColumn("h", h)
          .withColumn("rate",
            when($"lang" === "en", lit(30L)).otherwise(lit(10L)))
          .filter($"h" < $"rate")
          .select($"doc_id", $"lang", $"source", $"h", $"rate")
          .orderBy($"doc_id")
      },
      oracle = Some("""
        WITH a AS (
          SELECT doc_id, lang, source,
            ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100
              AS h,
            CASE WHEN lang = 'en' THEN 30 ELSE 10 END AS rate
          FROM documents)
        SELECT doc_id, lang, source, h, CAST(rate AS BIGINT) AS rate
        FROM a WHERE h < rate ORDER BY doc_id"""),
      desc = "deterministic stratified sampling (per-stratum hash rates)"),

    // ── temperature mixture resampling (UniMax / mT5 τ=2 shape) ─────
    // Corpus rebalancing with DATA-DERIVED rates: per-lang weights ∝
    // sqrt(count) flatten the mixture (en is ~44% of raw docs, less
    // after flattening), targets are integer-exact, and the keep rule
    // is the same reproducible md5 draw as sample_stratified. One
    // bounded agg + broadcast join + scan-parallel filter.
    "sample_temperature" -> Q(
      fn = (s, dir) =>
        // the public API IS the implementation — the driver's oracle
        // check verifies Corpus.temperatureSample directly.
        Corpus.temperatureSample(docs(s, dir), col("lang"),
            targetTotal = 300L)
          .orderBy(col("doc_id")),
      oracle = Some("""
        WITH ts_c AS (
          SELECT lang AS stratum, count(*) AS c_stratum,
                 CAST(floor(sqrt(count(*) * 1000000.0)) AS BIGINT) AS weight
          FROM documents GROUP BY 1),
        ts_w AS (
          SELECT *, CAST(sum(weight) OVER () AS BIGINT) AS w_total FROM ts_c),
        ts_t AS (
          SELECT stratum, c_stratum, weight,
                 least(c_stratum, (300 * weight) // w_total) AS target
          FROM ts_w)
        SELECT d.doc_id, t.stratum, t.c_stratum, t.weight, t.target,
               ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
                 AS h32
        FROM documents d JOIN ts_t t ON d.lang = t.stratum
        WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
                * t.c_stratum
              < t.target * 4294967296
        ORDER BY d.doc_id"""),
      desc = "temperature-flattened mixture resampling (sqrt weights)"),

    // ── curriculum ordering (easy-to-hard loader schedule) ──────────
    // Deterministic curriculum layout: exact-quartile difficulty
    // phases (histogram-first thresholds — the only unpartitioned
    // window runs over the bounded distinct-difficulty domain,
    // PlanAuditSpec allowlist beside dq_drift) and a sharded
    // md5-prefix shuffle within each phase, so a loader reads phases
    // in order and shards round-robin. Difficulty here = token count
    // (the standard length-curriculum baseline); any integer score
    // column plugs in.
    "sample_curriculum" -> Q(
      fn = (s, dir) =>
        // the public API IS the implementation — the driver's oracle
        // check verifies Corpus.curriculumOrder directly.
        Corpus.curriculumOrder(docs(s, dir),
            size(split(col("text"), " ")).cast("long"), nShards = 8)
          .orderBy(col("phase"), col("shard"), col("ord")),
      oracle = Some("""
        WITH cu_l AS (
          SELECT doc_id,
                 CAST(len(string_split(text, ' ')) AS BIGINT)
                   AS difficulty
          FROM documents),
        cu_h AS (SELECT difficulty, CAST(count(*) AS BIGINT) AS cnt
                 FROM cu_l GROUP BY 1),
        cu_c AS (SELECT difficulty,
                        CAST(sum(cnt) OVER (ORDER BY difficulty
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS BIGINT) AS cum
                 FROM cu_h),
        cu_n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM cu_l),
        cu_t AS (SELECT min(CASE WHEN cum * 4 >= n THEN difficulty END)
                          AS q1,
                        min(CASE WHEN cum * 2 >= n THEN difficulty END)
                          AS q2,
                        min(CASE WHEN cum * 4 >= n * 3
                            THEN difficulty END) AS q3
                 FROM cu_c CROSS JOIN cu_n),
        cu_p AS (
          SELECT l.doc_id, l.difficulty,
                 CAST(1 + (l.difficulty > t.q1)::INT
                      + (l.difficulty > t.q2)::INT
                      + (l.difficulty > t.q3)::INT AS BIGINT) AS phase,
                 ('0x' || substr(md5(CAST(l.doc_id AS VARCHAR)), 1, 14))
                   ::BIGINT AS h
          FROM cu_l l CROSS JOIN cu_t t)
        SELECT doc_id, difficulty, phase, h % 8 AS shard,
               CAST(row_number() OVER (PARTITION BY phase, h % 8
                    ORDER BY h, doc_id) AS BIGINT) AS ord
        FROM cu_p ORDER BY phase, shard, ord"""),
      desc = "curriculum phases by exact difficulty quartiles, sharded in-phase shuffle"),

    // ── declared-weight mixture sampling with repetition (epochs) ───
    // The training-mix step: per-lang target weights + a token budget
    // → per-stratum sampling ratios that may EXCEED 1 (small
    // high-quality strata repeat for multiple epochs — the Pile /
    // LLaMA corpus-weighting shape), integer ppm arithmetic and the
    // same md5 draw for the fractional epoch. One bounded agg + a
    // broadcast plan frame + a scan-parallel filter.
    "sample_mixture" -> Q(
      fn = (s, dir) =>
        // the public API IS the implementation — the driver's oracle
        // check verifies Corpus.mixtureSample directly.
        Corpus.mixtureSample(docs(s, dir), col("lang"), col("n_chars"),
            weightsPpm = Map("en" -> 400000L, "zh" -> 250000L,
              "de" -> 150000L, "fr" -> 120000L, "es" -> 80000L),
            budgetTokens = 120000L)
          .orderBy(col("doc_id")),
      oracle = Some("""
        WITH mxa AS (
          SELECT lang AS stratum,
                 CAST(sum(n_chars) AS BIGINT) AS avail_tokens,
                 CAST(CASE lang WHEN 'en' THEN 400000
                                WHEN 'zh' THEN 250000
                                WHEN 'de' THEN 150000
                                WHEN 'fr' THEN 120000
                                WHEN 'es' THEN 80000
                                ELSE 0 END AS BIGINT) AS weight_ppm
          FROM documents GROUP BY 1),
        mxp AS (
          SELECT stratum, avail_tokens,
                 (weight_ppm * 120000) // 1000000 AS target_tokens,
                 (((weight_ppm * 120000) // 1000000) * 1000000)
                   // avail_tokens AS ratio_ppm
          FROM mxa WHERE weight_ppm > 0 AND avail_tokens > 0),
        mxd AS (
          SELECT d.doc_id, p.stratum, d.n_chars AS doc_tokens,
                 p.avail_tokens, p.target_tokens, p.ratio_ppm,
                 ratio_ppm // 1000000
                 + CASE WHEN ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)),
                                1, 8))::BIGINT * 1000000
                             < (p.ratio_ppm % 1000000) * 4294967296
                        THEN 1 ELSE 0 END AS n_repeats
          FROM documents d JOIN mxp p ON d.lang = p.stratum)
        SELECT doc_id, stratum, doc_tokens, avail_tokens, target_tokens,
               ratio_ppm, CAST(n_repeats AS BIGINT) AS n_repeats
        FROM mxd WHERE n_repeats > 0 ORDER BY doc_id"""),
      desc = "declared-weight mixture sampling with epoch repetition"),

    // ── span-corruption masking plan (T5/UL2 denoising prep) ────────
    // Corpus.spanMaskPlan: deterministic md5 span starts (1-in-20 per
    // position), 3-token spans, overlap merge via a sliding-window
    // max + gaps-and-islands run ids — the per-doc accounting
    // (masked tokens, sentinel count, realized ratio) an exporter
    // needs before writing sentinel-packed examples. Both windows
    // partition by doc; exact integer ppm.
    "text_span_mask" -> Q(
      fn = (s, dir) =>
        // the public API IS the implementation — the driver's oracle
        // check verifies Corpus.spanMaskPlan directly.
        Corpus.spanMaskPlan(docs(s, dir), rateDen = 20L, spanLen = 3)
          .orderBy(col("doc_id")),
      oracle = Some("""
        WITH sm_t AS (
          SELECT doc_id, CAST(i AS BIGINT) AS pos,
                 ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
                   CAST(i AS VARCHAR)), 1, 8))::BIGINT % 20 = 0 AS start
          FROM (SELECT doc_id, string_split(text, ' ') AS toks
                FROM documents),
               unnest(range(1, len(toks) + 1)) AS t(i)),
        sm_m AS (
          SELECT doc_id, pos, start,
                 max(CASE WHEN start THEN 1 ELSE 0 END) OVER (
                   PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) = 1 AS m
          FROM sm_t),
        sm_r AS (
          SELECT doc_id, pos - row_number() OVER (
            PARTITION BY doc_id ORDER BY pos) AS grp
          FROM sm_m WHERE m),
        sm_s AS (
          SELECT doc_id, CAST(count(DISTINCT grp) AS BIGINT) AS n_spans
          FROM sm_r GROUP BY 1),
        sm_a AS (
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
                 CAST(sum(CASE WHEN start THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_starts,
                 CAST(sum(CASE WHEN m THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_masked
          FROM sm_m GROUP BY 1)
        SELECT a.doc_id, a.n_tokens, a.n_starts, a.n_masked,
               CAST(COALESCE(s.n_spans, 0) AS BIGINT) AS n_spans,
               a.n_masked * 1000000 // a.n_tokens AS masked_ppm
        FROM sm_a a LEFT JOIN sm_s s ON s.doc_id = a.doc_id
        ORDER BY a.doc_id"""),
      desc = "span-corruption plan: deterministic starts, merged spans, realized ratio"),

    // ── token-weighted systematic (PPS) sampling ────────────────────
    // Madow's method: per source, docs laid out in a reproducible
    // md5-shuffled order, cut at every multiple of total_toks div k —
    // inclusion probability proportional to size, EXACTLY min(k,
    // boundaries) picks per stratum, zero variance in sampled token
    // volume (the properties Bernoulli sampling can't give). The
    // Spark side runs the two-level 256-band cumsum (no window
    // partition holds a whole stratum); the oracle is the
    // definitional single-window form.
    "sample_systematic" -> Q(
      fn = (s, dir) =>
        // the public API IS the implementation — the driver's oracle
        // check verifies Corpus.systematicSample directly.
        Corpus.systematicSample(docs(s, dir), col("source"), k = 25)
          .orderBy(col("stratum"), col("pick_idx")),
      oracle = Some("""
        WITH sy_b AS (
          SELECT doc_id, source AS stratum,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
                 ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                   ::BIGINT AS h
          FROM documents),
        sy_t AS (
          SELECT stratum, CAST(sum(toks) AS BIGINT) AS tot
          FROM sy_b GROUP BY 1),
        sy_c AS (
          SELECT b.doc_id, b.stratum, b.toks,
                 CAST(sum(b.toks) OVER (PARTITION BY b.stratum
                   ORDER BY b.h, b.doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum_toks,
                 greatest(t.tot // 25, 1) AS step
          FROM sy_b b JOIN sy_t t USING (stratum))
        SELECT doc_id, stratum, toks, cum_toks,
               CAST((cum_toks - toks) // step + 1 AS BIGINT) AS pick_idx,
               CAST(least(cum_toks // step, 25)
                    - (cum_toks - toks) // step AS BIGINT) AS n_hits
        FROM sy_c
        WHERE least(cum_toks // step, 25) - (cum_toks - toks) // step > 0
          AND (cum_toks - toks) // step < 25
        ORDER BY stratum, pick_idx"""),
      desc = "systematic PPS sampling: token-proportional picks, exact count per stratum"),

    // ── priority sampling (weighted, unbiased subset sums) ──────────
    // Duffield-Lund-Thorup: top-k by q = w·2^32 div (h+1), threshold
    // τ = the (k+1)-th priority, estimator max(w, τ). Scale notes on
    // Corpus.prioritySample (TakeOrderedAndProject; the only window
    // runs over the bounded k+1 frame).
    "sample_priority" -> Q(
      fn = (s, dir) =>
        // the public API IS the implementation — the driver's oracle
        // check verifies Corpus.prioritySample directly.
        Corpus.prioritySample(docs(s, dir), k = 64)
          .orderBy(col("doc_id")),
      oracle = Some("""
        WITH pr_b AS (
          SELECT doc_id,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS w,
                 ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                   ::BIGINT AS h
          FROM documents),
        pr_q AS (
          SELECT doc_id, w, w * 4294967296 // (h + 1) AS q FROM pr_b),
        pr_r AS (
          SELECT doc_id, w, q,
                 row_number() OVER (ORDER BY q DESC, doc_id) AS rk
          FROM pr_q),
        pr_t AS (SELECT q AS tau FROM pr_r WHERE rk = 65)
        SELECT r.doc_id, r.w, r.q, greatest(r.w, t.tau) AS w_est
        FROM pr_r r CROSS JOIN pr_t t
        WHERE r.rk <= 64
        ORDER BY r.doc_id"""),
      desc = "priority sampling: k weighted picks with the max(w, tau) unbiased estimator"),

    // ── per-stratum priority sampling ────────────────────────────────
    // The grouped member: k picks + threshold estimator within each
    // source; small strata keep everything at w_est = w (the exact
    // estimator). Scale notes on Corpus.prioritySampleStratified.
    "sample_priority_strat" -> Q(
      fn = (s, dir) =>
        // the public API IS the implementation — the driver's oracle
        // check verifies Corpus.prioritySampleStratified directly.
        Corpus.prioritySampleStratified(docs(s, dir), col("source"),
            k = 16)
          .orderBy(col("stratum"), col("doc_id")),
      oracle = Some("""
        WITH ps_b AS (
          SELECT doc_id, source AS stratum,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS w,
                 ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                   ::BIGINT AS h
          FROM documents),
        ps_q AS (
          SELECT doc_id, stratum, w, w * 4294967296 // (h + 1) AS q
          FROM ps_b),
        ps_r AS (
          SELECT doc_id, stratum, w, q,
                 row_number() OVER (PARTITION BY stratum
                   ORDER BY q DESC, doc_id) AS rk
          FROM ps_q),
        ps_t AS (
          SELECT stratum, q AS tau FROM ps_r WHERE rk = 17)
        SELECT r.stratum, r.doc_id, r.w, r.q,
               greatest(r.w, COALESCE(t.tau, 0)) AS w_est
        FROM ps_r r LEFT JOIN ps_t t ON t.stratum = r.stratum
        WHERE r.rk <= 16
        ORDER BY r.stratum, r.doc_id"""),
      desc = "per-stratum priority sampling: partitioned rank, per-group threshold estimator"),

    // ── TextRank extractive summarization ────────────────────────────
    // Weighted PageRank over the per-doc sentence-similarity graph
    // (12-token pseudo-sentences; scale notes on Corpus.textrank).
    // The oracle unrolls the 2 damped ppm update rounds as CTEs, the
    // graph_pagerank pattern.
    "text_textrank" -> Q(
      fn = (s, dir) =>
        // the public API IS the implementation — the driver's oracle
        // check verifies Corpus.textrank directly.
        Corpus.textrank(docs(s, dir), sentLen = 12, topK = 2, rounds = 2)
          .orderBy(col("doc_id"), col("rk")),
      oracle = Some("""
        WITH tr_t AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
                 unnest(range(0, len(string_split(text, ' ')))) AS pos
          FROM documents),
        tr_w AS (
          SELECT DISTINCT doc_id, CAST(pos // 12 AS BIGINT) AS si, tok
          FROM tr_t
          WHERE tok NOT IN ('the', 'a', 'of', 'and', 'to')),
        tr_n AS (
          SELECT doc_id, si, CAST(count(*) AS BIGINT) AS nw
          FROM tr_w GROUP BY 1, 2),
        tr_p AS (
          SELECT x.doc_id, x.si AS si, y.si AS sj,
                 CAST(count(*) AS BIGINT) AS shared
          FROM tr_w x
          JOIN tr_w y ON x.doc_id = y.doc_id AND x.tok = y.tok
                     AND x.si < y.si
          GROUP BY 1, 2, 3 HAVING count(*) >= 2),
        tr_g AS (
          SELECT p.doc_id, p.si, p.sj,
                 p.shared * 1000000 // (ni.nw + nj.nw) AS w
          FROM tr_p p
          JOIN tr_n ni ON ni.doc_id = p.doc_id AND ni.si = p.si
          JOIN tr_n nj ON nj.doc_id = p.doc_id AND nj.si = p.sj),
        tr_e AS (
          SELECT doc_id, si AS src, sj AS dst, w FROM tr_g
          UNION ALL
          SELECT doc_id, sj AS src, si AS dst, w FROM tr_g),
        tr_d AS (
          SELECT doc_id, src, CAST(sum(w) AS BIGINT) AS wdeg
          FROM tr_e GROUP BY 1, 2),
        tr_r0 AS (
          SELECT doc_id, si AS node, CAST(1000000 AS BIGINT) AS score
          FROM tr_n),
        tr_c1 AS (
          SELECT e.doc_id, e.dst AS node,
                 CAST(sum(r.score * e.w // d.wdeg) AS BIGINT) AS contrib
          FROM tr_e e
          JOIN tr_r0 r ON r.doc_id = e.doc_id AND r.node = e.src
          JOIN tr_d d ON d.doc_id = e.doc_id AND d.src = e.src
          GROUP BY 1, 2),
        tr_r1 AS (
          SELECT r.doc_id, r.node,
                 150000 + 85 * COALESCE(c.contrib, 0) // 100 AS score
          FROM tr_r0 r
          LEFT JOIN tr_c1 c ON c.doc_id = r.doc_id AND c.node = r.node),
        tr_c2 AS (
          SELECT e.doc_id, e.dst AS node,
                 CAST(sum(r.score * e.w // d.wdeg) AS BIGINT) AS contrib
          FROM tr_e e
          JOIN tr_r1 r ON r.doc_id = e.doc_id AND r.node = e.src
          JOIN tr_d d ON d.doc_id = e.doc_id AND d.src = e.src
          GROUP BY 1, 2),
        tr_r2 AS (
          SELECT r.doc_id, r.node,
                 150000 + 85 * COALESCE(c.contrib, 0) // 100 AS score
          FROM tr_r1 r
          LEFT JOIN tr_c2 c ON c.doc_id = r.doc_id AND c.node = r.node),
        tr_k AS (
          SELECT doc_id, node AS sent_idx, score AS score_ppm,
                 row_number() OVER (PARTITION BY doc_id
                   ORDER BY score DESC, node) AS rk
          FROM tr_r2)
        SELECT doc_id, sent_idx, score_ppm, rk
        FROM tr_k WHERE rk <= 2
        ORDER BY doc_id, rk"""),
      desc = "TextRank summarization: weighted ppm PageRank over per-doc sentence graphs"),

    // ── content-defined chunking + cross-doc passage dedup ──────────
    // Rolling-hash boundaries (1-in-16 residue over the last 3
    // tokens) make chunk edges edit-stable where text_chunk's fixed
    // windows are not; the chunk sha turns duplicated passages into
    // an exact group-by. Scale notes on Corpus.cdcChunks.
    "text_cdc_chunks" -> Q(
      fn = (s, dir) =>
        // the public API IS the implementation — the driver's oracle
        // check verifies Corpus.cdcChunks directly.
        Corpus.cdcChunks(docs(s, dir))
          .orderBy(col("doc_id"), col("chunk_idx")),
      oracle = Some("""
        WITH cd_t AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
                 unnest(range(0, len(string_split(text, ' ')))) AS pos
          FROM documents),
        cd_l AS (
          SELECT doc_id, pos, tok,
                 lag(tok, 1) OVER (PARTITION BY doc_id ORDER BY pos)
                   AS t1,
                 lag(tok, 2) OVER (PARTITION BY doc_id ORDER BY pos)
                   AS t2
          FROM cd_t),
        cd_m AS (
          SELECT doc_id, pos, tok,
                 CASE WHEN pos >= 2 AND
                   ('0x' || substr(md5(concat_ws(' ', t2, t1, tok)),
                     1, 8))::BIGINT % 16 = 0
                 THEN 1 ELSE 0 END AS m
          FROM cd_l),
        cd_c AS (
          SELECT doc_id, pos, tok,
                 COALESCE(CAST(sum(m) OVER (PARTITION BY doc_id
                   ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING
                   AND 1 PRECEDING) AS BIGINT), 0) AS chunk_idx
          FROM cd_m),
        cd_k AS (
          SELECT doc_id, chunk_idx,
                 CAST(min(pos) AS BIGINT) AS start_pos,
                 CAST(count(*) AS BIGINT) AS n_toks,
                 sha256(string_agg(tok, ' ' ORDER BY pos)) AS chunk_sha
          FROM cd_c GROUP BY 1, 2),
        cd_s AS (
          SELECT chunk_sha,
                 CAST(count(DISTINCT doc_id) AS BIGINT)
                   AS n_docs_sharing
          FROM cd_k GROUP BY 1)
        SELECT k.doc_id, k.chunk_idx, k.start_pos, k.n_toks,
               k.chunk_sha, s.n_docs_sharing
        FROM cd_k k JOIN cd_s s USING (chunk_sha)
        ORDER BY k.doc_id, k.chunk_idx"""),
      desc = "content-defined chunking: edit-stable rolling-hash boundaries + passage dedup"),

    // ── the hashing trick (feature hashing) ──────────────────────────
    // Weinberger et al., ICML 2009: token features hash into a fixed
    // 1024-bucket space with a ±1 sign bit from an independent hash
    // slice, so collisions cancel in expectation and the featurizer
    // needs NO vocabulary pass — the property that makes it the
    // out-of-core text featurizer (vs text_tfidf's dictionary).
    // Pure scan-shape: one md5 per token occurrence, one (doc,
    // bucket) combine; no joins, no state, trivially 100 TB.
    "f_feature_hash" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        docs(s, dir)
          .filter($"doc_id" < 60)
          .select($"doc_id", explode(split($"text", " ")).as("tok"))
          .withColumn("h", expr("CAST(conv(substring(md5(tok), 1, 8), " +
            "16, 10) AS BIGINT)"))
          .withColumn("bucket", expr("h % 1024"))
          .withColumn("sgn", expr("(h div 1024) % 2 * 2 - 1"))
          .groupBy($"doc_id", $"bucket")
          .agg(sum($"sgn").as("feat"), count(lit(1)).as("n_toks"))
          .filter($"feat" =!= 0L)
          .orderBy($"doc_id", $"bucket")
      },
      oracle = Some("""
        WITH fh_t AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS tok
          FROM documents WHERE doc_id < 60),
        fh_h AS (
          SELECT doc_id,
                 ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h
          FROM fh_t)
        SELECT doc_id, h % 1024 AS bucket,
               CAST(sum((h // 1024) % 2 * 2 - 1) AS BIGINT) AS feat,
               CAST(count(*) AS BIGINT) AS n_toks
        FROM fh_h
        GROUP BY 1, 2 HAVING sum((h // 1024) % 2 * 2 - 1) <> 0
        ORDER BY doc_id, bucket"""),
      desc = "hashing-trick featurizer: 1024 signed buckets, no vocabulary pass"),

    // ── corpus-adaptive stopword discovery ───────────────────────────
    // The fixed English stopword lists the quality/RAKE/canonical
    // operators take as parameters fail on new domains/languages; at
    // 100 TB the list is DISCOVERED: a token is stopword-like when it
    // appears in a large fraction of documents (df ratio) AND repeats
    // within them (mean tf). One distinct-pair agg + one vocabulary
    // agg, output bounded by the candidate threshold. The discovered
    // flags feed the stopwords parameter of qualityFilter/keyphrases/
    // textrank directly.
    "text_stopword_discover" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        val toks = docs(s, dir)
          .select($"doc_id", explode(split($"text", " ")).as("tok"))
        val nDocs = docs(s, dir).agg(count(lit(1)).as("n_docs"))
        toks.groupBy($"tok", $"doc_id").agg(count(lit(1)).as("tf"))
          .groupBy($"tok")
          .agg(count(lit(1)).as("df"), sum($"tf").as("total_tf"))
          .crossJoin(broadcast(nDocs))
          .withColumn("df_ppm", expr("df * 1000000 div n_docs"))
          .withColumn("mean_tf_x100", expr("total_tf * 100 div df"))
          .filter($"df_ppm" >= 100000L)
          .withColumn("is_stopword",
            $"df_ppm" >= 400000L && $"mean_tf_x100" >= 150L)
          .select($"tok", $"df", $"total_tf", $"df_ppm",
            $"mean_tf_x100", $"is_stopword")
          .orderBy($"df".desc, $"tok")
      },
      oracle = Some("""
        WITH sw_t AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS tok
          FROM documents),
        sw_d AS (
          SELECT tok, doc_id, CAST(count(*) AS BIGINT) AS tf
          FROM sw_t GROUP BY 1, 2),
        sw_v AS (
          SELECT tok, CAST(count(*) AS BIGINT) AS df,
                 CAST(sum(tf) AS BIGINT) AS total_tf
          FROM sw_d GROUP BY 1),
        sw_n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs
                 FROM documents)
        SELECT tok, df, total_tf,
               df * 1000000 // n.n_docs AS df_ppm,
               total_tf * 100 // df AS mean_tf_x100,
               df * 1000000 // n.n_docs >= 400000
                 AND total_tf * 100 // df >= 150 AS is_stopword
        FROM sw_v CROSS JOIN sw_n n
        WHERE df * 1000000 // n.n_docs >= 100000
        ORDER BY df DESC, tok"""),
      desc = "corpus-adaptive stopword discovery: df ratio + within-doc repetition"),

    // ── quality-ranked token-budget selection ───────────────────────
    // The "fill the mix" step between scoring and packing: per
    // source, rank by stopword-ppm quality and take the prefix whose
    // cumulative tokens fit the budget (Corpus.budgetSample — the
    // scale notes and the mega-stratum two-level fallback live
    // there). cum_toks is strictly increasing per stratum, so
    // (stratum, cum_toks) totally orders the output.
    "sample_budget" -> Q(
      fn = (s, dir) =>
        Corpus.budgetSample(docs(s, dir), col("source"), budget = 800L)
          .orderBy(col("stratum"), col("cum_toks")),
      oracle = Some("""
        WITH sb AS (
          SELECT doc_id, source AS stratum,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
                 CAST(len([x FOR x IN string_split(text, ' ')
                           IF x IN ('the', 'a', 'of', 'and', 'to')])
                      AS BIGINT) * 1000000
                   // len(string_split(text, ' ')) AS q_ppm
          FROM documents),
        sc AS (
          SELECT *, CAST(sum(toks) OVER (PARTITION BY stratum
                   ORDER BY q_ppm DESC, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS cum_toks
          FROM sb)
        SELECT doc_id, stratum, toks, q_ppm, cum_toks
        FROM sc WHERE cum_toks <= 800 ORDER BY stratum, cum_toks"""),
      desc = "token-budget selection: best-quality prefix per source"),

    // ── repetition scoring (Gopher-style quality signal) ────────────
    // A document dominated by one repeated token is boilerplate/spam;
    // score = max single-token count / total tokens. Two shuffle-
    // parallel aggregations, no per-doc buffers.
    "text_repetition" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        Corpus.docTokenStats(docs(s, dir))
          .withColumn("repetition_ratio",
            try_divide($"top_tok_count", $"n_tokens"))
          .orderBy($"doc_id")
      },
      oracle = Some("""
        WITH t AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS tok
          FROM documents),
        c AS (SELECT doc_id, tok, count(*) AS c FROM t GROUP BY 1, 2)
        SELECT doc_id,
               CAST(sum(c) AS BIGINT) AS n_tokens,
               CAST(max(c) AS BIGINT) AS top_tok_count,
               CAST(max(c) AS DOUBLE) / CAST(sum(c) AS BIGINT)
                 AS repetition_ratio
        FROM c GROUP BY doc_id ORDER BY doc_id"""),
      desc = "repetition ratio: max token frequency / token count"),

    // ── bigram-LM quality scoring (CCNet-style, integer-exact) ──────
    // The "does this doc look like the rest of the corpus" signal:
    // corpus-wide bigram tf/df, per-doc novelty (bigrams no other doc
    // has) and occurrence-weighted typicality mass. Log-perplexity is
    // a monotone transform of these per-bigram statistics, so the
    // filter RANKING is the same — and unlike ln(), integer sums and
    // one final division hash-match across engines exactly.
    "text_lm_score" -> Q(
      fn = (s, dir) =>
        // the public API IS the implementation — the driver's oracle
        // check verifies Corpus.lmScore directly.
        Corpus.lmScore(docs(s, dir), novelTau = 0.5)
          .orderBy(col("doc_id")),
      oracle = Some("""
        WITH lm_t AS (
          SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        lm_bg AS (
          SELECT doc_id, unnest(list_transform(range(1, len(toks)),
                   i -> toks[i] || ' ' || toks[i + 1])) AS bg
          FROM lm_t WHERE len(toks) >= 2),
        lm_occ AS (
          SELECT doc_id, bg, count(*) AS c FROM lm_bg GROUP BY 1, 2),
        lm_stats AS (
          SELECT bg, CAST(sum(c) AS BIGINT) AS tf, count(*) AS df
          FROM lm_occ GROUP BY bg),
        lm_doc AS (
          SELECT o.doc_id,
                 CAST(sum(o.c) AS BIGINT) AS n_bigrams,
                 CAST(sum(CASE WHEN s.df = 1 THEN o.c ELSE 0 END) AS BIGINT)
                   AS n_novel,
                 CAST(sum(o.c * s.tf) AS BIGINT) AS sum_tf
          FROM lm_occ o JOIN lm_stats s ON s.bg = o.bg
          GROUP BY o.doc_id)
        SELECT t.doc_id,
               COALESCE(d.n_bigrams, CAST(0 AS BIGINT)) AS n_bigrams,
               COALESCE(d.n_novel, CAST(0 AS BIGINT)) AS n_novel,
               COALESCE(d.sum_tf, CAST(0 AS BIGINT)) AS sum_tf,
               CASE WHEN d.n_bigrams > 0
                    THEN CAST(d.n_novel AS DOUBLE) / d.n_bigrams
                    END AS novelty_ratio,
               CASE WHEN d.n_bigrams > 0
                    THEN CAST(d.sum_tf AS DOUBLE) / d.n_bigrams
                    END AS avg_tf,
               COALESCE(CAST(d.n_novel AS DOUBLE) / d.n_bigrams <= 0.5,
                        FALSE) AS keep
        FROM lm_t t LEFT JOIN lm_doc d ON d.doc_id = t.doc_id
        ORDER BY t.doc_id"""),
      desc = "bigram-LM quality score: corpus tf/df, novelty ratio, keep flag"),

    // ── exact n-gram decontamination (train/eval overlap) ───────────
    // The Lee-et-al-style check beside dedup_cross_split's minhash
    // pass: one eval sentence pasted into a train doc barely moves
    // whole-doc Jaccard, but every shared token 5-gram is an exact hit
    // here. Eval side = the hash split's valid+test (h >= 8).
    // ── green-list watermark detection (Kirchenbauer et al. 2023) ───
    // Synthetic-text triage for training corpora: a soft-watermarked
    // generator up-biases tokens whose hash with the PREVIOUS token
    // lands in a pseudorandom "green list"; a detector needs only the
    // hash rule — per doc, count green bigrams among T pairs and test
    // the γ=1/2 null with the exact integer statistic
    // z²·100 = (2g − T)²·100 div T (the SRM/chi-square shape — one
    // df, flag at 3.84 ⇔ |z| > 1.96). Natural text sits near T/2 by
    // construction of the hash, watermarked text deviates; on this
    // corpus everything should read unflagged EXCEPT hash flukes on
    // short docs — the machinery is under test, not the corpus.
    // Stateless per-pair hashing via sequence+element_at (no window,
    // no HOF in the hot path); docs with < 2 tokens carry no pair
    // evidence and are excluded on both engines.
    "text_watermark" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        docs(s, dir)
          .select($"doc_id", split($"text", " ").as("raw"))
          .filter(size($"raw") >= 2)
          .withColumn("i", explode(expr("sequence(1, size(raw) - 1)")))
          // md5_prefix_long ≡ conv(substring(md5)) — one hash per
          // adjacent token pair (r16 opt round)
          .select($"doc_id", (expr("md5_prefix_long(concat(" +
            "element_at(raw, i), ' ', element_at(raw, i + 1)), 8) % 2")
            === 0L).as("green"))
          .groupBy($"doc_id")
          .agg(count(lit(1)).as("n_pairs"),
            sum(when($"green", 1L).otherwise(0L)).as("n_green"))
          .withColumn("z2_x100", expr(
            "(2L * n_green - n_pairs) * (2L * n_green - n_pairs) " +
              "* 100L div n_pairs"))
          .withColumn("flagged", $"z2_x100" > 384L)
          .select($"doc_id", $"n_pairs", $"n_green", $"z2_x100",
            $"flagged")
          .orderBy($"doc_id")
      },
      oracle = Some("""
        WITH wm_tk AS (
          SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        wm_i AS (
          SELECT doc_id, ts, unnest(generate_series(1, len(ts) - 1)) AS i
          FROM wm_tk WHERE len(ts) >= 2),
        wm_p AS (
          SELECT doc_id,
                 ('0x' || substr(md5(ts[i] || ' ' || ts[i+1]), 1, 8))
                   ::BIGINT % 2 = 0 AS green
          FROM wm_i),
        wm_g AS (
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pairs,
                 CAST(sum(CASE WHEN green THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_green
          FROM wm_p GROUP BY doc_id)
        SELECT doc_id, n_pairs, n_green,
               (2 * n_green - n_pairs) * (2 * n_green - n_pairs) * 100
                 // n_pairs AS z2_x100,
               (2 * n_green - n_pairs) * (2 * n_green - n_pairs) * 100
                 // n_pairs > 384 AS flagged
        FROM wm_g ORDER BY doc_id"""),
      desc = "green-list watermark detector: exact integer bigram-hash z-square per doc"),

    // ── novel n-gram rate (the memorization/novelty metric) ─────────
    // The per-doc aggregate the LLM-eval literature reads novelty
    // from (McCoy et al. 2021 "raven" novelty; the inverse of the
    // Lee et al. 2022 dedup signal): for every NEW doc, the fraction
    // of its distinct 3-token shingles absent from the REFERENCE
    // half's shingle inventory. Contamination (pair-level) says
    // "which eval doc did this copy"; novelty says "how much of this
    // doc is new text at all" — the admission-dashboard number.
    // Shingles hash to 56-bit md5 prefixes (collision-free at corpus
    // scale, both engines hash identically); membership is ONE
    // equi-join against the distinct reference inventory (shuffle on
    // the hash — the 100 TB shape; no arrays ship). Left-join null
    // probe = novel.
    "text_novelty" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        // the public API IS the implementation
        Corpus.noveltyRate(docs(s, dir), refMaxId = 250L)
          .orderBy($"doc_id")
      },
      oracle = Some("""
        WITH nv_tk AS (
          SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        nv_i AS (
          SELECT doc_id, ts,
                 unnest(generate_series(1,
                   CASE WHEN len(ts) >= 3 THEN len(ts) - 2 ELSE 1 END))
                   AS i
          FROM nv_tk),
        nv_s AS (
          SELECT DISTINCT doc_id,
                 ('0x' || substr(md5(
                   CASE WHEN len(ts) >= 3
                        THEN ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]
                        ELSE array_to_string(ts, ' ') END), 1, 14))
                   ::BIGINT AS h
          FROM nv_i),
        nv_r AS (
          SELECT DISTINCT h FROM nv_s WHERE doc_id < 250)
        SELECT s.doc_id,
               CAST(count(*) AS BIGINT) AS n_shingles,
               CAST(sum(CASE WHEN r.h IS NULL THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_novel,
               CAST(sum(CASE WHEN r.h IS NULL THEN 1 ELSE 0 END)
                 * 1000000 // count(*) AS BIGINT) AS novelty_ppm
        FROM nv_s s LEFT JOIN nv_r r ON s.h = r.h
        WHERE s.doc_id >= 250
        GROUP BY s.doc_id
        ORDER BY s.doc_id"""),
      desc = "novel n-gram rate: per-doc share of shingles unseen in the reference half"),

    "text_contamination" -> Q(
      fn = (s, dir) => {
        val h = expr(
          "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 2), 16, 10) AS BIGINT) % 10")
        // the public API IS the implementation — the driver's oracle
        // check verifies Corpus.contamination directly.
        Corpus.contamination(docs(s, dir), isEval = h >= 8,
            n = 5, minShared = 3L)
          .orderBy(col("doc_id"))
      },
      oracle = Some("""
        WITH ct_base AS (
          SELECT doc_id,
                 ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2))::BIGINT
                   % 10 >= 8 AS is_eval,
                 string_split(text, ' ') AS toks
          FROM documents),
        ct_g AS (
          SELECT DISTINCT doc_id, is_eval,
            ('0x' || substr(md5(array_to_string(
               list_transform(range(i, i + 5), j -> toks[j]), ' ')),
               1, 14))::BIGINT AS g
          FROM ct_base, unnest(range(1, len(toks) - 5 + 2)) AS t(i)
          WHERE len(toks) >= 5),
        ct_train AS (SELECT DISTINCT g FROM ct_g WHERE NOT is_eval),
        ct_doc AS (
          SELECT e.doc_id, count(*) AS n_grams,
                 CAST(sum(CASE WHEN t.g IS NOT NULL THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_matched
          FROM ct_g e LEFT JOIN ct_train t ON t.g = e.g
          WHERE e.is_eval GROUP BY e.doc_id)
        SELECT b.doc_id,
               COALESCE(d.n_grams, CAST(0 AS BIGINT)) AS n_grams,
               COALESCE(d.n_matched, CAST(0 AS BIGINT)) AS n_matched,
               CASE WHEN d.n_grams > 0
                    THEN CAST(d.n_matched AS DOUBLE) / d.n_grams
                    END AS overlap_ratio,
               COALESCE(d.n_matched, CAST(0 AS BIGINT)) >= 3 AS contaminated
        FROM ct_base b LEFT JOIN ct_doc d ON d.doc_id = b.doc_id
        WHERE b.is_eval
        ORDER BY b.doc_id"""),
      desc = "exact 5-gram decontamination: eval docs probed against train grams"),

    // ── mergeable Bloom membership probe (contamination at scale) ───
    // Corpus.bloomMembership: the train side persists only its set
    // BIT POSITIONS (k=3 md5 hashes per 5-gram into 2^18 bits) — a
    // fixed-size partial merging across shards by set union, never
    // re-scanning the train corpus at probe time. No false negatives
    // by construction; the exact join runs beside it as the
    // self-audit twin and n_false_pos is the measured slack. Same
    // eval split as text_contamination.
    "text_bloom_probe" -> Q(
      fn = (s, dir) => {
        val h = expr(
          "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 2), 16, 10) AS BIGINT) % 10")
        // the public API IS the implementation — the driver's oracle
        // check verifies Corpus.bloomMembership directly.
        Corpus.bloomMembership(docs(s, dir), isEval = h >= 8,
            n = 5, mBits = 262144L, kHash = 3)
          .orderBy(col("doc_id"))
      },
      oracle = Some("""
        WITH bp_base AS (
          SELECT doc_id,
                 ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2))::BIGINT
                   % 10 >= 8 AS is_eval,
                 string_split(text, ' ') AS toks
          FROM documents),
        bp_g AS (
          SELECT DISTINCT doc_id, is_eval,
            array_to_string(
               list_transform(range(i, i + 5), j -> toks[j]), ' ') AS gs
          FROM bp_base, unnest(range(1, len(toks) - 5 + 2)) AS t(i)
          WHERE len(toks) >= 5),
        bp_p AS (
          SELECT doc_id, is_eval, gs,
                 unnest([
                   ('0x' || substr(md5(gs || '#1'), 1, 8))::BIGINT % 262144,
                   ('0x' || substr(md5(gs || '#2'), 1, 8))::BIGINT % 262144,
                   ('0x' || substr(md5(gs || '#3'), 1, 8))::BIGINT % 262144
                 ]) AS pos
          FROM bp_g),
        bp_bits AS (SELECT DISTINCT pos FROM bp_p WHERE NOT is_eval),
        bp_train AS (SELECT DISTINCT gs FROM bp_g WHERE NOT is_eval),
        bp_bloom AS (
          SELECT e.doc_id, e.gs,
                 min(CASE WHEN b.pos IS NOT NULL THEN 1 ELSE 0 END)
                   AS bloom_hit
          FROM bp_p e LEFT JOIN bp_bits b ON b.pos = e.pos
          WHERE e.is_eval GROUP BY 1, 2),
        bp_exact AS (
          SELECT e.doc_id, e.gs,
                 CASE WHEN t.gs IS NOT NULL THEN 1 ELSE 0 END AS exact_hit
          FROM bp_g e LEFT JOIN bp_train t ON t.gs = e.gs
          WHERE e.is_eval)
        SELECT b.doc_id, count(*) AS n_grams,
               CAST(sum(x.exact_hit) AS BIGINT) AS n_exact,
               CAST(sum(b.bloom_hit) AS BIGINT) AS n_bloom,
               CAST(sum(b.bloom_hit) - sum(x.exact_hit) AS BIGINT)
                 AS n_false_pos,
               sum(b.bloom_hit) >= sum(x.exact_hit) AS no_false_neg
        FROM bp_bloom b JOIN bp_exact x
          ON x.doc_id = b.doc_id AND x.gs = b.gs
        GROUP BY b.doc_id ORDER BY b.doc_id"""),
      desc = "mergeable Bloom membership partials beside the exact twin"),

    // ── exact duplicated-substring spans (ExactSubstr) ──────────────
    // Lee et al. ACL 2022's second dedup axis: substring-granular
    // removal spans, not whole-doc verdicts. Keep-first in global
    // (doc_id, pos) order; removable stride-1 windows merge into
    // maximal spans per doc.
    "dedup_spans" -> Q(
      fn = (s, dir) => Corpus.spanDedup(docs(s, dir), k = 40)
        .orderBy(col("doc_id"), col("span_start")),
      oracle = Some("""
        WITH sp_w AS (
          SELECT doc_id, CAST(i AS BIGINT) AS pos,
                 ('0x' || substr(md5(substr(text, CAST(i AS INTEGER), 40)),
                    1, 14))::BIGINT AS h
          FROM documents, unnest(range(1, length(text) - 40 + 2)) AS t(i)
          WHERE length(text) >= 40),
        sp_first AS (
          SELECT h, min(doc_id * 4294967296 + pos) AS first_key
          FROM sp_w GROUP BY h),
        sp_rm AS (
          SELECT w.doc_id, w.pos
          FROM sp_w w JOIN sp_first f ON f.h = w.h
          WHERE w.doc_id * 4294967296 + w.pos <> f.first_key),
        sp_prev AS (
          SELECT doc_id, pos,
                 lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
          FROM sp_rm),
        sp_isl AS (
          SELECT doc_id, pos,
                 SUM(CASE WHEN pos - prev <= 40 THEN 0 ELSE 1 END)
                   OVER (PARTITION BY doc_id ORDER BY pos) AS island
          FROM sp_prev)
        SELECT doc_id, min(pos) AS span_start,
               max(pos) + 40 - min(pos) AS span_len,
               CAST(count(*) AS BIGINT) AS n_windows
        FROM sp_isl GROUP BY doc_id, island
        ORDER BY doc_id, span_start"""),
      desc = "ExactSubstr spans: keep-first duplicated k-char runs merged per doc"),

    // ── incremental ExactSubstr: new-batch spans vs the corpus ──────
    // isNew monotone in doc_id (append-only ingest) → the result IS
    // the full run restricted to new docs, which is exactly what the
    // oracle selects (backfill-exactness; the general-isNew law is
    // spec'd in CorpusSpec).
    "dedup_spans_inc" -> Q(
      fn = (s, dir) => Corpus.spanDedupIncremental(docs(s, dir),
          isNew = col("doc_id") >= 400, k = 40)
        .orderBy(col("doc_id"), col("span_start")),
      oracle = Some("""
        WITH sp_w AS (
          SELECT doc_id, CAST(i AS BIGINT) AS pos,
                 ('0x' || substr(md5(substr(text, CAST(i AS INTEGER), 40)),
                    1, 14))::BIGINT AS h
          FROM documents, unnest(range(1, length(text) - 40 + 2)) AS t(i)
          WHERE length(text) >= 40),
        sp_first AS (
          SELECT h, min(doc_id * 4294967296 + pos) AS first_key
          FROM sp_w GROUP BY h),
        sp_rm AS (
          SELECT w.doc_id, w.pos
          FROM sp_w w JOIN sp_first f ON f.h = w.h
          WHERE w.doc_id * 4294967296 + w.pos <> f.first_key
            AND w.doc_id >= 400),
        sp_prev AS (
          SELECT doc_id, pos,
                 lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
          FROM sp_rm),
        sp_isl AS (
          SELECT doc_id, pos,
                 SUM(CASE WHEN pos - prev <= 40 THEN 0 ELSE 1 END)
                   OVER (PARTITION BY doc_id ORDER BY pos) AS island
          FROM sp_prev)
        SELECT doc_id, min(pos) AS span_start,
               max(pos) + 40 - min(pos) AS span_len,
               CAST(count(*) AS BIGINT) AS n_windows
        FROM sp_isl GROUP BY doc_id, island
        ORDER BY doc_id, span_start"""),
      desc = "incremental ExactSubstr: new-batch windows vs old hash index"),

    // ── ExactSubstr applied: excise the spans from the text ─────────
    // The oracle rebuilds each cleaned text character-by-character
    // (positions anti-joined to span ranges, string_agg in order) —
    // a deliberately different formulation from the Spark fold, so
    // agreement checks the semantics, not the implementation.
    "dedup_span_clean" -> Q(
      fn = (s, dir) => Corpus.spanClean(docs(s, dir), k = 40)
        .orderBy(col("doc_id")),
      oracle = Some("""
        WITH sp_w AS (
          SELECT doc_id, CAST(i AS BIGINT) AS pos,
                 ('0x' || substr(md5(substr(text, CAST(i AS INTEGER), 40)),
                    1, 14))::BIGINT AS h
          FROM documents, unnest(range(1, length(text) - 40 + 2)) AS t(i)
          WHERE length(text) >= 40),
        sp_first AS (
          SELECT h, min(doc_id * 4294967296 + pos) AS first_key
          FROM sp_w GROUP BY h),
        sp_rm AS (
          SELECT w.doc_id, w.pos
          FROM sp_w w JOIN sp_first f ON f.h = w.h
          WHERE w.doc_id * 4294967296 + w.pos <> f.first_key),
        sp_prev AS (
          SELECT doc_id, pos,
                 lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
          FROM sp_rm),
        sp_isl AS (
          SELECT doc_id, pos,
                 SUM(CASE WHEN pos - prev <= 40 THEN 0 ELSE 1 END)
                   OVER (PARTITION BY doc_id ORDER BY pos) AS island
          FROM sp_prev),
        sp_spans AS (
          SELECT doc_id, min(pos) AS span_start,
                 max(pos) + 40 - min(pos) AS span_len
          FROM sp_isl GROUP BY doc_id, island),
        sc_chars AS (
          SELECT doc_id, CAST(i AS BIGINT) AS i,
                 substr(text, CAST(i AS INTEGER), 1) AS ch
          FROM documents, unnest(range(1, length(text) + 1)) AS t(i)),
        sc_kept AS (
          SELECT c.doc_id, c.i, c.ch
          FROM sc_chars c LEFT JOIN sp_spans s
            ON s.doc_id = c.doc_id
           AND c.i >= s.span_start AND c.i < s.span_start + s.span_len
          WHERE s.span_start IS NULL),
        sc_clean AS (
          SELECT doc_id, string_agg(ch, '' ORDER BY i) AS clean_text
          FROM sc_kept GROUP BY doc_id)
        SELECT d.doc_id,
               CAST(length(COALESCE(c.clean_text, '')) AS BIGINT)
                 AS clean_len,
               CAST(length(d.text) - length(COALESCE(c.clean_text, ''))
                 AS BIGINT) AS removed,
               COALESCE(c.clean_text, '') AS clean_text
        FROM documents d LEFT JOIN sc_clean c ON c.doc_id = d.doc_id
        ORDER BY d.doc_id"""),
      desc = "ExactSubstr excision: cleaned text with removable spans cut out"),

    // ── BM25 ranked retrieval (log-free rational variant) ───────────
    // The lexical-search operator of the retrieval pair (vector side:
    // knn_brute / the ANN family; fusion: search_hybrid). Integer
    // fixed-point throughout — ln is not IEEE-exact across engines,
    // floor division is.
    "text_bm25" -> Q(
      fn = (s, dir) => Corpus.bm25Rank(docs(s, dir),
          Seq("hash", "join", "scan", "vector"), topK = 10)
        .orderBy(col("rank")),
      oracle = Some(s"""
        WITH ${duckBm25Ctes(Seq("hash", "join", "scan", "vector"), 10)}
        SELECT doc_id, rank, score, n_terms FROM bm_top
        ORDER BY rank"""),
      desc = "BM25 top-k lexical retrieval, integer-exact rational idf"),

    // ── incremental retrieval: BM25 from merged per-batch partials ──
    // The 6th incremental family (after minhash/semantic/spans/winnow
    // dedup + the BPE tokenizer): tf/dl merge by union, df and the
    // (n_docs, dlen_sum) totals by SUM — all lossless, so ranking the
    // full corpus from a historical batch's persisted partials + the
    // new batch's fresh ones is bit-identical to the direct run, and
    // the oracle IS text_bm25's direct-form SQL. Unlike the dedup
    // incrementals there is no monotonicity precondition: partial
    // sums commute with any batch split. Averages are kept as
    // (numerator, denominator) — an avg is not mergeable, its parts
    // are.
    "text_bm25_inc" -> Q(
      fn = (s, dir) => Corpus.bm25RankIncremental(docs(s, dir),
          isNew = col("doc_id") >= 250,
          Seq("hash", "join", "scan", "vector"), topK = 10)
        .orderBy(col("rank")),
      oracle = Some(s"""
        WITH ${duckBm25Ctes(Seq("hash", "join", "scan", "vector"), 10)}
        SELECT doc_id, rank, score, n_terms FROM bm_top
        ORDER BY rank"""),
      desc = "incremental BM25: per-batch partials merged losslessly, no re-tokenize"),

    // ── hard-negative mining (contrastive-training last mile) ───────
    // The step a retrieval/embedding trainer runs on top of BM25: the
    // top hit is the POSITIVE; the rest of the top-20 are candidate
    // negatives — minus any candidate that is a near-duplicate of the
    // positive (≥50% 5-gram containment), because training against a
    // paraphrase of the positive as a "negative" poisons the loss
    // (the false-negative filter). The positive's gram set is one
    // doc — broadcast-sized at any corpus scale; candidates are topK
    // rows, so the whole filter stage is O(topK · doc_len) after the
    // BM25 ranking. Exact-integer containment ppm; re-ranked
    // deterministically by (score DESC, doc_id).
    "search_hardneg" -> Q(
      fn = (s, dir) => {
        // term set chosen so the sf0.01 gate EXERCISES the filter:
        // the top hit's exact duplicate ranks #2 and must be dropped
        val top = Corpus.bm25Rank(docs(s, dir),
          Seq("line", "hash", "vector", "merge"), topK = 20)
        val withText = top.join(docs(s, dir).select(col("doc_id"),
          col("text")), Seq("doc_id"))
        val grams = withText
          .withColumn("toks", split(col("text"), " "))
          .filter(size(col("toks")) >= 5)
          .select(col("doc_id"), col("rank"), explode(expr(
            """transform(sequence(0, size(toks) - 5), i ->
               CAST(conv(substring(md5(concat_ws(' ',
                 slice(toks, i + 1, 5))), 1, 14), 16, 10) AS BIGINT))"""))
            .as("g"))
          .distinct()
        val top1 = grams.filter(col("rank") === 1)
          .select(col("g").as("g1")).distinct()
        val cont = grams.filter(col("rank") > 1)
          .join(broadcast(top1), col("g") === col("g1"), "left")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_grams"),
            sum(when(col("g1").isNotNull, 1L).otherwise(0L))
              .as("n_shared"))
          .select(col("doc_id"),
            expr("n_shared * 1000000L div n_grams").as("cont_ppm"))
        val negs = top.filter(col("rank") > 1)
          .join(cont, Seq("doc_id"), "left")
          .withColumn("cont_ppm", coalesce(col("cont_ppm"), lit(0L)))
          .filter(col("cont_ppm") < 500000L)
        negs.select(
            row_number().over(org.apache.spark.sql.expressions.Window
              .orderBy(col("score").desc, col("doc_id")))
              .cast("long").as("neg_rank"),
            col("doc_id"), col("score"), col("cont_ppm"))
          .orderBy(col("neg_rank"))
      },
      oracle = Some(s"""
        WITH ${duckBm25Ctes(Seq("line", "hash", "vector", "merge"), 20)},
        hn_g AS (
          SELECT DISTINCT t.doc_id, t.rank,
            ('0x' || substr(md5(array_to_string(
               list_transform(range(i, i + 5), j -> toks[j]), ' ')),
               1, 14))::BIGINT AS g
          FROM (SELECT b.doc_id, b.rank, string_split(d.text, ' ') AS toks
                FROM bm_top b JOIN documents d ON d.doc_id = b.doc_id) t,
               unnest(range(1, len(toks) - 5 + 2)) AS u(i)
          WHERE len(toks) >= 5),
        hn_top1 AS (SELECT DISTINCT g FROM hn_g WHERE rank = 1),
        hn_cont AS (
          SELECT e.doc_id,
                 CAST(sum(CASE WHEN t.g IS NOT NULL THEN 1 ELSE 0 END)
                      * 1000000 // count(*) AS BIGINT) AS cont_ppm
          FROM hn_g e LEFT JOIN hn_top1 t ON t.g = e.g
          WHERE e.rank > 1 GROUP BY e.doc_id),
        hn_neg AS (
          SELECT b.doc_id, b.score,
                 COALESCE(c.cont_ppm, 0) AS cont_ppm
          FROM bm_top b LEFT JOIN hn_cont c ON c.doc_id = b.doc_id
          WHERE b.rank > 1 AND COALESCE(c.cont_ppm, 0) < 500000)
        SELECT row_number() OVER (ORDER BY score DESC, doc_id)
                 AS neg_rank,
               doc_id, score, cont_ppm
        FROM hn_neg ORDER BY neg_rank"""),
      desc = "hard negatives: BM25 top-k minus near-dups of the positive"),

    // ── retrieval ranking eval (MRR / precision / recall / NDCG@k) ──
    // The eval a retrieval team runs on every index build: rank with
    // BM25, mark relevance (definitional conjunctive match — a doc is
    // relevant iff it contains EVERY query term), and emit the full
    // metric curve, one row per cutoff k. All arithmetic is exact
    // integer: rank discounts are D div r with D = lcm(1..20) =
    // 232792560, so every 1/rank term is integral, and every ratio is
    // floor-div ppm — no ln, no float accumulation, so the DuckDB
    // twin is bit-exact (the log2 discount of classic NDCG is NOT
    // IEEE-reproducible cross-engine; with binary gains the
    // reciprocal-rank discount keeps the same "earlier is better"
    // semantics and stays rational). Windows run over the LIMIT-topK
    // frame (20 rows — PlanAuditSpec allowlist beside text_bm25).
    // Emitted per k: hits@k, precision/recall ppm, reciprocal rank
    // (D div first_rel_rank once one is seen), DCG_D / IDCG_D (ideal
    // = first min(k, n_rel) ranks all relevant) and ndcg_ppm.
    "search_eval" -> Q(
      fn = (s, dir) =>
        // the public API IS the implementation — the driver's oracle
        // check verifies Corpus.searchEval directly.
        Corpus.searchEval(docs(s, dir),
            Seq("hash", "join", "scan", "vector"), topK = 20)
          .orderBy(col("k")),
      oracle = Some(s"""
        WITH ${duckBm25Ctes(Seq("hash", "join", "scan", "vector"), 20)},
        se_rel AS (
          SELECT doc_id, CAST(1 AS BIGINT) AS is_rel FROM documents
          WHERE list_contains(string_split(text, ' '), 'hash')
            AND list_contains(string_split(text, ' '), 'join')
            AND list_contains(string_split(text, ' '), 'scan')
            AND list_contains(string_split(text, ' '), 'vector')),
        se_n AS (SELECT CAST(count(*) AS BIGINT) AS n_rel FROM se_rel),
        se_j AS (
          SELECT CAST(t.rank AS BIGINT) AS k, t.doc_id,
                 COALESCE(r.is_rel, 0) AS is_rel, n.n_rel
          FROM bm_top t LEFT JOIN se_rel r USING (doc_id)
          CROSS JOIN se_n n),
        se_c AS (
          SELECT k, doc_id, is_rel, n_rel,
                 CAST(sum(is_rel) OVER w AS BIGINT) AS hits,
                 CAST(sum(is_rel * (232792560 // k)) OVER w AS BIGINT)
                   AS dcg_d,
                 CAST(sum(CASE WHEN k <= n_rel THEN 232792560 // k
                          ELSE 0 END) OVER w AS BIGINT) AS idcg_d,
                 min(CASE WHEN is_rel = 1 THEN k END) OVER w AS frr
          FROM se_j
          WINDOW w AS (ORDER BY k ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW))
        SELECT k, doc_id, is_rel, n_rel, hits,
               hits * 1000000 // k AS prec_ppm,
               hits * 1000000 // NULLIF(n_rel, 0) AS recall_ppm,
               COALESCE(232792560 // frr, 0) AS rr_d,
               dcg_d, idcg_d,
               dcg_d * 1000000 // NULLIF(idcg_d, 0) AS ndcg_ppm
        FROM se_c ORDER BY k"""),
      desc = "retrieval eval: integer-exact MRR/precision/recall/NDCG curve per cutoff"),

    // ── late-interaction retrieval (ColBERT MaxSim) ─────────────────
    // Corpus.maxsimSearch: every query term picks its best-matching
    // doc token, score = sum of per-term maxima — the structural
    // third retrieval member beside lexical BM25 and pooled-vector
    // cosine. Token vectors are deterministic 8-dim hash embeddings
    // (the decode-stub convention; the late-interaction join/agg
    // plumbing is the real operator), dots through the long_dot
    // codegen expression, exact BIGINT scores. Vocab-level vector
    // derivation + scan-linear scoring; top-20.
    "search_maxsim" -> Q(
      fn = (s, dir) =>
        // the public API IS the implementation — the driver's oracle
        // check verifies Corpus.maxsimSearch directly.
        Corpus.maxsimSearch(docs(s, dir),
          Seq("hash", "merge", "vector"), topK = 20),
      oracle = Some("""
        WITH ms_tok AS (
          SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
          FROM documents),
        ms_tv AS (
          SELECT tok, list_transform(range(0, 8), d ->
            ('0x' || substr(md5(tok || ':' || CAST(d AS VARCHAR)), 1, 8))
              ::BIGINT % 2001 - 1000) AS tv
          FROM (SELECT DISTINCT tok FROM ms_tok)),
        ms_qv AS (
          SELECT term, list_transform(range(0, 8), d ->
            ('0x' || substr(md5(term || ':' || CAST(d AS VARCHAR)), 1, 8))
              ::BIGINT % 2001 - 1000) AS qv
          FROM (SELECT unnest(['hash', 'merge', 'vector']) AS term)),
        ms_max AS (
          SELECT t.doc_id, q.term,
                 max(CAST(list_sum(list_transform(range(0, 8),
                   i -> v.tv[i + 1] * q.qv[i + 1])) AS BIGINT))
                   AS term_max
          FROM ms_tok t
          JOIN ms_tv v USING (tok)
          CROSS JOIN ms_qv q
          GROUP BY 1, 2)
        SELECT doc_id, CAST(sum(term_max) AS BIGINT) AS maxsim
        FROM ms_max GROUP BY doc_id
        ORDER BY maxsim DESC, doc_id LIMIT 20"""),
      desc = "late-interaction MaxSim retrieval: per-term best-token evidence, exact integer"),

    // ── MMR diversified re-rank (serve-time near-dup suppression) ───
    // Corpus.mmrRerank: greedy λ·rel − (1−λ)·max-sim selection over
    // the BM25 top-20 pool, exact integer objective (rel as ppm of
    // the pool max, sim as exact token-set Jaccard ppm). The oracle
    // unrolls all 10 greedy rounds (the kmeans pattern): each round
    // is a 1-row argmax CTE over the pool minus the union of earlier
    // picks.
    "search_mmr" -> Q(
      fn = (s, dir) =>
        // the public API IS the implementation — the driver's oracle
        // check verifies Corpus.mmrRerank directly.
        Corpus.mmrRerank(docs(s, dir),
            Seq("hash", "join", "scan", "vector"), poolK = 20, k = 10)
          .orderBy(col("sel_rank")),
      oracle = Some({
        // every round CTE is MATERIALIZED: mm_s_r references
        // mm_u_{r-1} twice (anti-membership + max-sim join), and
        // DuckDB INLINES multiply-referenced CTEs by default — the
        // 10-round chain would expand exponentially (observed as
        // "too many open files": thousands of inlined parquet scans)
        val rounds = (2 to 10).map { r =>
          val prev = (1 until r).map(i => s"SELECT * FROM mm_s$i")
            .mkString(" UNION ALL ")
          s"""
        mm_u${r - 1} AS MATERIALIZED ($prev),
        mm_s$r AS MATERIALIZED (
          SELECT CAST($r AS BIGINT) AS sel_rank, p.doc_id, p.rel_ppm,
                 COALESCE(m.ms, CAST(0 AS BIGINT)) AS max_sim_ppm,
                 70 * p.rel_ppm
                   - 30 * COALESCE(m.ms, CAST(0 AS BIGINT)) AS mmr_x100
          FROM mm_rel p
          LEFT JOIN (SELECT s.a AS doc_id,
                            CAST(max(s.sim_ppm) AS BIGINT) AS ms
                     FROM mm_sim s
                     JOIN mm_u${r - 1} u ON u.doc_id = s.b
                     GROUP BY 1) m ON m.doc_id = p.doc_id
          WHERE p.doc_id NOT IN (SELECT doc_id FROM mm_u${r - 1})
          ORDER BY mmr_x100 DESC, p.doc_id LIMIT 1)"""
        }.mkString(",")
        val all = (1 to 10).map(i => s"SELECT * FROM mm_s$i")
          .mkString(" UNION ALL ")
        s"""
        WITH ${duckBm25Ctes(Seq("hash", "join", "scan", "vector"), 20)},
        mm_rel AS MATERIALIZED (
          SELECT doc_id, score * 1000000
                   // (SELECT max(score) FROM bm_top) AS rel_ppm
          FROM bm_top),
        mm_tok AS (
          SELECT DISTINCT d.doc_id, unnest(string_split(d.text, ' ')) AS tok
          FROM documents d JOIN bm_top USING (doc_id)),
        mm_sz AS (
          SELECT doc_id, CAST(count(*) AS BIGINT) AS nt
          FROM mm_tok GROUP BY 1),
        mm_int AS (
          SELECT a.doc_id AS a, b.doc_id AS b, CAST(count(*) AS BIGINT) AS ni
          FROM mm_tok a JOIN mm_tok b
            ON a.tok = b.tok AND a.doc_id <> b.doc_id
          GROUP BY 1, 2),
        mm_sim AS MATERIALIZED (
          SELECT i.a, i.b, i.ni * 1000000 // (sa.nt + sb.nt - i.ni)
                   AS sim_ppm
          FROM mm_int i
          JOIN mm_sz sa ON sa.doc_id = i.a
          JOIN mm_sz sb ON sb.doc_id = i.b),
        mm_s1 AS MATERIALIZED (
          SELECT CAST(1 AS BIGINT) AS sel_rank, doc_id, rel_ppm,
                 CAST(0 AS BIGINT) AS max_sim_ppm,
                 70 * rel_ppm AS mmr_x100
          FROM mm_rel ORDER BY rel_ppm DESC, doc_id LIMIT 1),$rounds
        SELECT sel_rank, doc_id, rel_ppm, max_sim_ppm, mmr_x100
        FROM ($all) ORDER BY sel_rank"""
      }),
      desc = "MMR diversified re-rank: greedy integer lambda-tradeoff over the BM25 pool"),

    // ── pseudo-relevance-feedback expansion (RM3-lite) ───────────────
    // Corpus.prfSearch: BM25 top-10 feedback docs → top-3 expansion
    // terms by fb-occurrences × rational corpus idf (query terms +
    // stopwords excluded, ties lexicographic) → weighted re-rank,
    // original terms ×2, expansion ×1. All integer fixed-point —
    // the oracle replays both rounds.
    "search_prf" -> Q(
      fn = (s, dir) =>
        // the public API IS the implementation — the driver's oracle
        // check verifies Corpus.prfSearch directly.
        Corpus.prfSearch(docs(s, dir), Seq("hash", "join"),
            fbDocs = 10, fbTerms = 3, topK = 20)
          .orderBy(col("rank")),
      oracle = Some(s"""
        WITH ${duckBm25Ctes(Seq("hash", "join"), 10)},
        pr_fbtf AS (
          SELECT tok, CAST(count(*) AS BIGINT) AS fb_tf FROM (
            SELECT unnest(string_split(d.text, ' ')) AS tok
            FROM documents d JOIN bm_top b ON b.doc_id = d.doc_id)
          WHERE tok NOT IN ('hash', 'join', 'the', 'a', 'of', 'and', 'to')
          GROUP BY tok),
        pr_cdf AS (
          SELECT tok, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents)
          WHERE tok IN (SELECT tok FROM pr_fbtf)
          GROUP BY tok),
        pr_n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
        pr_exp AS (
          SELECT tok, CAST(1 AS BIGINT) AS w FROM (
            SELECT f.tok,
                   f.fb_tf * (((n.n_docs - d.df) * 1000000 + 500000)
                     // (d.df * 1000 + 500)) AS exp_score
            FROM pr_fbtf f JOIN pr_cdf d USING (tok) CROSS JOIN pr_n n)
          ORDER BY exp_score DESC, tok LIMIT 3),
        pr_w AS (
          SELECT tok, CAST(2 AS BIGINT) AS w
          FROM (VALUES ('hash'), ('join')) t(tok)
          UNION ALL SELECT tok, w FROM pr_exp),
        pr_t AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS tok
          FROM documents),
        pr_dl AS (
          SELECT doc_id, CAST(count(*) AS BIGINT) AS dlen
          FROM pr_t GROUP BY 1),
        pr_st AS (
          SELECT CAST(count(*) AS BIGINT) AS n_docs,
                 (CAST(sum(dlen) AS BIGINT) * 1000) // count(*) AS avg_m
          FROM pr_dl),
        pr_tf AS (
          SELECT t.doc_id, t.tok, w.w, CAST(count(*) AS BIGINT) AS tf
          FROM pr_t t JOIN pr_w w USING (tok) GROUP BY 1, 2, 3),
        pr_dft AS (
          SELECT tok, CAST(count(*) AS BIGINT) AS df
          FROM pr_tf GROUP BY 1),
        pr_sc AS (
          SELECT f.doc_id, f.w,
                 ((s.n_docs - d.df) * 1000000 + 500000)
                   // (d.df * 1000 + 500) AS idf_m,
                 1000 - 750 + (750 * l.dlen * 1000) // s.avg_m AS norm_m,
                 f.tf
          FROM pr_tf f JOIN pr_dft d USING (tok)
          JOIN pr_dl l USING (doc_id) CROSS JOIN pr_st s),
        pr_agg AS (
          SELECT doc_id,
                 CAST(sum(w * idf_m * ((tf * (1000 + 1200) * 1000000)
                   // (tf * 1000 + (1200 * norm_m) // 1000))) AS BIGINT)
                   AS score,
                 CAST(count(*) AS BIGINT) AS n_terms
          FROM pr_sc GROUP BY doc_id)
        SELECT rank, doc_id, score, n_terms FROM (
          SELECT *, row_number() OVER (ORDER BY score DESC, doc_id)
            AS rank
          FROM pr_agg)
        WHERE rank <= 20 ORDER BY rank"""),
      desc = "RM3 pseudo-relevance feedback: feedback-mined expansion terms, weighted re-rank"),

    // ── batch-perceptron quality probe (distilled rule cascade) ─────
    // Fixed-round integer-exact linear fit; the oracle replays all 8
    // rounds unrolled (the ivf_kmeans oracle pattern — the CTE chain
    // is GENERATED, one pf_w{i} per round). Integer sums are
    // partitioning-independent, so Spark and DuckDB agree bit-for-bit
    // on every round's weights. 8 rounds: accuracy 450/500 on sf0.01
    // vs the 415/500 majority-class baseline (rounds 1-4 still ride
    // the all-positive init; the boundary forms at rounds 5-6).
    "text_probe_fit" -> Q(
      fn = (s, dir) => Corpus.probeFit(docs(s, dir), rounds = 8)
        .orderBy(col("doc_id")),
      oracle = Some(probeOracle(rounds = 8)),
      desc = "batch-perceptron probe: integer-exact 8-round fit on cascade labels"),

    // ── frozen-probe inference (fit on history, score the batch) ────
    // The production split of the probe family: probeWeights iterates
    // ONLY over the historical half (doc_id < 250 — the persisted
    // nightly fit), and the new half scores per-row against the
    // frozen broadcast weight row — scan-parallel O(batch), the
    // learned-scorer admission path beside the ingest gate's rule
    // cascade. Same unrolled-round oracle, with the fit CTEs
    // restricted to history and the scoring select to the new batch.
    "text_probe_apply" -> Q(
      fn = (s, dir) => {
        val d = docs(s, dir)
        Corpus.probeApply(d.filter(col("doc_id") >= 250),
            Corpus.probeWeights(d.filter(col("doc_id") < 250),
              rounds = 8))
          .orderBy(col("doc_id"))
      },
      oracle = Some(probeOracle(rounds = 8,
        fitWhere = "f.doc_id < 250", applyWhere = "f.doc_id >= 250")),
      desc = "frozen-probe inference: history-fitted weights score the new batch per-row"),

    // ── probe reliability curve (calibration readout) ───────────────
    // The check before trusting the learned scorer's threshold: the
    // frozen-probe batch scores banded into 10 equal-width integer
    // score bands (edges from a broadcast 1-row extent frame — no
    // unpartitioned window), per-band positive-label mass and
    // accuracy in exact floor-div ppm. Calibrated ⇔ pos_ppm rises
    // with the band; output ≤ 10 rows at any corpus size.
    "text_probe_calibration" -> Q(
      fn = (s, dir) => {
        val d = docs(s, dir)
        Corpus.probeCalibration(
            Corpus.probeApply(d.filter(col("doc_id") >= 250),
              Corpus.probeWeights(d.filter(col("doc_id") < 250),
                rounds = 8)))
          .orderBy(col("band"))
      },
      oracle = Some(probeOracle(rounds = 8,
        fitWhere = "f.doc_id < 250", applyWhere = "f.doc_id >= 250",
        finalSelect = Some(probeCalibSelect(10)))),
      desc = "probe reliability curve: per-band label mass + accuracy in exact ppm"),

    // ── isotonic calibration of the reliability curve ───────────────
    // Corpus.isotonicCalibrate over text_probe_calibration's bands:
    // the PAVA fit via the exact minimax identity
    // iso_k = max_{i≤k} min_{j≥k} pooledRate(i..j) — sequential
    // pool-adjacent-violators is a data-length recursion no oracle
    // can replay; the minimax form is prefix sums + a bounded pair
    // join + windows, all BIGINT, identical in DuckDB. The fitted
    // curve is what turns the probe's raw score into a monotone
    // calibrated probability (the production use of a reliability
    // diagram).
    "text_probe_isotonic" -> Q(
      fn = (s, dir) => {
        val d = docs(s, dir)
        Corpus.isotonicCalibrate(Corpus.probeCalibration(
            Corpus.probeApply(d.filter(col("doc_id") >= 250),
              Corpus.probeWeights(d.filter(col("doc_id") < 250),
                rounds = 8))))
          .select(col("band"), col("n_docs"), col("n_pos"),
            col("pos_ppm"), col("iso_ppm"))
          .orderBy(col("band"))
      },
      oracle = Some(probeOracle(rounds = 8,
        fitWhere = "f.doc_id < 250", applyWhere = "f.doc_id >= 250",
        finalSelect = Some(s"""
      , ic_b AS (${probeCalibSelect(10).replace("ORDER BY band", "")}),
      ic_c AS (
        SELECT band, n_docs, n_pos,
               CAST(sum(n_docs) OVER (ORDER BY band) AS BIGINT) AS cn,
               CAST(sum(n_pos) OVER (ORDER BY band) AS BIGINT) AS cp
        FROM ic_b),
      ic_p AS (
        SELECT a.band AS i, b.band AS j,
               (b.cp - a.cp + a.n_pos) * 1000000
                 // (b.cn - a.cn + a.n_docs) AS av
        FROM ic_c a JOIN ic_c b ON a.band <= b.band),
      ic_s AS (
        SELECT i, j, CAST(min(av) OVER (PARTITION BY i ORDER BY j DESC
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          AS smin
        FROM ic_p),
      ic_i AS (
        SELECT j AS band, CAST(max(smin) AS BIGINT) AS iso_ppm
        FROM ic_s GROUP BY 1)
      SELECT b.band, b.n_docs, b.n_pos, b.pos_ppm, i.iso_ppm
      FROM ic_b b JOIN ic_i i USING (band) ORDER BY band"""))),
      desc = "isotonic (PAVA) calibration via the exact minimax identity over the band curve"),

    // ── fused corpus filter (C4/Gopher-style keep/drop pipeline) ────
    // The shape a production corpus filter takes: one pass computes
    // all quality signals, then a single rule cascade assigns the
    // FIRST failing reason (or keep). Thresholds chosen to exercise
    // every branch on the test corpus (length p10≈114, rep p90≈0.14).
    "corpus_filter" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        val stats = Corpus.docTokenStats(docs(s, dir))
        docs(s, dir).select($"doc_id", $"n_chars")
          .join(stats, Seq("doc_id"))
          .withColumn("repetition_ratio",
            try_divide($"top_tok_count", $"n_tokens"))
          .withColumn("drop_reason",
            when($"n_chars" < 100, "too_short")
              .when($"n_tokens" < 18, "too_few_tokens")
              .when($"repetition_ratio" > 0.125, "repetitive")
              .otherwise(lit(null).cast(StringType)))
          .withColumn("keep", $"drop_reason".isNull)
          .select($"doc_id", $"n_chars", $"n_tokens", $"top_tok_count",
            $"repetition_ratio", $"keep", $"drop_reason")
          .orderBy($"doc_id")
      },
      oracle = Some("""
        WITH t AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS tok
          FROM documents),
        c AS (SELECT doc_id, tok, count(*) AS c FROM t GROUP BY 1, 2),
        s AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
                     CAST(max(c) AS BIGINT) AS top_tok_count
              FROM c GROUP BY 1),
        f AS (
          SELECT d.doc_id, d.n_chars, s.n_tokens, s.top_tok_count,
                 CAST(s.top_tok_count AS DOUBLE) / s.n_tokens
                   AS repetition_ratio,
                 CASE WHEN d.n_chars < 100 THEN 'too_short'
                      WHEN s.n_tokens < 18 THEN 'too_few_tokens'
                      WHEN CAST(s.top_tok_count AS DOUBLE) / s.n_tokens
                           > 0.125 THEN 'repetitive'
                      ELSE NULL END AS drop_reason
          FROM documents d JOIN s ON s.doc_id = d.doc_id)
        SELECT doc_id, n_chars, n_tokens, top_tok_count, repetition_ratio,
               drop_reason IS NULL AS keep, drop_reason
        FROM f ORDER BY doc_id"""),
      desc = "fused quality filter: first-failing-rule keep/drop cascade"),

    // ── per-stratum corpus report (the daily dashboard query) ───────
    // What a pipeline owner checks every release: per (lang, source)
    // volume (docs/tokens/chars), quality-filter pass rate (the
    // corpus_filter cascade), and exact-duplicate rate (canonical-key
    // groups, global). Integer sums + one division per ratio.
    "corpus_stats" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        val base = Corpus.qualityFilter(docs(s, dir),
          minChars = 100L, minTokens = 18L, maxRepetition = 0.125,
          chars = $"n_chars")
        val dup = docs(s, dir)
          .withColumn("key", sha2(concat_ws(" ",
            array_sort(array_distinct(split($"text", " ")))), 256))
          .withColumn("keeper",
            min($"doc_id").over(Window.partitionBy($"key")))
          .select($"doc_id", ($"doc_id" =!= $"keeper").as("is_dup"))
        base.join(dup, Seq("doc_id"))
          .groupBy($"lang", $"source")
          .agg(
            count(lit(1)).as("n_docs"),
            sum($"n_tokens").as("sum_tokens"),
            sum($"n_chars").as("sum_chars"),
            sum(when($"keep", 1L).otherwise(0L)).as("n_keep"),
            sum(when($"is_dup", 1L).otherwise(0L)).as("n_dup"))
          .withColumn("avg_tokens", try_divide($"sum_tokens", $"n_docs"))
          .withColumn("keep_rate", try_divide($"n_keep", $"n_docs"))
          .withColumn("dup_rate", try_divide($"n_dup", $"n_docs"))
          .orderBy($"lang", $"source")
      },
      oracle = Some("""
        WITH cs_t AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS tok
          FROM documents),
        cs_c AS (SELECT doc_id, tok, count(*) AS c FROM cs_t GROUP BY 1, 2),
        cs_s AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
                        CAST(max(c) AS BIGINT) AS top_c
                 FROM cs_c GROUP BY 1),
        cs_dup AS (
          SELECT doc_id,
                 doc_id <> min(doc_id) OVER (PARTITION BY key) AS is_dup
          FROM (SELECT doc_id, sha256(array_to_string(list_sort(
                  list_distinct(string_split(text, ' '))), ' ')) AS key
                FROM documents)),
        cs_f AS (
          SELECT d.lang, d.source, d.n_chars, s.n_tokens,
                 (d.n_chars >= 100 AND s.n_tokens >= 18 AND
                  CAST(s.top_c AS DOUBLE) / s.n_tokens <= 0.125) AS keep,
                 u.is_dup
          FROM documents d
          JOIN cs_s s ON s.doc_id = d.doc_id
          JOIN cs_dup u ON u.doc_id = d.doc_id),
        cs_g AS (
          SELECT lang, source,
                 count(*) AS n_docs,
                 CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
                 CAST(sum(n_chars) AS BIGINT) AS sum_chars,
                 CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_keep,
                 CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_dup
          FROM cs_f GROUP BY 1, 2)
        SELECT lang, source, n_docs, sum_tokens, sum_chars, n_keep, n_dup,
               CAST(sum_tokens AS DOUBLE) / n_docs AS avg_tokens,
               CAST(n_keep AS DOUBLE) / n_docs AS keep_rate,
               CAST(n_dup AS DOUBLE) / n_docs AS dup_rate
        FROM cs_g ORDER BY lang, source"""),
      desc = "per-(lang,source) corpus report: volume, quality rate, dup rate"),

    // ── end-to-end corpus preparation ───────────────────────────────
    // The full pipeline in one query, in production order: quality
    // filter first, then near-dup clustering over the SURVIVORS, then
    // one representative (min doc_id) per cluster. What remains is
    // the shippable training corpus.
    "corpus_clean" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        // chars = the stored n_chars column — matching the oracle's
        // `d.n_chars >= 100` exactly (not length(text), which only
        // happens to coincide on the synthetic corpus)
        val surv = Corpus.qualityFilter(docs(s, dir),
            minChars = 100L, minTokens = 18L, maxRepetition = 0.125,
            chars = $"n_chars")
          .filter($"keep")
          .select($"doc_id", $"lang", $"source", $"text", $"n_tokens")
        val comps = Corpus.dedupComponents(surv.select($"doc_id", $"text"))
        surv
          .join(comps.filter($"doc_id" =!= $"component_id")
            .select($"doc_id"), Seq("doc_id"), "left_anti")
          .select($"doc_id", $"lang", $"source", $"n_tokens")
          .orderBy($"doc_id")
      },
      oracle = Some(s"""
        WITH RECURSIVE
        qt AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS tok
          FROM documents),
        qc AS (SELECT doc_id, tok, count(*) AS c FROM qt GROUP BY 1, 2),
        qs AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
                      CAST(max(c) AS BIGINT) AS top_c
               FROM qc GROUP BY 1),
        surv AS (
          SELECT d.doc_id, d.lang, d.source, d.text, qs.n_tokens
          FROM documents d JOIN qs ON qs.doc_id = d.doc_id
          WHERE d.n_chars >= 100 AND qs.n_tokens >= 18
            AND CAST(qs.top_c AS DOUBLE) / qs.n_tokens <= 0.125),
        ${minhashPairsCtes("surv")},
        cc_canon AS (
          SELECT doc_id, sha256(array_to_string(list_sort(list_distinct(
            string_split(text, ' '))), ' ')) AS key
          FROM surv),
        cc_keep AS (
          SELECT doc_id, min(doc_id) OVER (PARTITION BY key) AS keep
          FROM cc_canon),
        cc_exact AS (
          SELECT keep AS src, doc_id AS dst FROM cc_keep WHERE doc_id <> keep),
        cc_e0 AS (
          SELECT src, dst FROM cc_exact
          UNION
          SELECT doc_a, doc_b FROM mh_near),
        cc_edges AS (
          SELECT src, dst FROM cc_e0 UNION SELECT dst, src FROM cc_e0),
        reach(a, b) AS (
          SELECT src, src FROM cc_edges
          UNION
          SELECT r.a, e.dst FROM reach r JOIN cc_edges e ON e.src = r.b),
        comp AS (
          SELECT a AS doc_id, min(b) AS component_id
          FROM reach GROUP BY a)
        SELECT s.doc_id, s.lang, s.source, s.n_tokens
        FROM surv s LEFT JOIN comp ON comp.doc_id = s.doc_id
        WHERE comp.doc_id IS NULL OR comp.component_id = s.doc_id
        ORDER BY s.doc_id"""),
      desc = "end-to-end corpus prep: quality filter → dedup → representatives"),

    // ── the full release pipeline under ONE oracle ──────────────────
    // Corpus.releasePlan composed end-to-end (normalize → quality →
    // dedup + canonical pick → decontamination gate → budget sample):
    // every stage is individually oracle-checked elsewhere; this
    // entry hash-checks the COMPOSITION — the released survivor set a
    // training team would actually ship. Eval split = the
    // text_contamination md5 split; output = the budgetSample shape.
    "corpus_release" -> Q(
      fn = (s, dir) => {
        val h = expr(
          "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 2), 16, 10) AS BIGINT) % 10")
        Corpus.releasePlan(docs(s, dir), isEval = h >= 8,
            stratum = col("source"), budgetTokens = 20000L,
            minChars = 100L, minTokens = 18L, maxRepetition = 0.125,
            contaminationN = 5, contaminationMinShared = 3L,
            stopwords = En)._5
          .orderBy(col("stratum"), col("cum_toks"))
      },
      oracle = Some(s"""
        WITH RECURSIVE
        cr_base AS (
          SELECT doc_id, lang, source,
                 ${Corpus.normalizeSqlDuck("text")} AS text,
                 ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2))::BIGINT
                   % 10 >= 8 AS is_eval
          FROM documents),
        cr_t AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS tok
          FROM cr_base WHERE NOT is_eval),
        cr_c AS (SELECT doc_id, tok, count(*) AS c FROM cr_t GROUP BY 1, 2),
        cr_s AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
                        CAST(max(c) AS BIGINT) AS top_c
                 FROM cr_c GROUP BY 1),
        surv AS (
          SELECT b.doc_id, b.lang, b.source, b.text
          FROM cr_base b JOIN cr_s s ON s.doc_id = b.doc_id
          WHERE NOT b.is_eval AND length(b.text) >= 100
            AND s.n_tokens >= 18
            AND CAST(s.top_c AS DOUBLE) / s.n_tokens <= 0.125),
        ${minhashPairsCtes("surv")},
        cc_canon AS (
          SELECT doc_id, sha256(array_to_string(list_sort(list_distinct(
            string_split(text, ' '))), ' ')) AS key
          FROM surv),
        cc_keep AS (
          SELECT doc_id, min(doc_id) OVER (PARTITION BY key) AS keep
          FROM cc_canon),
        cc_exact AS (
          SELECT keep AS src, doc_id AS dst FROM cc_keep WHERE doc_id <> keep),
        cc_e0 AS (
          SELECT src, dst FROM cc_exact
          UNION
          SELECT doc_a, doc_b FROM mh_near),
        cc_edges AS (
          SELECT src, dst FROM cc_e0 UNION SELECT dst, src FROM cc_e0),
        reach(a, b) AS (
          SELECT src, src FROM cc_edges
          UNION
          SELECT r.a, e.dst FROM reach r JOIN cc_edges e ON e.src = r.b),
        cr_comp AS (
          SELECT a AS doc_id, min(b) AS component_id FROM reach GROUP BY a),
        cr_q AS (
          SELECT doc_id,
                 CAST(len([x FOR x IN string_split(text, ' ')
                       IF x IN ('the', 'a', 'of', 'and', 'to')]) AS BIGINT)
                   * 1000000
                   // CAST(len(string_split(text, ' ')) AS BIGINT) AS q_ppm
          FROM surv),
        cr_m AS (
          SELECT c.doc_id,
                 row_number() OVER (PARTITION BY c.component_id
                   ORDER BY q.q_ppm DESC, c.doc_id) AS rn
          FROM cr_comp c JOIN cr_q q USING (doc_id)),
        cr_dsurv AS (
          SELECT s.doc_id, s.lang, s.source, s.text
          FROM surv s
          LEFT JOIN cr_comp cp ON cp.doc_id = s.doc_id
          LEFT JOIN cr_m m ON m.doc_id = s.doc_id
          WHERE cp.doc_id IS NULL OR m.rn = 1),
        cr_eg AS (
          SELECT DISTINCT ('0x' || substr(md5(array_to_string(
              list_transform(range(i, i + 5), j -> toks[j]), ' ')),
              1, 14))::BIGINT AS g
          FROM (SELECT string_split(text, ' ') AS toks
                FROM cr_base WHERE is_eval),
               unnest(range(1, len(toks) - 5 + 2)) AS t(i)
          WHERE len(toks) >= 5),
        cr_pg AS (
          SELECT DISTINCT d.doc_id, ('0x' || substr(md5(array_to_string(
              list_transform(range(i, i + 5), j -> toks[j]), ' ')),
              1, 14))::BIGINT AS g
          FROM (SELECT doc_id, string_split(text, ' ') AS toks
                FROM cr_dsurv) d,
               unnest(range(1, len(toks) - 5 + 2)) AS t(i)
          WHERE len(toks) >= 5),
        cr_hit AS (
          SELECT p.doc_id,
                 CAST(sum(CASE WHEN e.g IS NOT NULL THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_matched
          FROM cr_pg p LEFT JOIN cr_eg e ON e.g = p.g GROUP BY 1),
        cr_clean AS (
          SELECT d.doc_id, d.source, d.text
          FROM cr_dsurv d LEFT JOIN cr_hit h ON h.doc_id = d.doc_id
          WHERE COALESCE(h.n_matched, 0) < 3),
        cr_sb AS (
          SELECT doc_id, source AS stratum,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
                 CAST(len([x FOR x IN string_split(text, ' ')
                           IF x IN ('the', 'a', 'of', 'and', 'to')])
                      AS BIGINT) * 1000000
                   // CAST(len(string_split(text, ' ')) AS BIGINT) AS q_ppm
          FROM cr_clean),
        cr_sc AS (
          SELECT *, CAST(sum(toks) OVER (PARTITION BY stratum
                   ORDER BY q_ppm DESC, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS cum_toks
          FROM cr_sb)
        SELECT doc_id, stratum, toks, q_ppm, cum_toks
        FROM cr_sc WHERE cum_toks <= 20000
        ORDER BY stratum, cum_toks"""),
      desc = "release pipeline composed: quality→dedup→decontam→budget, one oracle"),

    // ── nightly ingest acceptance gate ──────────────────────────────
    // Corpus.ingestGate: per-new-doc first-failing admission status
    // (quality reason → dup_of_corpus → dup_in_batch → contaminated →
    // accepted) — the incremental front door beside corpus_release's
    // full-corpus rebuild. New = doc_id ≥ 400 (the incremental-family
    // split); eval split = OLD docs' md5 tail (disjoint from the new
    // batch — a doc probing a gram set containing itself would always
    // flag). Rides the shared full-corpus dedup-edge frame.
    // ── JSONL ingest: the wire format LLM corpora actually ship in ──
    // One JSON object per line, schema-validated on read, with the
    // real-world failure mode built in: every 50th line is TRUNCATED
    // mid-record (the torn-write/partial-download class), and the
    // parse must yield typed NULLs for it — never a throw, never a
    // silently-wrong row. Serialization is to_json over a nested
    // struct; the parse is schema'd from_json (codegen'd Jackson —
    // the engine surface, not a UDF). The oracle recomputes every
    // parsed field from the SOURCE columns, so the hash proves the
    // serialize → corrupt → parse pipeline lands exactly where it
    // should: full round trip on intact lines, clean nulls on torn
    // ones. One scan, embarrassingly parallel at any SF.
    "corpus_jsonl_ingest" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        val lines = docs(s, dir)
          .withColumn("n_toks", size(split($"text", " ")).cast("long"))
          .withColumn("line0", to_json(struct($"doc_id".as("id"),
            $"text",
            struct(lit("en").as("lang"), $"n_toks".as("toks"))
              .as("meta"))))
          .withColumn("line", when($"doc_id" % 50 === 0,
            substring($"line0", 1, 24)).otherwise($"line0"))
        val schema = "STRUCT<id: BIGINT, text: STRING, " +
          "meta: STRUCT<lang: STRING, toks: BIGINT>>"
        lines
          .withColumn("j", expr(s"from_json(line, '$schema')"))
          .select($"doc_id",
            $"j.id".isNotNull.as("ok"),
            $"j.id".as("id_parsed"),
            $"j.meta.toks".as("toks"),
            coalesce($"j.text" === $"text", lit(false)).as("text_match"))
          .orderBy($"doc_id")
      },
      oracle = Some("""
        SELECT doc_id,
               doc_id % 50 <> 0 AS ok,
               CASE WHEN doc_id % 50 <> 0 THEN doc_id END AS id_parsed,
               CASE WHEN doc_id % 50 <> 0
                    THEN CAST(len(string_split(text, ' ')) AS BIGINT)
               END AS toks,
               doc_id % 50 <> 0 AS text_match
        FROM documents ORDER BY doc_id"""),
      desc = "JSONL ingest: schema'd from_json round trip, torn lines yield typed NULLs"),

    "corpus_ingest" -> Q(
      fn = (s, dir) => {
        val ev = expr(
          "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 2), 16, 10) AS BIGINT) % 10")
        Corpus.ingestGate(docs(s, dir),
            isNew = col("doc_id") >= 400L,
            isEval = col("doc_id") < 400L && ev >= 8)
          .orderBy(col("doc_id"))
      },
      oracle = Some(s"""
        WITH RECURSIVE $MINHASH_PAIRS_CTES,
        cc_canon AS (
          SELECT doc_id, sha256(array_to_string(list_sort(list_distinct(
            string_split(text, ' '))), ' ')) AS key
          FROM documents),
        cc_keep AS (
          SELECT doc_id, min(doc_id) OVER (PARTITION BY key) AS keep
          FROM cc_canon),
        cc_exact AS (
          SELECT keep AS src, doc_id AS dst FROM cc_keep WHERE doc_id <> keep),
        cc_e0 AS (
          SELECT src, dst FROM cc_exact
          UNION
          SELECT doc_a, doc_b FROM mh_near),
        cc_edges AS (
          SELECT src, dst FROM cc_e0 UNION SELECT dst, src FROM cc_e0),
        reach(a, b) AS (
          SELECT src, src FROM cc_edges
          UNION
          SELECT r.a, e.dst FROM reach r JOIN cc_edges e ON e.src = r.b),
        ig_comp AS (
          SELECT a AS doc_id, min(b) AS component_id FROM reach GROUP BY a),
        ig_old AS (
          SELECT DISTINCT component_id, true AS has_old
          FROM ig_comp WHERE doc_id < 400),
        ig_t AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS tok
          FROM documents WHERE doc_id >= 400),
        ig_c AS (SELECT doc_id, tok, count(*) AS c FROM ig_t GROUP BY 1, 2),
        ig_s AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
                        CAST(max(c) AS BIGINT) AS top_c
                 FROM ig_c GROUP BY 1),
        ig_eg AS (
          SELECT DISTINCT ('0x' || substr(md5(array_to_string(
              list_transform(range(i, i + 5), j -> toks[j]), ' ')),
              1, 14))::BIGINT AS g
          FROM (SELECT string_split(text, ' ') AS toks
                FROM documents
                WHERE doc_id < 400 AND ('0x' || substr(md5(
                  CAST(doc_id AS VARCHAR)), 1, 2))::BIGINT % 10 >= 8),
               unnest(range(1, len(toks) - 5 + 2)) AS t(i)
          WHERE len(toks) >= 5),
        ig_pg AS (
          SELECT DISTINCT d.doc_id, ('0x' || substr(md5(array_to_string(
              list_transform(range(i, i + 5), j -> toks[j]), ' ')),
              1, 14))::BIGINT AS g
          FROM (SELECT doc_id, string_split(text, ' ') AS toks
                FROM documents WHERE doc_id >= 400) d,
               unnest(range(1, len(toks) - 5 + 2)) AS t(i)
          WHERE len(toks) >= 5),
        ig_hit AS (
          SELECT p.doc_id,
                 CAST(sum(CASE WHEN e.g IS NOT NULL THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_matched
          FROM ig_pg p LEFT JOIN ig_eg e ON e.g = p.g GROUP BY 1),
        ig_keep AS (
          SELECT c.component_id, min(c.doc_id) AS keep
          FROM ig_comp c
          JOIN documents d2 ON d2.doc_id = c.doc_id
          JOIN ig_s s2 ON s2.doc_id = c.doc_id
          WHERE c.doc_id >= 400
            AND NOT (length(d2.text) < 100 OR s2.n_tokens < 18
                     OR CAST(s2.top_c AS DOUBLE) / s2.n_tokens > 0.125)
          GROUP BY 1)
        SELECT d.doc_id, s.n_tokens,
               CASE
                 WHEN length(d.text) < 100 THEN 'too_short'
                 WHEN s.n_tokens < 18 THEN 'too_few_tokens'
                 WHEN CAST(s.top_c AS DOUBLE) / s.n_tokens > 0.125
                   THEN 'repetitive'
                 WHEN o.has_old THEN 'dup_of_corpus'
                 WHEN c.component_id IS NOT NULL
                      AND d.doc_id <> k.keep THEN 'dup_in_batch'
                 WHEN COALESCE(h.n_matched, 0) >= 3 THEN 'contaminated'
                 ELSE 'accepted' END AS status
        FROM documents d
        JOIN ig_s s ON s.doc_id = d.doc_id
        LEFT JOIN ig_comp c ON c.doc_id = d.doc_id
        LEFT JOIN ig_old o ON o.component_id = c.component_id
        LEFT JOIN ig_keep k ON k.component_id = c.component_id
        LEFT JOIN ig_hit h ON h.doc_id = d.doc_id
        WHERE d.doc_id >= 400
        ORDER BY d.doc_id"""),
      desc = "nightly ingest gate: first-failing admission status per new doc"),

    // ── cross-corpus LINE dedup (the RefinedWeb/CCNet operator) ─────
    // Web curation dedups at LINE granularity across the WHOLE corpus
    // (boilerplate sentences repeat across pages; first occurrence
    // wins, later repeats are dropped and the document is
    // reassembled). The corpus text has no newlines, so lines are
    // derived as non-overlapping 3-word chunks — small enough that
    // chunks genuinely repeat across docs at gate SF, so the filter
    // BINDS. Plan shape is the scale-right one: one shuffle keyed on
    // the line itself (the global first-occurrence window), one
    // groupBy doc_id to reassemble in line order — both linear; at
    // 100 TB the line key would be a 64-bit hash instead of the
    // string, same plan. Total order inside the window is
    // (doc_id, idx): deterministic survivor, same tie-break in both
    // engines.
    "corpus_line_dedup" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        val lines = docs(s, dir)
          .withColumn("words", split($"text", " "))
          .select($"doc_id", posexplode(expr(
            "transform(sequence(0, (size(words) + 2) div 3 - 1), " +
              "i -> array_join(slice(words, i * 3 + 1, 3), ' '))"))
            .as(Seq("idx", "line")))
        val w = Window.partitionBy($"line").orderBy($"doc_id", $"idx")
        lines
          .withColumn("keep", row_number().over(w) === 1)
          .groupBy($"doc_id")
          .agg(count(lit(1)).as("n_lines"),
            sum($"keep".cast("long")).as("n_kept"),
            array_join(expr(
              "transform(filter(array_sort(collect_list(" +
                "struct(idx, line, keep))), s -> s.keep), s -> s.line)"),
              " ").as("text_clean"))
          .orderBy($"doc_id")
      },
      oracle = Some("""
        WITH w AS (
          SELECT doc_id, string_split(text, ' ') AS words
          FROM documents),
        ix AS (
          SELECT doc_id, words,
                 unnest(generate_series(0,
                   CAST((len(words) + 2) // 3 AS BIGINT) - 1)) AS idx
          FROM w),
        l AS (
          SELECT doc_id, idx,
                 array_to_string(words[CAST(idx * 3 + 1 AS BIGINT) :
                   CAST(idx * 3 + 3 AS BIGINT)], ' ') AS line
          FROM ix),
        k AS (
          SELECT doc_id, idx, line,
                 row_number() OVER (PARTITION BY line
                   ORDER BY doc_id, idx) AS rn
          FROM l)
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_lines,
               CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_kept,
               coalesce(string_agg(CASE WHEN rn = 1 THEN line END, ' '
                 ORDER BY idx), '') AS text_clean
        FROM k GROUP BY doc_id ORDER BY doc_id"""),
      desc = "cross-corpus line dedup: first occurrence wins, docs reassembled in line order"),

    // ── exact dedup after canonicalization ──────────────────────────
    // Raw texts are all unique; canonical form = sorted distinct token
    // set, which the corpus DOES duplicate (word-order shuffles).
    "dedup_exact" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        docs(s, dir)
          .withColumn("canon",
            concat_ws(" ", array_sort(array_distinct(split($"text", " ")))))
          .groupBy(sha2($"canon", 256).as("canon_sha"))
          .agg(count(lit(1)).as("n_dups"), min($"doc_id").as("keep_doc_id"),
               max($"doc_id").as("max_doc_id"))
          .filter($"n_dups" > 1)
          .orderBy($"canon_sha")
      },
      oracle = Some("""
        SELECT sha256(array_to_string(list_sort(list_distinct(
                 string_split(text, ' '))), ' ')) AS canon_sha,
               count(*) AS n_dups,
               min(doc_id) AS keep_doc_id,
               max(doc_id) AS max_doc_id
        FROM documents
        GROUP BY 1 HAVING count(*) > 1 ORDER BY canon_sha"""),
      desc = "exact dedup via canonicalized-text hash groups"),

    // ── MinHash + LSH near-dup detection ────────────────────────────
    // shingle → 8 minhashes → 4 bands of 2 → band-bucket self-join →
    // exact Jaccard verify ≥ 0.5. The LSH join is the scale path: no
    // all-pairs comparison, candidates only within equal band buckets.
    "dedup_minhash" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        minhashPairs(s, dir).orderBy($"doc_a", $"doc_b")
      },
      oracle = Some(s"""
        WITH $MINHASH_PAIRS_CTES
        SELECT doc_a, doc_b, jaccard FROM mh_near
        ORDER BY doc_a, doc_b"""),
      desc = "MinHash+LSH near-dup pairs (band-bucket join, no all-pairs)"),

    // ── MinHash estimator accuracy (sketch-quality eval) ────────────
    // The dedup counterpart of ann_recall: per LSH candidate pair,
    // the 8-hash signature agreement (est_x8/8 = the unbiased MinHash
    // Jaccard estimator) beside the exact token-set Jaccard in ppm,
    // and the absolute error — the readout that tells a pipeline
    // whether 8 hashes suffice at its τ boundary before trusting the
    // filter at 100 TB. Rides the identical signature/band machinery.
    "dedup_minhash_est" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        Corpus.minhashEstimate(docs(s, dir)).orderBy($"doc_a", $"doc_b")
      },
      oracle = Some(s"""
        WITH $MINHASH_PAIRS_CTES,
        mh_est AS (
          SELECT c.doc_a, c.doc_b,
                 CAST(${(0 until 8).map(i =>
                   s"(CASE WHEN a.mh$i = b.mh$i THEN 1 ELSE 0 END)")
                   .mkString(" + ")} AS BIGINT) AS est_x8,
                 CAST(len(list_intersect(a.toks, b.toks)) AS BIGINT)
                   * 1000000
                   // CAST(len(list_distinct(list_concat(a.toks, b.toks)))
                         AS BIGINT) AS jacc_ppm
          FROM mh_cand c
          JOIN mh_mh a ON a.doc_id = c.doc_a
          JOIN mh_mh b ON b.doc_id = c.doc_b)
        SELECT doc_a, doc_b, est_x8, jacc_ppm,
               abs(est_x8 * 125000 - jacc_ppm) AS err_ppm
        FROM mh_est ORDER BY doc_a, doc_b"""),
      desc = "MinHash estimate vs exact Jaccard per candidate pair + error"),

    // ── LSH S-curve eval (recall axis of the sketch family) ─────────
    // Corpus.lshCurve: all-pairs over a bounded slice (doc_id < 100 —
    // the knn_brute baseline posture), empirical ∃-band collision vs
    // the closed-form 1−(1−j²)⁴ in exact integer ppm, per Jaccard
    // decile. dedup_minhash_est measures estimator PRECISION on
    // surfaced pairs; this measures what the index SURFACES at each
    // similarity — the curve bands/rows are chosen on.
    "dedup_lsh_curve" -> Q(
      fn = (s, dir) =>
        // the public API IS the implementation — the driver's oracle
        // check verifies Corpus.lshCurve directly.
        Corpus.lshCurve(docs(s, dir), slice = col("doc_id") < 100L),
      oracle = Some(s"""
        WITH ${minhashPairsCtes(
          "(SELECT * FROM documents WHERE doc_id < 100)")},
        lc_p AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 (${(0 until 4).map(b =>
                   s"(a.mh${2 * b} = b.mh${2 * b} AND " +
                     s"a.mh${2 * b + 1} = b.mh${2 * b + 1})")
                   .mkString(" OR ")}) AS collide,
                 CAST(len(list_intersect(a.toks, b.toks)) AS BIGINT)
                   * 1000000
                   // CAST(len(list_distinct(list_concat(a.toks, b.toks)))
                         AS BIGINT) AS j_ppm
          FROM mh_mh a JOIN mh_mh b ON a.doc_id < b.doc_id),
        lc_t AS (
          SELECT collide, j_ppm,
                 least(j_ppm // 100000, 9) AS bucket,
                 1000000 - (m2 * m2 // 1000000) AS theory_ppm
          FROM (SELECT *, (m * m // 1000000) AS m2 FROM (
                  SELECT *, 1000000 - (j_ppm * j_ppm // 1000000) AS m
                  FROM lc_p)))
        SELECT CAST(bucket AS BIGINT) AS bucket,
               CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(sum(CASE WHEN collide THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_collide,
               CAST(sum(CASE WHEN collide THEN 1 ELSE 0 END) * 1000000
                 // count(*) AS BIGINT) AS empirical_ppm,
               CAST(sum(theory_ppm) // count(*) AS BIGINT) AS theory_ppm
        FROM lc_t GROUP BY 1 ORDER BY bucket"""),
      desc = "LSH S-curve: empirical band collision vs closed-form per Jaccard decile"),

    // ── incremental near-dup detection (daily-ingest shape) ─────────
    // Docs with id ≥ 400 play the "new batch"; pairs are generated
    // only for buckets a new doc touches — the historical×historical
    // space is never re-examined (at 100 TB: a tiny×huge equi-join
    // per ingest batch against the persisted signature table). The
    // oracle is simply the FULL pair set filtered to ≥1 new side —
    // proving the incremental path finds exactly the pairs a backfill
    // would.
    "dedup_incremental" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        Corpus.minhashPairsIncremental(docs(s, dir), isNew = $"doc_id" >= 400,
            minJaccard = 0.5)
          .orderBy($"doc_a", $"doc_b")
      },
      oracle = Some(s"""
        WITH $MINHASH_PAIRS_CTES
        SELECT doc_a, doc_b, jaccard FROM mh_near
        WHERE doc_a >= 400 OR doc_b >= 400
        ORDER BY doc_a, doc_b"""),
      desc = "incremental dedup: new batch × full corpus, backfill-exact"),

    // ── decontamination: near-dups crossing the train/test split ────
    // The check every training pipeline runs before shipping a split:
    // a near-duplicate pair with one side in train and the other in
    // valid/test leaks evaluation data. Pure composition: minhash
    // near-dup pairs × the deterministic hash split, keep pairs whose
    // sides land in different splits.
    "dedup_cross_split" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        val h = expr(
          "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 2), 16, 10) AS BIGINT) % 10")
        val split = docs(s, dir)
          .withColumn("split",
            when(h < 8, "train").when(h < 9, "valid").otherwise("test"))
          .select($"doc_id", $"split")
        minhashPairs(s, dir)
          .join(split.select($"doc_id".as("doc_a"), $"split".as("split_a")),
            Seq("doc_a"))
          .join(split.select($"doc_id".as("doc_b"), $"split".as("split_b")),
            Seq("doc_b"))
          .filter($"split_a" =!= $"split_b")
          .select($"doc_a", $"split_a", $"doc_b", $"split_b", $"jaccard")
          .orderBy($"doc_a", $"doc_b")
      },
      oracle = Some(s"""
        WITH $MINHASH_PAIRS_CTES,
        sp AS (
          SELECT doc_id,
            CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2))
                   ::BIGINT % 10 < 8 THEN 'train'
                 WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2))
                   ::BIGINT % 10 < 9 THEN 'valid'
                 ELSE 'test' END AS split
          FROM documents)
        SELECT n.doc_a, sa.split AS split_a, n.doc_b, sb.split AS split_b,
               n.jaccard
        FROM mh_near n
        JOIN sp sa ON sa.doc_id = n.doc_a
        JOIN sp sb ON sb.doc_id = n.doc_b
        WHERE sa.split <> sb.split
        ORDER BY doc_a, doc_b"""),
      desc = "decontamination: near-dup pairs crossing train/valid/test"),

    // ── dedup clustering: near-dup pairs → connected components ─────
    // The step every dedup pipeline needs after pair generation: merge
    // exact-dup groups and minhash near-dup pairs into clusters and
    // pick one canonical keeper (min doc_id) per cluster. Spark side
    // is iterative min-label propagation (the Pregel/GraphX form: each
    // round a vertex takes the min label among itself and neighbors;
    // converges in graph-diameter rounds — dup clusters are shallow).
    // The per-round driver check is one scalar count, the data never
    // leaves executors; each round's labels materialize to truncate
    // lineage. Oracle: DuckDB recursive-CTE transitive closure.
    "dedup_components" -> Q(
      fn = (s, dir) =>
        Corpus.dedupComponents(docs(s, dir)).orderBy(col("doc_id")),
      oracle = Some(s"""
        WITH RECURSIVE $MINHASH_PAIRS_CTES,
        cc_canon AS (
          SELECT doc_id, sha256(array_to_string(list_sort(list_distinct(
            string_split(text, ' '))), ' ')) AS key
          FROM documents),
        cc_keep AS (
          SELECT doc_id, min(doc_id) OVER (PARTITION BY key) AS keep
          FROM cc_canon),
        cc_exact AS (
          SELECT keep AS src, doc_id AS dst FROM cc_keep WHERE doc_id <> keep),
        cc_e0 AS (
          SELECT src, dst FROM cc_exact
          UNION
          SELECT doc_a, doc_b FROM mh_near),
        cc_edges AS (
          SELECT src, dst FROM cc_e0 UNION SELECT dst, src FROM cc_e0),
        reach(a, b) AS (
          SELECT src, src FROM cc_edges
          UNION
          SELECT r.a, e.dst FROM reach r JOIN cc_edges e ON e.src = r.b)
        SELECT a AS doc_id, min(b) AS component_id
        FROM reach GROUP BY a ORDER BY doc_id"""),
      desc = "dedup clusters: exact+minhash edges → connected components"),

    // ── COUNT-PRESERVING dedup: keep one copy, keep the mass ────────
    // Hard dedup throws away the duplication signal; a training mix
    // often wants the opposite — one representative per cluster
    // carrying its cluster's multiplicity as a sampling WEIGHT (and
    // its token mass for budget math), so frequent documents stay
    // frequent without storing copies. Singletons are their own
    // cluster (weight 1): the output's Σweight = corpus row count and
    // Σsum_tokens = corpus token count, which is the invariant the
    // name promises. Rides the SHARED dedup edge frame like the other
    // components consumers; one groupBy over doc-count rows.
    "dedup_weighted" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        val d = docs(s, dir)
          .select($"doc_id",
            size(split($"text", " ")).cast("long").as("n_tokens"))
        val comp = Corpus.dedupComponents(docs(s, dir))
        d.join(comp, Seq("doc_id"), "left")
          .withColumn("component_id",
            coalesce($"component_id", $"doc_id"))
          .groupBy($"component_id")
          .agg(min($"doc_id").as("doc_id"),
            count(lit(1)).as("weight"),
            sum($"n_tokens").as("sum_tokens"))
          .select($"doc_id", $"component_id", $"weight", $"sum_tokens")
          .orderBy($"doc_id")
      },
      oracle = Some(s"""
        WITH RECURSIVE $MINHASH_PAIRS_CTES,
        dw_canon AS (
          SELECT doc_id, sha256(array_to_string(list_sort(list_distinct(
            string_split(text, ' '))), ' ')) AS key
          FROM documents),
        dw_keep AS (
          SELECT doc_id, min(doc_id) OVER (PARTITION BY key) AS keep
          FROM dw_canon),
        dw_exact AS (
          SELECT keep AS src, doc_id AS dst FROM dw_keep WHERE doc_id <> keep),
        dw_e0 AS (
          SELECT src, dst FROM dw_exact
          UNION
          SELECT doc_a, doc_b FROM mh_near),
        dw_edges AS (
          SELECT src, dst FROM dw_e0 UNION SELECT dst, src FROM dw_e0),
        reach(a, b) AS (
          SELECT src, src FROM dw_edges
          UNION
          SELECT r.a, e.dst FROM reach r JOIN dw_edges e ON e.src = r.b),
        dw_comp AS (
          SELECT a AS doc_id, min(b) AS component_id
          FROM reach GROUP BY a),
        dw_all AS (
          SELECT d.doc_id,
                 CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
                 COALESCE(c.component_id, d.doc_id) AS component_id
          FROM documents d LEFT JOIN dw_comp c ON c.doc_id = d.doc_id)
        SELECT min(doc_id) AS doc_id, component_id,
               CAST(count(*) AS BIGINT) AS weight,
               CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
        FROM dw_all GROUP BY component_id
        ORDER BY doc_id"""),
      desc = "count-preserving dedup: one representative per cluster with multiplicity weight + token mass"),

    // ── canonical pick: keep each dup cluster's BEST copy ───────────
    // Min-id survivorship is arbitrary; the curation step ranks
    // members by the quality family's stopword proxy and keeps the
    // top. Rides the shared dedup edge frame; the oracle replays
    // components + the quality ranking.
    "dedup_canonical" -> Q(
      fn = (s, dir) =>
        // the public API IS the implementation — the driver's oracle
        // check verifies Corpus.dedupCanonical directly.
        Corpus.dedupCanonical(docs(s, dir), stopwords = En)
          .orderBy(col("component_id")),
      oracle = Some(s"""
        WITH RECURSIVE $MINHASH_PAIRS_CTES,
        cc_canon AS (
          SELECT doc_id, sha256(array_to_string(list_sort(list_distinct(
            string_split(text, ' '))), ' ')) AS key
          FROM documents),
        cc_keep AS (
          SELECT doc_id, min(doc_id) OVER (PARTITION BY key) AS keep
          FROM cc_canon),
        cc_exact AS (
          SELECT keep AS src, doc_id AS dst FROM cc_keep WHERE doc_id <> keep),
        cc_e0 AS (
          SELECT src, dst FROM cc_exact
          UNION
          SELECT doc_a, doc_b FROM mh_near),
        cc_edges AS (
          SELECT src, dst FROM cc_e0 UNION SELECT dst, src FROM cc_e0),
        reach(a, b) AS (
          SELECT src, src FROM cc_edges
          UNION
          SELECT r.a, e.dst FROM reach r JOIN cc_edges e ON e.src = r.b),
        dc_comp AS (
          SELECT a AS doc_id, min(b) AS component_id FROM reach GROUP BY a),
        dc_q AS (
          SELECT doc_id,
                 CAST(len([x FOR x IN string_split(text, ' ')
                       IF x IN ('the', 'a', 'of', 'and', 'to')]) AS BIGINT)
                   * 1000000
                   // CAST(len(string_split(text, ' ')) AS BIGINT) AS q_ppm
          FROM documents),
        dc_m AS (
          SELECT c.component_id, c.doc_id, q.q_ppm,
                 row_number() OVER (PARTITION BY c.component_id
                   ORDER BY q.q_ppm DESC, c.doc_id) AS rn,
                 count(*) OVER (PARTITION BY c.component_id) AS n_members
          FROM dc_comp c JOIN dc_q q USING (doc_id))
        SELECT component_id, doc_id AS canonical_doc, n_members,
               q_ppm AS canonical_q_ppm
        FROM dc_m WHERE rn = 1 ORDER BY component_id"""),
      desc = "per-cluster canonical pick: best quality survives, not min id"),

    // ── incremental dedup clustering (the 7th incremental family) ───
    // The graph side of the daily dedup job: yesterday's labels come
    // back as star edges and only the new batch's edges propagate.
    // Old/new split = both endpoints < 400 vs any endpoint ≥ 400 (the
    // same TOTAL edge set as dedup_components, partitioned — this
    // isolates the CC-incremental claim from pair-generation corpus
    // effects); the oracle is dedup_components' full-run closure,
    // asserting the star-compression equality, which holds with NO
    // precondition on the split (CorpusSpec: interior / merging /
    // all-new / none-new). Rides the shared dedupEdges frame.
    "dedup_components_inc" -> Q(
      fn = (s, dir) => {
        val e = Corpus.dedupEdges(docs(s, dir))
        val oldE = e.filter(col("src") < 400 && col("dst") < 400)
        val newE = e.filter(col("src") >= 400 || col("dst") >= 400)
        Corpus.connectedComponentsIncremental(
            Corpus.connectedComponents(oldE), newE)
          .orderBy(col("doc_id"))
      },
      oracle = Some(s"""
        WITH RECURSIVE $MINHASH_PAIRS_CTES,
        cc_canon AS (
          SELECT doc_id, sha256(array_to_string(list_sort(list_distinct(
            string_split(text, ' '))), ' ')) AS key
          FROM documents),
        cc_keep AS (
          SELECT doc_id, min(doc_id) OVER (PARTITION BY key) AS keep
          FROM cc_canon),
        cc_exact AS (
          SELECT keep AS src, doc_id AS dst FROM cc_keep WHERE doc_id <> keep),
        cc_e0 AS (
          SELECT src, dst FROM cc_exact
          UNION
          SELECT doc_a, doc_b FROM mh_near),
        cc_edges AS (
          SELECT src, dst FROM cc_e0 UNION SELECT dst, src FROM cc_e0),
        reach(a, b) AS (
          SELECT src, src FROM cc_edges
          UNION
          SELECT r.a, e.dst FROM reach r JOIN cc_edges e ON e.src = r.b)
        SELECT a AS doc_id, min(b) AS component_id
        FROM reach GROUP BY a ORDER BY doc_id"""),
      desc = "incremental dedup clusters: old labels as star edges + new batch"),

    // ── SimHash near-dup detection ──────────────────────────────────
    // 32-bit simhash via bitwise vote over token hashes; candidate
    // pairs from 8-bit band buckets; hamming ≤ 6 verify.
    "dedup_simhash" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        // the public API IS the implementation — the driver's oracle
        // check therefore verifies Corpus.simhashPairs directly.
        // Flood guard rationale: a band bucket holding >512 docs is a
        // boilerplate flood (one sf0.1 bucket held 1,995 docs = 2M
        // pairs); the oracle applies the same cap.
        Corpus.simhashPairs(docs(s, dir), maxHamming = 6, bucketCap = 512)
          .orderBy($"doc_a", $"doc_b")
      },
      oracle = Some(s"""
        WITH tok AS (
          SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS t
          FROM documents),
        bits AS (
          SELECT doc_id, ${DUCK_TOKHASH.format("t")} & 4294967295 AS h,
                 unnest(range(0, 32)) AS bit
          FROM tok),
        votes AS (
          SELECT doc_id, bit,
                 sum(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS v
          FROM bits GROUP BY 1, 2),
        sim AS (
          SELECT doc_id,
                 sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << bit)
                     ELSE 0 END) AS simhash
          FROM votes GROUP BY 1),
        banded_all AS (
          ${(0 until 4).map(b =>
            s"SELECT doc_id, simhash, $b AS band, (simhash >> ${8 * b}) & 255 " +
            "AS bv FROM sim").mkString("\nUNION ALL\n")}),
        banded AS (
          SELECT doc_id, simhash, band, bv FROM (
            SELECT *, count(*) OVER (PARTITION BY band, bv) AS bsz
            FROM banded_all)
          WHERE bsz <= 512),
        pairs AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 a.simhash AS sh_a, b.simhash AS sh_b
          FROM banded a JOIN banded b
            ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id)
        SELECT doc_a, doc_b, bit_count(xor(sh_a, sh_b)) AS hamming
        FROM pairs WHERE bit_count(xor(sh_a, sh_b)) <= 6
        ORDER BY doc_a, doc_b"""),
      desc = "SimHash near-dup: bitwise vote, band buckets, hamming verify"),

    // ── SimHash calibration (the minhash_est twin) ──────────────────
    // Per Hamming notch of the surfaced pairs: exact token-Jaccard
    // count/mean/range — the monotone table an operator reads to set
    // maxHamming. Scale notes on Corpus.simhashEstimate.
    "dedup_simhash_est" -> Q(
      fn = (s, dir) =>
        // the public API IS the implementation — the driver's oracle
        // check verifies Corpus.simhashEstimate directly.
        Corpus.simhashEstimate(docs(s, dir), maxHamming = 6,
          bucketCap = 512),
      oracle = Some(s"""
        WITH tok AS (
          SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS t
          FROM documents),
        bits AS (
          SELECT doc_id, ${DUCK_TOKHASH.format("t")} & 4294967295 AS h,
                 unnest(range(0, 32)) AS bit
          FROM tok),
        votes AS (
          SELECT doc_id, bit,
                 sum(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS v
          FROM bits GROUP BY 1, 2),
        sim AS (
          SELECT doc_id,
                 sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << bit)
                     ELSE 0 END) AS simhash
          FROM votes GROUP BY 1),
        banded_all AS (
          ${(0 until 4).map(b =>
            s"SELECT doc_id, simhash, $b AS band, (simhash >> ${8 * b}) & 255 " +
            "AS bv FROM sim").mkString("\nUNION ALL\n")}),
        banded AS (
          SELECT doc_id, simhash, band, bv FROM (
            SELECT *, count(*) OVER (PARTITION BY band, bv) AS bsz
            FROM banded_all)
          WHERE bsz <= 512),
        pairs AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 a.simhash AS sh_a, b.simhash AS sh_b
          FROM banded a JOIN banded b
            ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id),
        tl AS (
          SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
          FROM documents),
        se AS (
          SELECT bit_count(xor(p.sh_a, p.sh_b)) AS hamming,
                 CAST(len(list_intersect(a.toks, b.toks)) AS BIGINT)
                   * 1000000
                   // CAST(len(list_distinct(list_concat(a.toks, b.toks)))
                         AS BIGINT) AS jacc_ppm
          FROM pairs p
          JOIN tl a ON a.doc_id = p.doc_a
          JOIN tl b ON b.doc_id = p.doc_b
          WHERE bit_count(xor(p.sh_a, p.sh_b)) <= 6)
        SELECT hamming, CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(sum(jacc_ppm) // count(*) AS BIGINT) AS mean_jacc_ppm,
               CAST(min(jacc_ppm) AS BIGINT) AS min_jacc_ppm,
               CAST(max(jacc_ppm) AS BIGINT) AS max_jacc_ppm
        FROM se GROUP BY hamming ORDER BY hamming"""),
      desc = "SimHash calibration: exact Jaccard count/mean/range per Hamming notch"),

    // ── character n-gram Jaccard within blocks ──────────────────────
    // Inverted-index formulation: explode distinct grams, equi-join on
    // (block, gram) to count intersections, derive the union from
    // per-doc gram counts (|A∪B| = |A|+|B|−|A∩B|). No array shipping
    // through the join, pure hash joins + aggs — the 100 TB shape.
    // (Pairs sharing zero grams have jaccard 0 < threshold — excluded
    // identically by construction.)
    "dedup_ngram" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        // the public API IS the implementation — the driver's oracle
        // check therefore verifies Corpus.ngramPairs directly. (Gram
        // generation inside is explode+substr+distinct — all
        // codegen'd; the transform(...,lambda) form evaluates an
        // interpreted lambda per gram, 5× slower at sf0.1. The
        // hot-gram candidate cap with the capped ∪ hot exact-score
        // decomposition is documented on Corpus.ngramPairs.)
        Corpus.ngramPairs(docs(s, dir),
            blockCols = Seq("lang", "source"), minJaccard = 0.5)
          .orderBy($"doc_a", $"doc_b")
      },
      oracle = Some(s"""
        WITH $NGRAM_SCORED_CTES
        SELECT lang, source, doc_a, doc_b,
               CAST(inter AS DOUBLE) / (len_a + len_b - inter) AS jaccard
        FROM nscored
        WHERE CAST(inter AS DOUBLE) / (len_a + len_b - inter) >= 0.5
        ORDER BY doc_a, doc_b"""),
      desc = "n-gram Jaccard near-dup: capped candidates, exact partitioned score"),

    // ── EXACT set-similarity join via prefix filtering (AllPairs) ───
    // Bayardo-Ma-Srikant 2007: the exact-completeness member of the
    // near-dup family — minhash/simhash are probabilistic and
    // dedup_ngram caps hot candidates; this one GUARANTEES every pair
    // with shingle-set Jaccard ≥ t is emitted, with pruning instead
    // of truncation. Set elements are 3-token shingles (raw token
    // order — the minhash shingle rule) hashed to 56-bit md5
    // prefixes: the corpus vocabulary is only 31 TOKENS (token-set
    // similarity is degenerate — 71k of 125k doc pairs at J≥0.6),
    // while the shingle universe is 27k+, where near-dup means
    // near-dup (25 pairs at sf0.01). Elements are globally ordered
    // rarest-first (ascending df, tie-broken by hash); a doc's
    // PREFIX is its first |x| − ⌈t·|x|⌉ + 1 elements. The
    // pigeonhole: J(x,y) ≥ t forces the two prefixes to share an
    // element, so the candidate join runs on prefix elements only —
    // the RAREST shingles by construction, the flood armor that
    // makes this the 100 TB shape. Candidates size-filtered
    // (t·max ≤ min), then verified with the exact intersection of
    // the 8-byte hash arrays (codegen'd collection op; 56 bits ⇒
    // collision-free at corpus scale, and BOTH engines hash
    // identically so the gate is exact either way). The oracle is
    // BRUTE FORCE over all pairs — hash equality proves the pruned
    // path loses nothing.
    "dedup_allpairs" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        // the public API IS the implementation — the driver's oracle
        // check verifies Corpus.allPairsJoin directly (brute-force
        // oracle: the pruned path must lose nothing)
        Corpus.allPairsJoin(docs(s, dir), tPpm = 600000L)
          .orderBy($"doc_a", $"doc_b")
      },
      oracle = Some("""
        WITH ap_tk AS (
          SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        ap_i AS (
          SELECT doc_id, ts,
                 unnest(generate_series(1,
                   CASE WHEN len(ts) >= 3 THEN len(ts) - 2 ELSE 1 END))
                   AS i
          FROM ap_tk),
        ap_s AS (
          SELECT DISTINCT doc_id,
                 ('0x' || substr(md5(
                   CASE WHEN len(ts) >= 3
                        THEN ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]
                        ELSE array_to_string(ts, ' ') END), 1, 14))
                   ::BIGINT AS h
          FROM ap_i),
        ap_l AS (
          SELECT doc_id, list_sort(list(h)) AS hs,
                 CAST(count(*) AS BIGINT) AS sz
          FROM ap_s GROUP BY doc_id),
        ap_p AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 CAST(len(list_intersect(a.hs, b.hs)) AS BIGINT) AS inter,
                 a.sz AS sz_a, b.sz AS sz_b
          FROM ap_l a JOIN ap_l b ON a.doc_id < b.doc_id)
        SELECT doc_a, doc_b, inter, sz_a, sz_b,
               inter * 1000000 // (sz_a + sz_b - inter) AS jacc_ppm
        FROM ap_p
        WHERE inter * 1000000 >= (sz_a + sz_b - inter) * 600000
        ORDER BY doc_a, doc_b"""),
      desc = "AllPairs exact similarity join: rarest-first prefix filter, brute-force oracle proves zero loss"),

    // ── incremental AllPairs: new batch × corpus, still exact ───────
    // The ingest-cadence form (every dedup family carries one —
    // winnow_inc, spans_inc, components_inc): candidates are
    // new-prefix × all-prefix only, so the nightly batch never
    // re-pairs the settled corpus with itself. The pigeonhole is
    // side-symmetric — any pair with J ≥ t shares a prefix element
    // regardless of which side is new — so restricting ONE join side
    // to new docs keeps every new-touching pair: the oracle is the
    // batch brute force filtered to pairs touching a new doc,
    // row-for-row. Truly incremental since r14: the shingle frame,
    // the OLD-corpus element-df index, and the old docs' prefix
    // frame are session-persisted (materializeShared; bucketed
    // tables at 100 TB), the global element order is FROZEN to the
    // old-corpus df (valid under any fixed total order — pigeonhole
    // + positional filter are order-agnostic), and df maintenance is
    // the additive allPairsDfMerge — a batch shingles and ranks only
    // its own docs, O(batch + index probe), never O(corpus).
    "dedup_allpairs_inc" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        // the public API IS the implementation
        Corpus.allPairsJoin(docs(s, dir), tPpm = 600000L,
            isNew = Some(col("doc_id") >= 400L))
          .orderBy($"doc_a", $"doc_b")
      },
      oracle = Some("""
        WITH ai_tk AS (
          SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        ai_i AS (
          SELECT doc_id, ts,
                 unnest(generate_series(1,
                   CASE WHEN len(ts) >= 3 THEN len(ts) - 2 ELSE 1 END))
                   AS i
          FROM ai_tk),
        ai_s AS (
          SELECT DISTINCT doc_id,
                 ('0x' || substr(md5(
                   CASE WHEN len(ts) >= 3
                        THEN ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]
                        ELSE array_to_string(ts, ' ') END), 1, 14))
                   ::BIGINT AS h
          FROM ai_i),
        ai_l AS (
          SELECT doc_id, list_sort(list(h)) AS hs,
                 CAST(count(*) AS BIGINT) AS sz
          FROM ai_s GROUP BY doc_id),
        ai_p AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 CAST(len(list_intersect(a.hs, b.hs)) AS BIGINT) AS inter,
                 a.sz AS sz_a, b.sz AS sz_b
          FROM ai_l a JOIN ai_l b ON a.doc_id < b.doc_id)
        SELECT doc_a, doc_b, inter, sz_a, sz_b,
               inter * 1000000 // (sz_a + sz_b - inter) AS jacc_ppm
        FROM ai_p
        WHERE inter * 1000000 >= (sz_a + sz_b - inter) * 600000
          AND (doc_a >= 400 OR doc_b >= 400)
        ORDER BY doc_a, doc_b"""),
      desc = "incremental AllPairs: new-prefix x corpus-prefix candidates, exact vs the filtered brute force"),

    // ── the AllPairs index-maintenance law, hash-gated ──────────────
    // dedup_allpairs_inc consumes the persisted element-df index;
    // this query checks the law that MAINTAINS it across ingests:
    // df(old ∪ batch) by ADDITIVE merge (allPairsDfMerge) must equal
    // the from-scratch count — the DuckDB oracle IS the from-scratch
    // df over the full corpus, so the merge path is proven against an
    // independent recomputation, not against itself. At 100 TB this
    // is the difference between a nightly O(batch) index update and
    // re-counting the corpus.
    "dedup_allpairs_index" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        val d = docs(s, dir)
        val isNew = $"doc_id" >= 400L
        val sh = Corpus.allPairsShinglesPublic(d)
        val dfOld = sh.filter(!isNew)
          .groupBy($"h").agg(count(lit(1)).as("df"))
        Corpus.allPairsDfMerge(dfOld, sh.filter(isNew))
          .orderBy($"h")
      },
      oracle = Some("""
        WITH ax_tk AS (
          SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        ax_i AS (
          SELECT doc_id, ts,
                 unnest(generate_series(1,
                   CASE WHEN len(ts) >= 3 THEN len(ts) - 2 ELSE 1 END))
                   AS i
          FROM ax_tk),
        ax_s AS (
          SELECT DISTINCT doc_id,
                 ('0x' || substr(md5(
                   CASE WHEN len(ts) >= 3
                        THEN ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]
                        ELSE array_to_string(ts, ' ') END), 1, 14))
                   ::BIGINT AS h
          FROM ax_i)
        SELECT h, CAST(count(*) AS BIGINT) AS df
        FROM ax_s GROUP BY h ORDER BY h"""),
      desc = "AllPairs index maintenance: additive df merge equals the from-scratch corpus count"),

    // ── winnowing fingerprints (substring-granular overlap) ─────────
    // The MOSS detector: any shared character run ≥ w+k-1 (= 17 chars
    // here) leaves ≥1 common window-min fingerprint, so SMALL shared
    // passages in otherwise-different docs surface — the case both
    // set-Jaccard and whole-doc minhash dilute away. Tie-break and
    // hash are packed into one integer so both engines pick identical
    // fingerprints. (k=5/w=4 measured 52k pairs at sf0.01 — common
    // 8-char English runs pair half the corpus; 10/8/5/16 measures
    // 66, an actual near-dup signal.)
    "dedup_winnow" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        // the public API IS the implementation — the driver's oracle
        // check verifies Corpus.winnowPairs directly.
        Corpus.winnowPairs(docs(s, dir), k = 10, w = 8,
            minShared = 5L, maxDocFreq = 16L)
          .orderBy($"doc_a", $"doc_b")
      },
      oracle = Some(s"""
        WITH wn_grams AS (
          SELECT doc_id, i,
                 (${DUCK_TOKHASH.format("substr(text, i, 10)")}) % 1000003
                   AS h
          FROM documents,
               unnest(range(1, length(text) - 10 + 2)) AS t(i)),
        wn_win AS (
          SELECT doc_id, i,
            min(h * 2097152 + (2097151 - i)) OVER (
              PARTITION BY doc_id ORDER BY i
              ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS c
          FROM wn_grams),
        wn_fp0 AS (
          SELECT DISTINCT doc_id, c // 2097152 AS h
          FROM wn_win WHERE i >= 8),
        wn_fp AS (
          SELECT doc_id, h FROM (
            SELECT *, count(*) OVER (PARTITION BY h) AS df FROM wn_fp0)
          WHERE df <= 16)
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               count(*) AS n_shared
        FROM wn_fp a JOIN wn_fp b ON a.h = b.h AND a.doc_id < b.doc_id
        GROUP BY 1, 2
        HAVING count(*) >= 5
        ORDER BY doc_a, doc_b"""),
      desc = "winnowing fingerprints: window-min k-gram hashes, shared-run pairs"),

    // ── incremental winnowing: new batch × corpus ───────────────────
    // Completes the incremental story across the dedup families
    // (minhash, semantic, spans, winnow): only new-doc fingerprints
    // probe the full frame; historical×historical never re-examined.
    // Oracle = the full winnow pair set restricted to ≥1 new side.
    "dedup_winnow_inc" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        Corpus.winnowPairsIncremental(docs(s, dir),
            isNew = $"doc_id" >= 400, k = 10, w = 8,
            minShared = 5L, maxDocFreq = 16L)
          .orderBy($"doc_a", $"doc_b")
      },
      oracle = Some(s"""
        WITH wn_grams AS (
          SELECT doc_id, i,
                 (${DUCK_TOKHASH.format("substr(text, i, 10)")}) % 1000003
                   AS h
          FROM documents,
               unnest(range(1, length(text) - 10 + 2)) AS t(i)),
        wn_win AS (
          SELECT doc_id, i,
            min(h * 2097152 + (2097151 - i)) OVER (
              PARTITION BY doc_id ORDER BY i
              ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS c
          FROM wn_grams),
        wn_fp0 AS (
          SELECT DISTINCT doc_id, c // 2097152 AS h
          FROM wn_win WHERE i >= 8),
        wn_fp AS (
          SELECT doc_id, h FROM (
            SELECT *, count(*) OVER (PARTITION BY h) AS df FROM wn_fp0)
          WHERE df <= 16)
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               count(*) AS n_shared
        FROM wn_fp a JOIN wn_fp b ON a.h = b.h AND a.doc_id < b.doc_id
        WHERE a.doc_id >= 400 OR b.doc_id >= 400
        GROUP BY 1, 2
        HAVING count(*) >= 5
        ORDER BY doc_a, doc_b"""),
      desc = "incremental winnowing: new fingerprints probe the corpus frame"),

    // ── containment pairs: the asymmetric dedup family ──────────────
    // C = |A∩B| / min(|A|,|B|): a short doc quoted verbatim inside a
    // long one scores jaccard ≈ |small|/|big| (invisible at any sane
    // jaccard threshold) but containment 1.0 — the quote/boilerplate-
    // inclusion and test-set-leakage shape. Shares dedup_ngram's
    // inverted index, candidate cap, and exact capped ∪ hot scoring.
    "dedup_containment" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        // the public API IS the implementation — the driver's oracle
        // check verifies Corpus.containmentPairs directly.
        Corpus.containmentPairs(docs(s, dir),
            blockCols = Seq("lang", "source"), minContainment = 0.8)
          .orderBy($"doc_a", $"doc_b")
      },
      oracle = Some(s"""
        WITH $NGRAM_SCORED_CTES
        SELECT lang, source, doc_a, doc_b,
               CAST(inter AS DOUBLE) / least(len_a, len_b) AS containment
        FROM nscored
        WHERE CAST(inter AS DOUBLE) / least(len_a, len_b) >= 0.8
        ORDER BY doc_a, doc_b"""),
      desc = "containment near-dup: |A∩B|/min — catches doc-inside-doc quotes"),

    // ── corpus-level overlap: exact shingle Jaccard + KMV sketch ────
    // Dataset-to-dataset overlap (this crawl vs last, train vs eval):
    // the exact number and the k-minimum-values estimate you'd keep
    // as a persisted per-corpus sketch, side by side with their
    // delta. Sides come from the same md5 doc_id split family as
    // text_split_assign.
    "corpus_overlap" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        val side = expr(
          "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 2), 16, 10) AS BIGINT) % 2")
        Corpus.corpusOverlap(docs(s, dir), side, k = 256)
          .orderBy($"n_sh_a")
      },
      oracle = Some("""
        WITH sides AS (
          SELECT ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2))::BIGINT
                   % 2 AS side,
                 string_split(text, ' ') AS raw
          FROM documents),
        sh AS (
          SELECT DISTINCT side,
                 unnest(CASE WHEN len(raw) >= 3 THEN
                     list_transform(range(1, len(raw) - 1),
                       i -> raw[i] || ' ' || raw[i + 1] || ' ' || raw[i + 2])
                   ELSE [array_to_string(raw, ' ')] END) AS s
          FROM sides),
        flags0 AS (
          SELECT s,
                 max(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS in_a,
                 max(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS in_b
          FROM sh GROUP BY 1),
        flags AS (
          SELECT *, ('0x' || substr(md5(s), 1, 14))::BIGINT AS h
          FROM flags0),
        exact AS (
          SELECT CAST(sum(in_a) AS BIGINT) AS n_sh_a,
                 CAST(sum(in_b) AS BIGINT) AS n_sh_b,
                 CAST(sum(in_a * in_b) AS BIGINT) AS n_inter
          FROM flags),
        kmv AS (
          SELECT CAST(sum(in_a * in_b) AS BIGINT) AS k_inter,
                 max(rk) AS k_used
          FROM (SELECT in_a, in_b,
                       row_number() OVER (ORDER BY h ASC, s ASC) AS rk
                FROM flags) t
          WHERE rk <= 256)
        SELECT n_sh_a, n_sh_b, n_inter,
               n_inter * 1000000 // (n_sh_a + n_sh_b - n_inter)
                 AS jaccard_ppm,
               k_inter * 1000000 // k_used AS kmv_ppm,
               abs(k_inter * 1000000 // k_used
                   - n_inter * 1000000 // (n_sh_a + n_sh_b - n_inter))
                 AS err_ppm
        FROM exact CROSS JOIN kmv ORDER BY n_sh_a"""),
      desc = "corpus overlap: exact shingle Jaccard + KMV estimate + delta"),

    // ── collocation mining: bigram lift ─────────────────────────────
    // PMI-family scoring of adjacent token pairs (the vocab-building
    // companion to text_vocab: which bigrams deserve to be one
    // token). Lift = P(ab) / (P(a)·P(b)), computed in STAGED integer
    // ppm/ppb quantities so every intermediate is bounded by ~1e18
    // REGARDLESS of corpus size (a naive n_ab·t1²·1e6 ratio overflows
    // long at ~1e9 tokens) and no float log enters the hash. Three
    // map-side-combined count aggs + two broadcast-joinable unigram
    // lookups — no self-join, scan-shaped at 100 TB.
    "text_collocations" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        val raw = docs(s, dir).select(split($"text", " ").as("raw"))
          .filter(size($"raw") >= 2)
        val ucnt = raw.select(explode($"raw").as("w"))
          .groupBy($"w").agg(count(lit(1)).as("n"))
        val t1f = ucnt.agg(sum($"n").as("t1"))
        val bcnt = raw
          .withColumn("i", explode(expr("sequence(1, size(raw) - 1)")))
          .select(expr("element_at(raw, i)").as("w1"),
                  expr("element_at(raw, i + 1)").as("w2"))
          .groupBy($"w1", $"w2").agg(count(lit(1)).as("n_ab"))
        val t2f = bcnt.agg(sum($"n_ab").as("t2"))
        bcnt.filter($"n_ab" >= 5)
          .join(ucnt.select($"w".as("w1"), $"n".as("n_a")), Seq("w1"))
          .join(ucnt.select($"w".as("w2"), $"n".as("n_b")), Seq("w2"))
          .crossJoin(broadcast(t1f)).crossJoin(broadcast(t2f))
          .withColumn("p_ab_ppb", expr("n_ab * 1000000000 div t2"))
          .withColumn("p_a_ppm", expr("n_a * 1000000 div t1"))
          .withColumn("p_b_ppm", expr("n_b * 1000000 div t1"))
          .filter($"p_a_ppm" > 0 && $"p_b_ppm" > 0)
          .withColumn("lift_milli",
            expr("p_ab_ppb * 1000000000 div (p_a_ppm * p_b_ppm)"))
          .select($"w1", $"w2", $"n_ab", $"n_a", $"n_b", $"lift_milli")
          .orderBy($"lift_milli".desc, $"w1", $"w2")
          .limit(50)
      },
      oracle = Some("""
        WITH r AS (
          SELECT string_split(text, ' ') AS raw FROM documents
          WHERE len(string_split(text, ' ')) >= 2),
        ucnt AS (
          SELECT w, CAST(count(*) AS BIGINT) AS n
          FROM (SELECT unnest(raw) AS w FROM r) GROUP BY 1),
        t1 AS (SELECT CAST(sum(n) AS BIGINT) AS t1 FROM ucnt),
        bcnt AS (
          SELECT raw[i] AS w1, raw[i + 1] AS w2,
                 CAST(count(*) AS BIGINT) AS n_ab
          FROM r CROSS JOIN unnest(range(1, len(raw))) AS t(i)
          GROUP BY 1, 2),
        t2 AS (SELECT CAST(sum(n_ab) AS BIGINT) AS t2 FROM bcnt),
        scored AS (
          SELECT w1, w2, n_ab, a.n AS n_a, b.n AS n_b,
                 n_ab * 1000000000 // t2.t2 AS p_ab_ppb,
                 a.n * 1000000 // t1.t1 AS p_a_ppm,
                 b.n * 1000000 // t1.t1 AS p_b_ppm
          FROM bcnt
          JOIN ucnt a ON a.w = bcnt.w1
          JOIN ucnt b ON b.w = bcnt.w2
          CROSS JOIN t1 CROSS JOIN t2
          WHERE n_ab >= 5)
        SELECT w1, w2, n_ab, n_a, n_b,
               p_ab_ppb * 1000000000 // (p_a_ppm * p_b_ppm) AS lift_milli
        FROM scored
        WHERE p_a_ppm > 0 AND p_b_ppm > 0
        ORDER BY lift_milli DESC, w1, w2 LIMIT 50"""),
      desc = "bigram collocation lift in staged overflow-safe integer ppm"),

    // ── boundary-spanning chop (the pack_sequences complement) ──────
    // pack_sequences assigns each doc to the sequence holding its
    // START and reports spill; this is the other standard framing —
    // the concatenated stream is CHOPPED at exact B-char boundaries
    // and documents SPAN chunks, so every chunk except each shard's
    // last holds exactly B chars (zero padding waste). Packing is
    // per-SHARD (doc_id mod 8): at 100 TB the cumulative-sum window
    // is partition-local, never a global single-reducer sort — each
    // shard is one worker's packing stream. Every doc's char span
    // [cum0, cum) is exploded onto the chunks it overlaps
    // (floor(cum0/B) … floor((cum-1)/B)), then chunks roll up doc
    // counts, exact char occupancy (= B everywhere except each
    // shard's final chunk — the hash proves the chop is tight), span
    // endpoints, and how many members CONTINUED from the previous
    // chunk. Zero-length docs are dropped on both sides (a 0-char doc
    // occupies no chunk; Spark's sequence() would flip DESCENDING on
    // the inverted range — the r14 trap class).
    "pack_chop" -> Q(
      fn = (s, dir) => packChop(docs(s, dir)).orderBy(
        col("shard"), col("chunk_id")),
      oracle = Some("""
        WITH d AS (
          SELECT doc_id, doc_id % 8 AS shard, n_chars,
                 CAST(sum(n_chars) OVER (PARTITION BY doc_id % 8
                   ORDER BY doc_id) AS BIGINT) AS cum
          FROM documents WHERE n_chars > 0),
        x AS (
          SELECT shard, doc_id, cum, cum - n_chars AS cum0,
                 unnest(generate_series((cum - n_chars) // 2048,
                   (cum - 1) // 2048)) AS c
          FROM d)
        SELECT shard, c AS chunk_id,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(least(cum, (c + 1) * 2048) -
                 greatest(cum0, c * 2048)) AS BIGINT) AS n_chars,
               CAST(min(doc_id) AS BIGINT) AS first_doc,
               CAST(max(doc_id) AS BIGINT) AS last_doc,
               CAST(sum(CASE WHEN cum0 < c * 2048 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_spanning
        FROM x GROUP BY shard, c ORDER BY shard, chunk_id"""),
      desc = "boundary-spanning chop: per-shard exact-occupancy chunks with span accounting"),

    // ── exact phrase search over a positional index ──────────────────
    // The positional-inverted-index op bm25/tfidf don't cover: an
    // exact phrase match needs token POSITIONS, found by probing one
    // posting list per phrase term and merge-joining on consecutive
    // positions (pos, pos+1, pos+2) — exactly how Lucene/ES run
    // phrase queries, and the shape here: each term's postings are a
    // broadcast-phrase filter over the token index (a persisted index
    // table at 100 TB; three pruned scans locally — the dq_fd class),
    // and the joins are (doc_id, pos) equi-joins. The phrase is
    // data-MINED (the corpus's most frequent trigram under a total
    // tie-broken order — the boilerplate phrase a curation pass would
    // hunt), so both engines derive it independently — no literal to
    // drift, and the hit set is corpus-wide, not a 2-row sliver.
    // Raw token order (split on ' ') per the repo's determinism rule.
    "search_phrase" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        val d = docs(s, dir)
        val toks = d.select($"doc_id",
            posexplode(split($"text", " ")).as(Seq("p0", "tok")))
          .select($"doc_id", ($"p0" + 1L).as("pos"), $"tok")
        val wD = org.apache.spark.sql.expressions.Window
          .partitionBy($"doc_id").orderBy($"pos")
        val ph = toks
          .select($"tok".as("w1"), lead($"tok", 1).over(wD).as("w2"),
            lead($"tok", 2).over(wD).as("w3"))
          .filter($"w3".isNotNull)
          .groupBy($"w1", $"w2", $"w3").agg(count(lit(1)).as("n"))
          .orderBy($"n".desc, $"w1", $"w2", $"w3").limit(1)
          .select($"w1", $"w2", $"w3")
        val tp = toks.crossJoin(broadcast(ph))
        val a = tp.filter($"tok" === $"w1")
          .select($"doc_id", $"pos")
        val b = tp.filter($"tok" === $"w2")
          .select($"doc_id", ($"pos" - 1L).as("pos"))
        val c = tp.filter($"tok" === $"w3")
          .select($"doc_id", ($"pos" - 2L).as("pos"))
        a.join(b, Seq("doc_id", "pos"))
          .join(c, Seq("doc_id", "pos"))
          .groupBy($"doc_id")
          .agg(count(lit(1)).as("n_hits"),
            min($"pos").as("first_pos"),
            max($"pos").as("last_pos"))
          .orderBy($"doc_id")
      },
      oracle = Some("""
        WITH t AS (
          SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        toks AS (
          SELECT doc_id, u.pos, ws[u.pos] AS tok
          FROM (SELECT doc_id, ws,
                  unnest(generate_series(1, len(ws))) AS pos
                FROM t) u(doc_id, ws, pos)),
        tri AS (
          SELECT tok AS w1,
                 lead(tok, 1) OVER w AS w2,
                 lead(tok, 2) OVER w AS w3
          FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        ph AS (
          SELECT w1, w2, w3 FROM tri WHERE w3 IS NOT NULL
          GROUP BY w1, w2, w3
          ORDER BY count(*) DESC, w1, w2, w3 LIMIT 1)
        SELECT t1.doc_id,
               CAST(count(*) AS BIGINT) AS n_hits,
               CAST(min(t1.pos) AS BIGINT) AS first_pos,
               CAST(max(t1.pos) AS BIGINT) AS last_pos
        FROM toks t1
        JOIN toks t2 ON t2.doc_id = t1.doc_id AND t2.pos = t1.pos + 1
        JOIN toks t3 ON t3.doc_id = t1.doc_id AND t3.pos = t1.pos + 2
        CROSS JOIN ph
        WHERE t1.tok = w1 AND t2.tok = w2 AND t3.tok = w3
        GROUP BY t1.doc_id ORDER BY t1.doc_id"""),
      desc = "exact phrase search: posting-list probes merge-joined on consecutive positions")
  )

  /** DuckDB twin of Corpus.ngramScored as CTEs ending in `nscored`
    * (lang, source, doc_a, doc_b, inter, len_a, len_b) — shared by the
    * jaccard and containment oracles so both score identically.
    * Carries BOTH candidate guards the Spark side applies: the
    * relative df*2 <= n_docs AND the absolute df <= 256 cap (the
    * ngramPairs default; at sf<=0.1 the max non-hot block df is 56,
    * so the absolute guard is semantically pinned here without
    * changing test-scale results).
    * (A `def`, not a `val`: it is referenced from the `queries` val
    * above, and a later-declared val would still be null during that
    * initializer.) */
  private def NGRAM_SCORED_CTES: String = """
        g AS (
          SELECT doc_id, lang, source,
            list_distinct(list_transform(
              range(1, greatest(length(text) - 2, 1) + 1),
              i -> substr(text, i, 3))) AS grams
          FROM documents),
        inv_all AS (SELECT doc_id, lang, source, unnest(grams) AS gram FROM g),
        bs AS (SELECT lang, source, count(*) AS n_docs
               FROM documents GROUP BY 1, 2),
        gram_df AS (SELECT lang, source, gram, count(*) AS df
                    FROM inv_all GROUP BY 1, 2, 3),
        idx AS (
          SELECT i.doc_id, i.lang, i.source, i.gram, d.df, bs.n_docs
          FROM inv_all i
          JOIN gram_df d
            ON d.lang = i.lang AND d.source = i.source AND d.gram = i.gram
          JOIN bs ON bs.lang = i.lang AND bs.source = i.source),
        inv AS (
          SELECT doc_id, lang, source, gram FROM idx
          WHERE df * 2 <= n_docs AND df <= 256),
        hot AS (
          SELECT doc_id, list(gram) AS hot FROM idx
          WHERE df * 2 > n_docs OR df > 256 GROUP BY doc_id),
        lens AS (SELECT doc_id, count(*) AS n_grams FROM idx GROUP BY 1),
        inter AS (
          SELECT a.lang, a.source, a.doc_id AS doc_a, b.doc_id AS doc_b,
                 count(*) AS inter_c
          FROM inv a JOIN inv b
            ON a.lang = b.lang AND a.source = b.source AND a.gram = b.gram
           AND a.doc_id < b.doc_id
          GROUP BY 1, 2, 3, 4),
        nscored AS (
          SELECT i.lang, i.source, i.doc_a, i.doc_b,
                 i.inter_c + coalesce(
                   CAST(len(list_intersect(ha.hot, hb.hot)) AS BIGINT), 0)
                   AS inter,
                 la.n_grams AS len_a, lb.n_grams AS len_b
          FROM inter i
          JOIN lens la ON la.doc_id = i.doc_a
          JOIN lens lb ON lb.doc_id = i.doc_b
          LEFT JOIN hot ha ON ha.doc_id = i.doc_a
          LEFT JOIN hot hb ON hb.doc_id = i.doc_b)"""
}
