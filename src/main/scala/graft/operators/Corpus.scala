package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Public DataFrame-level corpus-pipeline API — the switchover surface
  * for the LLM-training-data operators, decoupled from the test-table
  * registry: every function takes any DataFrame with the documented
  * columns and returns a DataFrame, so a user can point the pipeline
  * at their own corpus.
  *
  * Expected document schema: `doc_id BIGINT, text STRING` (plus any
  * carry-through columns). All hashing is md5-prefix arithmetic —
  * deterministic across engines, partitionings, and retries, which is
  * the property that makes every step reproducible at 100 TB.
  *
  * Embedding-SPACE dedup lives on the vector side:
  * [[Vectors.semanticDedup]] buckets quantized embeddings with
  * sign-LSH, verifies exact cosine within buckets, and feeds the
  * edges into [[connectedComponents]].
  */
object Corpus extends org.apache.spark.internal.Logging {

  // fullwidth ASCII block (U+FF01..U+FF5E) + ideographic space → their
  // ASCII counterparts, positionally aligned for translate()
  private val FwChars =
    (0xFF01 to 0xFF5E).map(_.toChar).mkString + "　"
  private val AsciiChars = (0x21 to 0x7E).map(_.toChar).mkString + " "

  /** Corpus text normalization — the cleaning pass a real pipeline
    * runs BEFORE the dedup/quality families, so formatting variants of
    * the same page (fullwidth punctuation, stray control bytes, runs
    * of whitespace, case) don't defeat shingle-based near-dup
    * detection (CorpusSpec pins a pair raw minhash misses and
    * normalized minhash finds).
    *
    * Deterministic pure string exprs, engine-portable by
    * construction: width fold via positional translate; control strip
    * and whitespace collapse use EXPLICIT char classes (Java's `\s`
    * counts \x0B, RE2's does not — never use `\s` in a cross-engine
    * twin); strip runs BEFORE collapse so a control byte between
    * spaces can't leave a double space, and newlines collapse to
    * spaces rather than vanishing. */
  def normalizeText(c: Column): Column =
    trim(lower(regexp_replace(
      regexp_replace(translate(c, FwChars, AsciiChars),
        "[\\x00-\\x08\\x0B\\x0E-\\x1F\\x7F]", ""),
      "[ \\t\\n\\f\\r]+", " ")))

  /** [[normalizeText]] as DuckDB SQL text (expression-for-expression
    * twin — keep in sync). */
  def normalizeSqlDuck(e: String): String = {
    val fw = FwChars.replace("'", "''")
    val ascii = AsciiChars.replace("'", "''")
    s"trim(lower(regexp_replace(regexp_replace(translate($e, '$fw', " +
      s"'$ascii'), '[\\x00-\\x08\\x0B\\x0E-\\x1F\\x7F]', '', 'g'), " +
      s"'[ \\t\\n\\f\\r]+', ' ', 'g')))"
  }

  /** MinHash+LSH near-duplicate pairs (`doc_a < doc_b`, jaccard ≥
    * `minJaccard`): shingle → 8 minhashes → 4 bands of 2 →
    * band-bucket equi-join → exact Jaccard verify. Candidates only
    * ever meet inside equal band buckets — no all-pairs.
    *
    * Scale posture (the two properties that keep LSH alive at 100 TB):
    *  - **Band-flood guard**: a band bucket holding more than
    *    `bucketCap` docs is a boilerplate flood — quadratic pair
    *    generation with no discriminative signal — so pair generation
    *    skips it. The 4-band redundancy re-finds genuinely-near pairs
    *    through their other, smaller buckets; identical texts that a
    *    flood hides are the exact-dup operator's job ([[exactDupEdges]]
    *    still links them in [[dedupComponents]]).
    *  - **Ids-only band join**: only (doc_id, band, k1, k2) rides the
    *    LSH shuffle and the candidate `.distinct()`; token arrays are
    *    re-attached AFTER candidate pairs are deduped, so full-text
    *    weight never multiplies across the 4 bands.
    *
    * The (signature, tokens) frame goes through `Engine.materialize`
    * ONCE — the band self-join's two sides and the pair-verify's two
    * token joins all read the materialized frame, so the
    * shingle→minhash pipeline runs exactly once (the same invariant
    * [[simhashPairs]] keeps for its signatures). Tokens live in the
    * same frame as the signatures: one extra array column per doc in
    * the materialized intermediate is far cheaper than re-deriving
    * them with two more corpus scans at verify time. */
  def minhashPairs(docs: DataFrame, minJaccard: Double = 0.5,
                   bucketCap: Int = 512): DataFrame = {
    val sigToks = minhashSigToks(docs)
    val banded = minhashBanded(sigToks, bucketCap)
    val a = banded.select(col("doc_id").as("doc_a"),
      col("band"), col("k1"), col("k2"))
    val b = banded.select(col("doc_id").as("doc_b"),
      col("band"), col("k1"), col("k2"))
    val cand = a.join(b, Seq("band", "k1", "k2"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .distinct()
    minhashVerify(cand, sigToks, minJaccard)
  }

  /** Incremental near-dup detection — the daily-ingest shape: only
    * pairs touching a doc marked NEW by `isNew` are generated; the
    * historical×historical pair space is never re-examined. The band
    * join is newDocs × allDocs — at 100 TB a tiny×huge equi-join per
    * batch instead of the huge×huge backfill. Signatures for the whole
    * corpus come from the same materialized (signature, tokens) frame
    * as [[minhashPairs]] (in production: the persisted signature
    * table, appended per batch — signatures are a pure per-doc
    * function, so historical rows never recompute). Returns exactly
    * [[minhashPairs]]' output restricted to pairs with ≥1 new side:
    * same bands, same flood guard, same exact-Jaccard verify.
    *
    * `bloom` routes the HISTORICAL side through
    * [[graft.Engine.bloomPrefilter]] keyed on the composite band key
    * before the shuffle join: a new doc's band bucket usually has no
    * historical occupant (only near-dups collide), so at 100 TB the
    * bitmap prunes most of the persisted signature table's rows
    * BEFORE they shuffle — the operator's shuffle-diet shape, wired
    * into the pipeline rather than only self-demonstrated
    * (j_bloom_prefilter gates the no-false-negatives law, so results
    * are identical and dedup_incremental's oracle is unchanged).
    *
    * `bloom = "auto"` (default) routes the bitmap ONLY when the new
    * batch is a small fraction of the corpus — the r15 verdict's
    * size-conditional routing ask. The bitmap build costs O(batch
    * band keys) + one driver collect regardless of how much it later
    * prunes, while the saving is O(corpus band rows) × prune-rate,
    * and the prune-rate collapses when the batch's band keys cover
    * most of the corpus's: the dedup_incremental GATE runs batch =
    * 100 of corpus 500 at sf0.01 (and 4600 of 5000 at sf0.1!) — a
    * backfill-shaped call where the filter rejects almost nothing
    * and the build is pure loss (PERF.md round-15: 1.29 → 2.59 s
    * isolated at sf0.1). The BloomAB ratio sweep (PERF.md round-16)
    * FAILED to find a local crossover at any reachable scale (up to
    * 80k docs, md5 AND xxhash64 probe families, batch fractions 50%
    * down to 1%): the probe is O(corpus rows) and the build a fixed
    * two-job cost, while the shuffle a single-JVM join would save is
    * a memcpy. "auto" therefore gates on BOTH `8 × new docs ≤ corpus
    * docs` AND `corpus ≥ 500k docs` — one cheap 2-aggregate count
    * (the catalog-stat class); locally that is always off (the
    * measured-faster path), on a cluster-scale corpus it engages
    * where the probe rides the scan and the avoided shuffle crosses
    * the network. `"on"`/`"off"` pin the routing (BloomAB uses them;
    * a production caller that knows its ingest ratio can too). */
  def minhashPairsIncremental(docs: DataFrame, isNew: Column,
                              minJaccard: Double = 0.5,
                              bucketCap: Int = 512,
                              bloom: String = "auto"): DataFrame = {
    val useBloom = bloom match {
      case "on" => true
      case "off" => false
      case _ =>
        // band rows are ∝ docs (nBands per doc, flood-capped), so the
        // docs ratio is the band-rows ratio — one cheap scan. BOTH
        // conditions must hold: ingest-shaped ratio AND a corpus past
        // the single-JVM regime — BloomAB measured bloom-on LOSING at
        // every local scale (up to 80k docs, both hash families; the
        // probe is O(corpus rows) and a local "shuffle" it would save
        // is a memcpy). The flip needs a cluster, where the probe is
        // a colocated scan-side filter and the avoided shuffle
        // crosses the network (PERF.md round-16).
        val c = docs.agg(count(lit(1)).as("n"),
          sum(when(isNew, 1L).otherwise(0L)).as("nNew")).head
        !c.isNullAt(1) && c.getLong(1) * 8 <= c.getLong(0) &&
          c.getLong(0) >= 500000L
    }
    val sigToks = minhashSigToks(docs.withColumn("is_new", isNew),
      carry = Seq("is_new"))
    val banded = minhashBanded(sigToks, bucketCap, carry = Seq("is_new"))
    val n = banded.filter(col("is_new")).select(col("doc_id").as("doc_n"),
      col("band"), col("k1"), col("k2"))
    val all = banded.select(col("doc_id").as("doc_o"),
      col("band"), col("k1"), col("k2"))
    // LONG band key (xxhash64 of the triple) + the "xx" probe family:
    // the md5-over-concat-string probe cost O(corpus) all by itself
    // and could never pay for the shuffle it saves (BloomAB axis-2,
    // PERF.md round-16); hashing a native long is the few-ns/row
    // class a prefilter needs
    val bkey = xxhash64(col("band"), col("k1"), col("k2"))
    val allProbe =
      if (!useBloom) all
      else graft.Engine.bloomPrefilter(
        all.withColumn("_bkey", bkey), "_bkey",
        n.select(bkey.as("_bkey")), "_bkey",
        // bits pinned (128 KB bitmap, ~65k batch keys at 16 b/key):
        // skips the auto-size count() job; a production caller sizes
        // this to its ingest-batch cardinality
        bits = 1 << 20, hashFamily = "xx").drop("_bkey")
    val cand = n.join(allProbe, Seq("band", "k1", "k2"))
      .filter(col("doc_n") =!= col("doc_o"))
      .select(least(col("doc_n"), col("doc_o")).as("doc_a"),
              greatest(col("doc_n"), col("doc_o")).as("doc_b"))
      .distinct()
    minhashVerify(cand, sigToks, minJaccard)
  }

  /** Materialized (doc_id, mh0..mh7, toks [, carry...]) signature
    * frame — the shingle→minhash pipeline, run exactly once. */
  /** Per-shingle hash rows (doc_id, hs [, carry…]) — the shared front
    * half of the minhash pipeline (its hottest explode), factored so
    * the STREAMING decontamination probe
    * (`StreamingModels.contaminationStream`) hashes identically to
    * the batch signature frame by construction, not by duplication. */
  private[graft] def shingleHashRows(docs: DataFrame,
                                     carry: Seq[String] = Nil): DataFrame = {
    docs.select(col("doc_id") +: split(col("text"), " ").as("raw") +:
        carry.map(col): _*)
      .withColumn("i", explode(expr(
        "sequence(1, CASE WHEN size(raw) >= 3 THEN size(raw) - 2 ELSE 1 END)")))
      .select(col("doc_id") +: expr(
        """CASE WHEN size(raw) >= 3 THEN
             concat_ws(' ', element_at(raw, i),
               element_at(raw, i + 1), element_at(raw, i + 2))
           ELSE concat_ws(' ', raw) END""").as("s") +: carry.map(col): _*)
      // md5_prefix_long ≡ CAST(conv(substring(md5(s),1,14),16,10) AS
      // BIGINT) — same value straight from the digest bytes, no
      // 32-char hex string per shingle (this explode is the hottest
      // hashing site; Md5PrefixSpec pins the equivalence)
      .withColumn("hs", expr("md5_prefix_long(s, 14) % 1000003L"))
  }

  /** The 8 signature min-aggregates over `hs` — shared with the
    * streaming twin (same constants, same modulus). */
  private[graft] def mhAggCols: Seq[Column] = (0 until 8).map(i =>
    min(expr(s"(${37 + 101 * i}L * hs + ${17 + 1009 * i}L) % 1000033L"))
      .as(s"mh$i"))

  /** Band explode over mh0..mh7 → struct(band, k1, k2) — 4 bands of
    * 2 hashes, shared with the streaming twin. */
  private[graft] def bandExplode: Column =
    explode(array((0 until 4).map(b =>
      struct(lit(b).as("band"), col(s"mh${2 * b}").as("k1"),
             col(s"mh${2 * b + 1}").as("k2"))): _*))

  private def minhashSigToks(docs: DataFrame,
                             carry: Seq[String] = Nil): DataFrame = {
    // SHARED across registered queries (r16 opt round): dedup_minhash,
    // dedup_minhash_est, dedup_cross_split and the dedup_edges
    // consumers all build this exact frame over the same docs plan —
    // key it by the PRE-transform input + the carry column list (the
    // is_new variant of the incremental path keys separately).
    // length-prefixed carry encoding: Seq("a,b") and Seq("a","b") must
    // not token-collide (r16 ADVICE — a flat "," join could alias
    // distinct carry lists into one shared frame)
    graft.Engine.materializeShared(docs.sparkSession,
      graft.Engine.planToken(docs,
        extra = "minhash_sig:" +
          carry.map(c => s"${c.length}:$c").mkString(",")), {
        // widen INSIDE the build (after the token above is computed on
        // the raw input, so sharing is unaffected): the shingle md5
        // explode otherwise pipelines into a 1-split local scan and
        // runs single-core (Engine.widenScan scaladoc)
        val docsW = graft.Engine.widenScan(docs)
        val base = docsW.select(col("doc_id") +:
          array_distinct(split(col("text"), " ")).as("toks") +:
          carry.map(col): _*)
        val mh = shingleHashRows(docsW)
          .groupBy(col("doc_id")).agg(mhAggCols.head, mhAggCols.tail: _*)
        mh.join(base.select(col("doc_id") +: col("toks") +:
          carry.map(col): _*), Seq("doc_id"))
      }, key = "doc_id", name = "minhash_sig")
  }

  /** (doc_id, band, k1, k2 [, carry...]) band frame with the
    * `bucketCap` flood guard applied (bucket sizes counted over ALL
    * docs, new and historical alike). */
  private def minhashBanded(sigToks: DataFrame, bucketCap: Int,
                            carry: Seq[String] = Nil): DataFrame =
    sigToks.select(col("doc_id") +: bandExplode.as("bk") +:
      carry.map(col): _*)
      .select(col("doc_id") +: col("bk.band") +: col("bk.k1") +:
        col("bk.k2") +: carry.map(col): _*)
      .withColumn("bsz", count(lit(1)).over(
        Window.partitionBy(col("band"), col("k1"), col("k2"))))
      .filter(col("bsz") <= bucketCap)

  /** PUBLIC frozen minhash band index over a reference corpus:
    * (doc_id, band, k1, k2, toks) with the flood cap applied — the
    * STATIC side of the streaming decontamination probe
    * (`StreamingModels.contaminationStream`): build it once over the
    * eval/benchmark set, persist it, and every incoming training doc
    * probes it by equi-join on (band, k1, k2). Token sets ride along
    * for the exact-Jaccard verify. */
  def minhashBandIndex(docs: DataFrame, bucketCap: Int = 512): DataFrame =
    minhashBanded(minhashSigToks(docs), bucketCap, carry = Seq("toks"))

  /** MinHash estimator accuracy eval — the sketch-quality readout the
    * ann_recall operator gives ANN, applied to the dedup family: for
    * every LSH candidate pair, the 8-hash signature agreement
    * (est = matches/8, the unbiased MinHash Jaccard estimator) beside
    * the EXACT token-set Jaccard in ppm, plus the absolute error.
    * This is how a pipeline tunes bands/hashes: if err_ppm is wide at
    * the τ boundary, add hashes before trusting the filter.
    * Candidates come from the same banded buckets as [[minhashPairs]]
    * (never all-pairs); the signature frame computes once. */
  def minhashEstimate(docs: DataFrame, bucketCap: Int = 512): DataFrame = {
    val sigToks = minhashSigToks(docs)
    val banded = minhashBanded(sigToks, bucketCap)
    val a = banded.select(col("doc_id").as("doc_a"),
      col("band"), col("k1"), col("k2"))
    val b = banded.select(col("doc_id").as("doc_b"),
      col("band"), col("k1"), col("k2"))
    val cand = a.join(b, Seq("band", "k1", "k2"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct()
    val sa = sigToks.select(col("doc_id").as("doc_a") +:
      col("toks").as("toks_a") +:
      (0 until 8).map(i => col(s"mh$i").as(s"a$i")): _*)
    val sb = sigToks.select(col("doc_id").as("doc_b") +:
      col("toks").as("toks_b") +:
      (0 until 8).map(i => col(s"mh$i").as(s"b$i")): _*)
    cand.join(sa, Seq("doc_a")).join(sb, Seq("doc_b"))
      .withColumn("est_x8", (0 until 8).map(i =>
        when(col(s"a$i") === col(s"b$i"), 1L).otherwise(0L)).reduce(_ + _))
      // |A∪B| = |A|+|B|−|A∩B| for the distinct toks arrays — same
      // integer as size(array_distinct(concat(...))) without
      // materializing a union array per pair (the allPairsJoin form;
      // r16 opt round, guide §4)
      .withColumn("_inter", expr(
        "CAST(size(array_intersect(toks_a, toks_b)) AS BIGINT)"))
      .withColumn("jacc_ppm", expr(
        "_inter * 1000000L div (size(toks_a) + size(toks_b) - _inter)"))
      .withColumn("err_ppm", abs(col("est_x8") * 125000L - col("jacc_ppm")))
      .select(col("doc_a"), col("doc_b"), col("est_x8"), col("jacc_ppm"),
        col("err_ppm"))
  }

  /** Span-corruption masking plan (the T5/UL2 denoising-objective
    * prep — Raffel et al. 2020 §3.1.4): deterministically draw span
    * STARTS at one position in `rateDen` (md5 of doc_id:pos — stable
    * across runs, engines, and partitionings, the split-assignment
    * convention), each start masking `spanLen` consecutive tokens;
    * overlapping spans merge. Returns the per-doc accounting a
    * pretraining exporter needs before writing sentinel-packed
    * examples: token count, raw start draws, masked-token count
    * AFTER merge, merged span count (= sentinels needed), and the
    * realized mask ratio in exact ppm (the knob drifts from
    * 1/rateDen · spanLen when spans overlap or clip at the doc end —
    * this measures the real ratio, not the nominal one).
    *
    * Scale shape: one token explode, a `spanLen`-row sliding-window
    * max and a gaps-and-islands run id — both windows partitioned by
    * doc (bounded by doc length), all counts map-side-combinable. */
  def spanMaskPlan(docs: DataFrame, rateDen: Long = 20L,
                   spanLen: Int = 3): DataFrame = {
    val toks = docs
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("p0", "tok")))
      .withColumn("pos", (col("p0") + 1).cast("long"))
      .withColumn("start", expr(
        "md5_prefix_long(concat(CAST(doc_id AS STRING), ':', " +
          s"CAST(pos AS STRING)), 8) % ${rateDen}L = 0"))
    val wSpan = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(-(spanLen - 1), 0)
    val marked = toks.withColumn("m",
      max(when(col("start"), 1L).otherwise(0L)).over(wSpan) === 1L)
    val runs = marked.filter(col("m"))
      .withColumn("grp", col("pos") - row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("pos"))))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("grp")).as("n_spans"))
    marked.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("start"), 1L).otherwise(0L)).as("n_starts"),
        sum(when(col("m"), 1L).otherwise(0L)).as("n_masked"))
      .join(runs, Seq("doc_id"), "left")
      .withColumn("n_spans", coalesce(col("n_spans"), lit(0L)))
      .withColumn("masked_ppm", expr("n_masked * 1000000L div n_tokens"))
      .select(col("doc_id"), col("n_tokens"), col("n_starts"),
        col("n_masked"), col("n_spans"), col("masked_ppm"))
  }

  /** LSH S-curve tuning eval — the OTHER half of the sketch-quality
    * story beside [[minhashEstimate]]: that one asks "how accurate is
    * the estimator on pairs the index surfaced", this one asks "what
    * fraction of pairs at Jaccard j does the index surface AT ALL"
    * (the recall axis a band/row configuration is chosen on). Over a
    * BOUNDED eval slice (all-pairs — the knn_brute baseline posture,
    * never run corpus-wide), every pair gets its exact token Jaccard,
    * its EMPIRICAL band collision (∃ band: both hashes equal, the
    * [[minhashPairs]] candidate rule without the flood cap — this
    * measures the hash family, not the guard), and the CLOSED-FORM
    * S-curve `1 − (1 − j²)⁴` for 4 bands × 2 rows, evaluated in
    * exact integer ppm (j² div 1e6, squared-halving — no pow, no
    * float). Rows are Jaccard deciles: pair count, collide count,
    * empirical ppm, mean theoretical ppm. A pipeline reads the two
    * curves side by side before trusting the filter at its τ. */
  def lshCurve(docs: DataFrame, slice: Column): DataFrame = {
    val sigToks = minhashSigToks(docs.filter(slice))
    val sa = sigToks.select(col("doc_id").as("doc_a") +:
      col("toks").as("toks_a") +:
      (0 until 8).map(i => col(s"mh$i").as(s"a$i")): _*)
    val sb = sigToks.select(col("doc_id").as("doc_b") +:
      col("toks").as("toks_b") +:
      (0 until 8).map(i => col(s"mh$i").as(s"b$i")): _*)
    sa.join(sb, col("doc_a") < col("doc_b"))
      .withColumn("collide", (0 until 4).map(b =>
        col(s"a${2 * b}") === col(s"b${2 * b}") &&
          col(s"a${2 * b + 1}") === col(s"b${2 * b + 1}"))
        .reduce(_ || _))
      // |A∪B| via |A|+|B|−|A∩B| (distinct arrays) — no union array
      // materialized per pair (r16 opt round, guide §4)
      .withColumn("_inter", expr(
        "CAST(size(array_intersect(toks_a, toks_b)) AS BIGINT)"))
      .withColumn("j_ppm", expr(
        "_inter * 1000000L div (size(toks_a) + size(toks_b) - _inter)"))
      .withColumn("_m", lit(1000000L) - expr("j_ppm * j_ppm div 1000000L"))
      .withColumn("_m2", expr("_m * _m div 1000000L"))
      .withColumn("theory_ppm", lit(1000000L) - expr("_m2 * _m2 div 1000000L"))
      .withColumn("bucket", expr("least(j_ppm div 100000L, 9L)"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("collide"), 1L).otherwise(0L)).as("n_collide"),
        sum(col("theory_ppm")).as("_th"))
      .withColumn("empirical_ppm", expr("n_collide * 1000000L div n_pairs"))
      .withColumn("theory_ppm", expr("_th div n_pairs"))
      .select(col("bucket"), col("n_pairs"), col("n_collide"),
        col("empirical_ppm"), col("theory_ppm"))
      .orderBy(col("bucket"))
  }

  /** Exact-Jaccard verification of deduped candidate pairs against the
    * signature frame's token sets. */
  private def minhashVerify(cand: DataFrame, sigToks: DataFrame,
                            minJaccard: Double): DataFrame =
    cand
      .join(sigToks.select(col("doc_id").as("doc_a"), col("toks").as("toks_a")),
        Seq("doc_a"))
      .join(sigToks.select(col("doc_id").as("doc_b"), col("toks").as("toks_b")),
        Seq("doc_b"))
      // |A∪B| via |A|+|B|−|A∩B| (distinct arrays): identical integer
      // denominator, so the emitted double is bit-identical — without
      // materializing a union array per verified pair (r16 opt round)
      .withColumn("_inter",
        size(array_intersect(col("toks_a"), col("toks_b"))))
      .withColumn("jaccard", try_divide(col("_inter"),
        size(col("toks_a")) + size(col("toks_b")) - col("_inter")))
      .filter(col("jaccard") >= minJaccard)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))

  /** SimHash near-duplicate pairs (`doc_a < doc_b`, hamming ≤
    * `maxHamming`): 32-bit simhash from a bitwise vote over distinct-
    * token hashes, candidates from 8-bit band buckets, hamming verify.
    * One aggregation computes all 32 per-bit votes (codegen'd — no
    * 32-rows-per-token explode). Band buckets over `bucketCap` docs
    * are boilerplate floods and are skipped, exactly as in
    * [[minhashPairs]]; the 4-band redundancy re-finds real pairs
    * through smaller buckets. */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 6,
                   bucketCap: Int = 512): DataFrame = {
    val tok = docs
      .select(col("doc_id"),
        explode(array_distinct(split(col("text"), " "))).as("t"))
      // digest-byte twin of conv(substring(md5(t),1,14),16,10) — see
      // minhashSigToks
      .withColumn("h", expr("md5_prefix_long(t, 14) & 4294967295"))
    val voteAggs = (0 until 32).map(b =>
      sum(when(expr(s"(h >> $b) & 1") === 1, 1).otherwise(-1)).as(s"v$b"))
    val votes = tok.groupBy(col("doc_id")).agg(voteAggs.head, voteAggs.tail: _*)
    // materialize signatures once — both band-join branches and the
    // pair join would otherwise recompute the whole token pipeline;
    // SHARED across queries (r16 opt round): dedup_simhash and
    // dedup_simhash_est build the identical signature frame (it
    // depends only on docs, not on maxHamming/bucketCap)
    val sim = graft.Engine.materializeShared(docs.sparkSession,
      graft.Engine.planToken(docs, extra = "simhash_sig"),
      votes.select(col("doc_id"),
        (0 until 32).map(b =>
          when(col(s"v$b") > 0, lit(1L << b)).otherwise(0L))
          .reduce(_ + _).as("simhash")),
      key = "doc_id", name = "simhash_sig")
    val banded = sim.select(col("doc_id"), col("simhash"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"),
          expr(s"(simhash >> ${8 * b}) & 255").as("bv"))): _*)).as("bk"))
      .select(col("doc_id"), col("simhash"), col("bk.band"), col("bk.bv"))
      .withColumn("bsz", count(lit(1)).over(
        Window.partitionBy(col("band"), col("bv"))))
      .filter(col("bsz") <= bucketCap)
    val a = banded.select(col("doc_id").as("doc_a"),
      col("simhash").as("sh_a"), col("band"), col("bv"))
    val b = banded.select(col("doc_id").as("doc_b"),
      col("simhash").as("sh_b"), col("band"), col("bv"))
    a.join(b, Seq("band", "bv")).filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("sh_a"), col("sh_b")).distinct()
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
  }

  /** SimHash calibration — the [[minhashEstimate]] twin for the
    * OTHER sketch: per Hamming-distance bucket of the surfaced
    * candidate pairs, the exact token-set Jaccard's count/mean/range.
    * SimHash estimates COSINE, not Jaccard, so there is no per-pair
    * error figure like MinHash's; the check downstream runs is
    * MONOTONE calibration — mean Jaccard must fall as Hamming rises,
    * which tells an operator what `maxHamming` buys at each notch.
    * Cost: the pair generation is [[simhashPairs]] itself; the exact
    * scoring joins the two distinct-token lists per surfaced pair
    * (candidate-pairs-sized, never corpus-sized).
    *
    * Returns (hamming, n_pairs, mean_jacc_ppm, min_jacc_ppm,
    * max_jacc_ppm). */
  def simhashEstimate(docs: DataFrame, maxHamming: Int = 6,
                      bucketCap: Int = 512): DataFrame = {
    val toks = docs.select(col("doc_id"),
      array_distinct(split(col("text"), " ")).as("toks"))
    simhashPairs(docs, maxHamming, bucketCap)
      .join(toks.select(col("doc_id").as("doc_a"), col("toks").as("ta")),
        Seq("doc_a"))
      .join(toks.select(col("doc_id").as("doc_b"), col("toks").as("tb")),
        Seq("doc_b"))
      // |A∪B| via |A|+|B|−|A∩B| (ta/tb are array_distinct) — same
      // integer as size(array_union(...)), no union array per pair
      .withColumn("_inter", expr(
        "CAST(size(array_intersect(ta, tb)) AS BIGINT)"))
      .withColumn("jacc_ppm", expr(
        "_inter * 1000000 div (size(ta) + size(tb) - _inter)"))
      .groupBy(col("hamming"))
      .agg(count(lit(1)).as("n_pairs"),
        expr("sum(jacc_ppm) div count(1)").as("mean_jacc_ppm"),
        min(col("jacc_ppm")).as("min_jacc_ppm"),
        max(col("jacc_ppm")).as("max_jacc_ppm"))
      .orderBy(col("hamming"))
  }

  /** Character-3-gram Jaccard near-duplicate pairs within blocks
    * (`doc_a < doc_b`, jaccard ≥ `minJaccard`), inverted-index
    * formulation: explode distinct grams, equi-join on (block, gram)
    * to count intersections, derive the union from per-doc gram counts
    * — no gram arrays ride the join. Grams above 50% block document-
    * frequency OR above the ABSOLUTE `maxDocFreq` cap are dropped
    * from CANDIDATE generation (a stopword-like gram is quadratic
    * fan-out with no signal; the absolute cap is the winnowPairs
    * posture — without it a mid-frequency gram with df just under
    * n/2 still emits O(df²) pairs, and at 100 TB a df~10⁶ trigram
    * inside one block is 10¹² candidates) while the score stays
    * EXACT via the capped ∪ hot decomposition: the per-doc hot-gram
    * sets are intersected after the pair aggregation. Per-gram
    * candidate fan-out is therefore bounded by `maxDocFreq²` rather
    * than `(n_docs/2)²`. `blockCols` name the blocking columns (docs
    * only pair within equal blocks). */
  def ngramPairs(docs: DataFrame,
                 blockCols: Seq[String] = Seq("lang", "source"),
                 minJaccard: Double = 0.5,
                 maxDocFreq: Long = 256L): DataFrame = {
    val bc = blockCols.map(col)
    ngramScored(docs, blockCols, maxDocFreq)
      .withColumn("jaccard", try_divide(col("inter"),
        col("len_a") + col("len_b") - col("inter")))
      .filter(col("jaccard") >= minJaccard)
      .select(bc ++ Seq(col("doc_a"), col("doc_b"), col("jaccard")): _*)
  }

  /** Character-3-gram CONTAINMENT pairs within blocks: containment
    * C = |A∩B| / min(|A|, |B|) — 1.0 when the smaller doc's gram set
    * lies entirely inside the larger's. This is the asymmetric family
    * Jaccard misses: a short document quoted verbatim inside a long
    * one scores jaccard ≈ |small|/|big| (tiny) but containment 1.0 —
    * the quote/boilerplate-inclusion and test-set-leakage shape.
    * Same inverted index, candidate cap, and exact capped ∪ hot
    * scoring as [[ngramPairs]]. */
  def containmentPairs(docs: DataFrame,
                       blockCols: Seq[String] = Seq("lang", "source"),
                       minContainment: Double = 0.8,
                       maxDocFreq: Long = 256L): DataFrame = {
    val bc = blockCols.map(col)
    ngramScored(docs, blockCols, maxDocFreq)
      .withColumn("containment", try_divide(col("inter"),
        least(col("len_a"), col("len_b"))))
      .filter(col("containment") >= minContainment)
      .select(bc ++ Seq(col("doc_a"), col("doc_b"), col("containment")): _*)
  }

  /** Shared inverted-index pair scoring: (blockCols..., doc_a < doc_b,
    * inter = EXACT |gramsA ∩ gramsB|, len_a, len_b) for every
    * candidate pair sharing ≥1 non-hot gram in a block.
    *
    * The scored frame is materialized ONCE per (input data, blockCols)
    * through `Engine.materializeShared`: both score families — jaccard
    * ([[ngramPairs]]) and containment ([[containmentPairs]]) — derive
    * from these same three numbers, so the second query is a
    * projection + filter over the cached frame instead of a second
    * multi-million-row inverted-index build. The share token comes
    * from the `docs` INPUT plan (stable across invocations), not the
    * built frame (whose checkpoint identity is fresh each build). */
  private def ngramScored(docs: DataFrame,
                          blockCols: Seq[String],
                          maxDocFreq: Long): DataFrame = {
    val token = graft.Engine.planToken(docs,
      extra = "ngram_scored:" + blockCols.mkString(",") + ":" + maxDocFreq)
    graft.Engine.materializeShared(docs.sparkSession, token,
      buildNgramScored(docs, blockCols, maxDocFreq), key = "doc_a",
      name = "ngram_scored")
  }

  private def buildNgramScored(docs: DataFrame,
                               blockCols: Seq[String],
                               maxDocFreq: Long): DataFrame = {
    val bc = blockCols.map(col)
    // widenScan: the per-character 3-gram explode otherwise pipelines
    // into the 1-split local scan and runs single-core
    // (Engine.widenScan scaladoc; ngramScored's share token hashes
    // the raw docs plan)
    val invAll = graft.Engine.widenScan(docs)
      .select(col("doc_id") +: bc :+ col("text") :+
        explode(sequence(lit(1), greatest(length(col("text")) - 2, lit(1))))
          .as("i"): _*)
      .select(col("doc_id") +: bc :+ expr("substr(text, i, 3)").as("gram"): _*)
      .distinct()
    val blockSizes = docs.groupBy(bc: _*).agg(count(lit(1)).as("n_docs"))
    // document frequency via a WINDOW over (block, gram), not a
    // groupBy+self-join: the window reuses the exchange the
    // `.distinct()` above already established on the same keys, so df
    // costs one in-partition sort. Both rewrites measured slower at
    // sf0.1 (window 8.9 s cold; groupBy+join 11.6 s — extra join
    // shuffle; groupBy+join over a materialized index 15.4 s — the
    // 14M-row checkpoint costs more than it saves).
    val dfW = Window.partitionBy(bc :+ col("gram"): _*)
    val idx = graft.Engine.materialize(
      invAll
        .withColumn("df", count(lit(1)).over(dfW))
        .join(broadcast(blockSizes), blockCols),
      key = "gram", name = "ngram_idx")
    // candidate grams: under HALF the block (relative guard) AND under
    // the absolute df cap — either flood routes to the hot-set exact-
    // scoring arrays, so scores are unchanged; only candidate
    // GENERATION is bounded (per-gram fan-out ≤ maxDocFreq²)
    val inv = idx.filter(col("df") * 2 <= col("n_docs") &&
        col("df") <= maxDocFreq)
      .select(col("doc_id") +: bc :+ col("gram"): _*)
    val hotSets = idx.filter(col("df") * 2 > col("n_docs") ||
        col("df") > maxDocFreq)
      .groupBy(col("doc_id")).agg(collect_list(col("gram")).as("hot"))
    val lens = idx.groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
    val a = inv.select(col("doc_id").as("doc_a") +: bc :+ col("gram"): _*)
    val b = inv.select(col("doc_id").as("doc_b") +: bc :+ col("gram"): _*)
    a.join(b, blockCols :+ "gram")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(bc ++ Seq(col("doc_a"), col("doc_b")): _*)
      .agg(count(lit(1)).as("inter_c"))
      .join(lens.select(col("doc_id").as("doc_a"), col("n_grams").as("len_a")),
        Seq("doc_a"))
      .join(lens.select(col("doc_id").as("doc_b"), col("n_grams").as("len_b")),
        Seq("doc_b"))
      .join(hotSets.select(col("doc_id").as("doc_a"), col("hot").as("hot_a")),
        Seq("doc_a"), "left")
      .join(hotSets.select(col("doc_id").as("doc_b"), col("hot").as("hot_b")),
        Seq("doc_b"), "left")
      .withColumn("inter", col("inter_c") +
        coalesce(size(array_intersect(col("hot_a"), col("hot_b"))), lit(0)))
      // slim the cached frame to what both score families read — the
      // hot-gram arrays were only needed for the inter correction
      .select(bc ++ Seq(col("doc_a"), col("doc_b"), col("inter"),
        col("len_a"), col("len_b")): _*)
  }

  /** Winnowing fingerprint near-dup pairs (Schleimer/Wilkerson/Aiken,
    * SIGMOD 2003 — the MOSS algorithm): substring-granular overlap
    * detection that [[ngramPairs]]' set-Jaccard misses when a shared
    * passage is small relative to the documents. Per doc: hash every
    * character `k`-gram, slide a `w`-hash window, keep each window's
    * MINIMUM (tie → rightmost); the guarantee is any shared run of
    * length ≥ w+k-1 contributes ≥1 common fingerprint. Docs then pair
    * by shared fingerprint count.
    *
    * Determinism: the window min is computed over a single packed
    * integer `h * 2^21 + (2^21 - 1 - pos)` — min h, tie broken to the
    * RIGHTMOST position, no struct/arg-min ordering ambiguity across
    * engines. Hashes are md5-prefix mod 1000003 (portable).
    *
    * Scale shape: per-doc windowing is embarrassingly parallel
    * (window partitioned by doc); the cross-doc stage joins the
    * DISTINCT per-doc fingerprint sets on the hash — an equi-join
    * whose fan-out is bounded by `maxDocFreq` (fingerprints shared by
    * more docs are boilerplate, dropped like [[ngramPairs]]' hot
    * grams — candidate generation stays subquadratic). The
    * fingerprint frame is materialized once and feeds both join
    * sides. Returns (doc_a, doc_b, n_shared) with doc_a < doc_b and
    * n_shared ≥ `minShared` common (non-boilerplate) fingerprints. */
  /** Shared (doc_id, h) 56-bit hashed 3-token shingle frame — THE
    * persisted AllPairs index. Materialized ONCE per (corpus) per
    * session (`Engine.materializeShared`; the scaladoc'd 100 TB form
    * is a bucketed table maintained by appending each batch's
    * shingles): the full join, the incremental join, and the sorted
    * per-doc arrays all ride this frame, so the ingest-cadence query
    * never re-shingles the settled corpus (r13 verdict ask #1). */
  /** [[allPairsShingles]] for registered-query composition (the
    * dedup_allpairs_index gate derives its merge inputs from the
    * exact index frame the join queries ride). */
  def allPairsShinglesPublic(docs: DataFrame): DataFrame =
    allPairsShingles(docs)

  private def allPairsShingles(docs: DataFrame): DataFrame = {
    // widenScan: per-shingle md5 over a 1-split scan (Engine.widenScan
    // scaladoc; the share token below hashes the raw docs plan)
    def build: DataFrame = graft.Engine.widenScan(docs)
      .select(col("doc_id"), split(col("text"), " ").as("raw"))
      .withColumn("i", explode(expr(
        "sequence(1, CASE WHEN size(raw) >= 3 THEN size(raw) - 2 " +
          "ELSE 1 END)")))
      .select(col("doc_id"), expr(
        """CASE WHEN size(raw) >= 3 THEN
             concat_ws(' ', element_at(raw, i),
               element_at(raw, i + 1), element_at(raw, i + 2))
           ELSE concat_ws(' ', raw) END""").as("sg"))
      .select(col("doc_id"), expr("md5_prefix_long(sg, 14)").as("h"))
      .distinct()
    graft.Engine.materializeShared(docs.sparkSession,
      graft.Engine.planToken(docs, extra = "allpairs_sh"),
      build, key = "h", name = "allpairs_sh")
  }

  /** Shared per-doc SORTED hash arrays (doc_id, hs, sz) — the verify
    * side of the AllPairs index, derived from [[allPairsShingles]]
    * and materialized once per corpus per session. */
  private def allPairsArrs(docs: DataFrame): DataFrame = {
    def build: DataFrame = allPairsShingles(docs)
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_set(col("h"))).as("hs"))
      .select(col("doc_id"), col("hs"),
        size(col("hs")).cast("long").as("sz"))
    graft.Engine.materializeShared(docs.sparkSession,
      graft.Engine.planToken(docs, extra = "allpairs_arr"),
      build, key = "doc_id", name = "allpairs_arr")
  }

  /** Next-batch element-df index by ADDITIVE merge: df(old ∪ batch) =
    * df(old) + df(batch), exact because a shingle's document
    * frequency is a count over docs and old/batch PARTITION the
    * corpus — the index-maintenance law that replaces re-counting df
    * from scratch each ingest (r13 verdict ask #1; CorpusAllPairsSpec
    * pins merge ≡ from-scratch row-for-row). Inputs are (h, df)
    * and the batch's (doc_id, h) shingles. */
  def allPairsDfMerge(dfOld: DataFrame, shNew: DataFrame): DataFrame =
    dfOld.join(
      shNew.groupBy(col("h")).agg(count(lit(1)).as("df_new")),
      Seq("h"), "full")
      .select(col("h"),
        (coalesce(col("df"), lit(0L)) + coalesce(col("df_new"), lit(0L)))
          .as("df"))

  /** EXACT set-similarity join via prefix filtering (AllPairs —
    * Bayardo-Ma-Srikant, WWW 2007 — plus PPJoin's positional filter,
    * Xiao et al., WWW 2008): every doc pair with 3-token shingle-set
    * Jaccard ≥ `tPpm`/1e6, with PRUNING instead of truncation. Set
    * elements are shingles hashed to 56-bit md5 prefixes; elements
    * are globally ordered rarest-first (ascending document frequency,
    * tie-broken by hash), a doc's PREFIX is its first
    * |x| − ⌈t·|x|⌉ + 1 elements, and the pigeonhole guarantees any
    * qualifying pair shares a prefix element — so the candidate join
    * runs on prefix elements only, which are the RAREST shingles by
    * construction (the flood armor that keeps this the 100 TB
    * shape). Candidates are size-filtered (t·max ≤ min) AND
    * position-filtered: a prefix match at positions (pa, pb) caps the
    * overlap at 1 + min(sz_a − pa, sz_b − pb), which must reach the
    * equivalent-overlap bound α = ⌈t/(1+t)·(sz_a+sz_b)⌉ — zero-loss
    * because a qualifying pair's FIRST common element (under the
    * global order) lies in both prefixes and sees the true overlap.
    * Survivors are verified with the exact intersection of the
    * per-doc sorted hash arrays (codegen'd collection op, bounded by
    * candidate count).
    *
    * `isNew` switches to the INGEST-cadence form, now O(batch +
    * index) instead of O(corpus) per batch: the (doc_id, h) shingle
    * frame, the old-corpus element-df index, and the OLD docs' prefix
    * frame are all session-persisted (`Engine.materializeShared`; a
    * bucketed table at 100 TB), so a batch only shingles + ranks its
    * OWN docs and probes the persisted prefixes. The global element
    * order is FROZEN to the old-corpus df (unseen elements → df 0,
    * i.e. rarest) — the pigeonhole and positional filter are valid
    * under ANY fixed total order, so exactness is unchanged while old
    * prefixes never need recomputing when df drifts; [[allPairsDfMerge]]
    * maintains the df index additively for the next batch. The
    * registered queries' oracle is BRUTE FORCE over all pairs — hash
    * equality proves zero loss. Returns (doc_a, doc_b, inter, sz_a,
    * sz_b, jacc_ppm), doc_a < doc_b. */
  def allPairsJoin(docs: DataFrame, tPpm: Long = 600000L,
                   isNew: Option[Column] = None): DataFrame = {
    val sh = allPairsShingles(docs)
    // rank one side's shingles under a given (h → df) order; absent
    // elements are rarest (df 0). p = sz − ceil(t·sz) + 1 in
    // ppm-exact integers.
    def prefixOf(part: DataFrame, ord: DataFrame): DataFrame =
      part.join(ord, Seq("h"), "left")
        .withColumn("odf", coalesce(col("df"), lit(0L)))
        .withColumn("pos", row_number().over(
          Window.partitionBy(col("doc_id")).orderBy(col("odf"), col("h"))))
        .withColumn("sz", count(lit(1)).over(
          Window.partitionBy(col("doc_id"))))
        .filter(col("pos") <= col("sz") -
          expr(s"($tPpm * sz + 999999L) div 1000000L") + 1L)
        .select(col("doc_id"), col("h"), col("sz"), col("pos"))
    val (left, right) = isNew match {
      case None =>
        val df = sh.groupBy(col("h")).agg(count(lit(1)).as("df"))
        val prefix = prefixOf(sh, df)
        (prefix, prefix)
      case Some(nu) =>
        // `nu` must be expressible over doc_id (any append-only
        // ingest marker is) — it is applied ON the index frame
        val newTok = nu.toString
        val shOld = sh.filter(!nu)
        val dfOld = graft.Engine.materializeShared(docs.sparkSession,
          graft.Engine.planToken(docs, extra = s"allpairs_df:$newTok"),
          shOld.groupBy(col("h")).agg(count(lit(1)).as("df")),
          key = "h", name = "allpairs_df")
        // old prefixes are FIXED under the frozen order — persisted,
        // never recomputed as batches arrive
        val pfxOld = graft.Engine.materializeShared(docs.sparkSession,
          graft.Engine.planToken(docs,
            extra = s"allpairs_pfx:$tPpm:$newTok"),
          prefixOf(shOld, dfOld), key = "h", name = "allpairs_pfx")
        val pfxNew = prefixOf(sh.filter(nu), dfOld)
        (pfxNew, pfxOld.unionByName(pfxNew))
    }
    val pairCmp =
      if (isNew.isEmpty) col("a.doc_id") < col("b.doc_id")
      else col("a.doc_id") =!= col("b.doc_id")
    val joinCond =
      col("a.h") === col("b.h") && pairCmp &&
        least(col("a.sz"), col("b.sz")) * 1000000L >=
          greatest(col("a.sz"), col("b.sz")) * tPpm &&
        // PPJoin positional filter: remaining-overlap upper bound
        // must reach α = ⌈t/(1+t)·(sz_a+sz_b)⌉ (integer cross-mul)
        (lit(1L) + least(col("a.sz") - col("a.pos"),
          col("b.sz") - col("b.pos"))) * (1000000L + tPpm) >=
          (col("a.sz") + col("b.sz")) * tPpm
    val cand = left.as("a").join(right.as("b"), joinCond)
      .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
      .distinct()
    val arrs = allPairsArrs(docs)
    cand
      .join(arrs.select(col("doc_id").as("doc_a"), col("hs").as("hs_a"),
        col("sz").as("sz_a")), Seq("doc_a"))
      .join(arrs.select(col("doc_id").as("doc_b"), col("hs").as("hs_b"),
        col("sz").as("sz_b")), Seq("doc_b"))
      .withColumn("inter",
        size(array_intersect(col("hs_a"), col("hs_b"))).cast("long"))
      .filter(col("inter") * 1000000L >=
        (col("sz_a") + col("sz_b") - col("inter")) * tPpm)
      .select(col("doc_a"), col("doc_b"), col("inter"), col("sz_a"),
        col("sz_b"),
        expr("inter * 1000000L div (sz_a + sz_b - inter)").as("jacc_ppm"))
  }

  /** Per-doc NOVEL-shingle rate vs a reference inventory — the
    * memorization/novelty dashboard metric (pair-level contamination
    * says who copied whom; this says how much of a doc is new text).
    * Same 56-bit hashed 3-token shingles as [[allPairsJoin]];
    * membership is ONE equi-join against the distinct reference
    * hashes (shuffle on the hash — no arrays ship). Returns
    * (doc_id, n_shingles, n_novel, novelty_ppm) for docs with
    * `doc_id >= refMaxId`. */
  def noveltyRate(docs: DataFrame, refMaxId: Long = 250L): DataFrame = {
    val sh = docs
      .select(col("doc_id"), split(col("text"), " ").as("raw"))
      .withColumn("i", explode(expr(
        "sequence(1, CASE WHEN size(raw) >= 3 THEN size(raw) - 2 " +
          "ELSE 1 END)")))
      .select(col("doc_id"), expr(
        """CASE WHEN size(raw) >= 3 THEN
             concat_ws(' ', element_at(raw, i),
               element_at(raw, i + 1), element_at(raw, i + 2))
           ELSE concat_ws(' ', raw) END""").as("sg"))
      .select(col("doc_id"), expr("md5_prefix_long(sg, 14)").as("h"))
      .distinct()
    val ref = sh.filter(col("doc_id") < refMaxId).select(col("h"))
      .distinct().withColumn("seen", lit(1L))
    sh.filter(col("doc_id") >= refMaxId)
      .join(ref, Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("seen").isNull, 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty_ppm",
        expr("n_novel * 1000000L div n_shingles"))
      .select(col("doc_id"), col("n_shingles"), col("n_novel"),
        col("novelty_ppm"))
  }

  def winnowPairs(docs: DataFrame, k: Int = 10, w: Int = 8,
                  minShared: Long = 5L, maxDocFreq: Long = 16L): DataFrame = {
    val fp = winnowFp(docs, k, w, maxDocFreq)
    fp.select(col("doc_id").as("doc_a"), col("h"))
      .join(fp.select(col("doc_id").as("doc_b"), col("h")), Seq("h"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Materialized-SHARED (doc_id, h) winnowing-fingerprint frame —
    * consumed identically by [[winnowPairs]] and
    * [[winnowPairsIncremental]] (the incremental applies its is_new
    * flag ON this frame, so both queries build it once per (corpus,
    * k, w, maxDocFreq) per session). */
  private def winnowFp(docs: DataFrame, k: Int, w: Int,
                       maxDocFreq: Long): DataFrame = {
    def build: DataFrame = {
      // widenScan: per-character-position hashing over a 1-split scan
      // (Engine.widenScan scaladoc; token computed on raw docs below)
      val grams = graft.Engine.widenScan(docs)
        .select(col("doc_id"),
          explode(expr(
            s"""CASE WHEN length(text) >= $k
                THEN sequence(1, length(text) - $k + 1)
                ELSE CAST(array() AS ARRAY<INT>) END""")).as("i"),
          col("text"))
        .select(col("doc_id"), col("i"),
          expr(s"md5_prefix_long(substr(text, i, $k), 14) % 1000003L").as("h"))
      grams
        .withColumn("c", min(expr("h * 2097152L + (2097151L - i)")).over(
          Window.partitionBy(col("doc_id")).orderBy(col("i"))
            .rowsBetween(-(w - 1), 0)))
        .filter(col("i") >= w) // full windows only
        .select(col("doc_id"), expr("c div 2097152L").as("h"))
        .distinct()
        .withColumn("df", count(lit(1)).over(Window.partitionBy(col("h"))))
        .filter(col("df") <= maxDocFreq)
        .select(col("doc_id"), col("h"))
    }
    graft.Engine.materializeShared(docs.sparkSession,
      graft.Engine.planToken(docs, extra = s"winnow_fp:$k:$w:$maxDocFreq"),
      build, key = "h", name = "winnow_fp")
  }

  /** Incremental winnowing — the new-batch × corpus twin of
    * [[winnowPairs]], shaped like [[minhashPairsIncremental]]: only
    * fingerprints of docs marked NEW by `isNew` probe the full
    * fingerprint frame, so the historical×historical pair space is
    * never re-examined. The doc-frequency flood cap counts over ALL
    * docs exactly as the full run does, and both-new pairs are
    * deduped per (pair, h) before counting, so the output is
    * bit-for-bit [[winnowPairs]] restricted to pairs with ≥1 new
    * side. */
  def winnowPairsIncremental(docs: DataFrame,
                             isNew: org.apache.spark.sql.Column,
                             k: Int = 10, w: Int = 8,
                             minShared: Long = 5L,
                             maxDocFreq: Long = 16L): DataFrame = {
    // is_new is applied ON the shared fingerprint frame (doc_id, h) —
    // `isNew` must be expressible over doc_id (any append-only ingest
    // marker is), which lets this query ride the exact frame the full
    // run materialized instead of re-fingerprinting the corpus
    val fp = winnowFp(docs, k, w, maxDocFreq).withColumn("is_new", isNew)
    val n = fp.filter(col("is_new"))
      .select(col("doc_id").as("doc_n"), col("h"))
    val all = fp.select(col("doc_id").as("doc_o"), col("h"))
    n.join(all, Seq("h"))
      .filter(col("doc_n") =!= col("doc_o"))
      // both-new pairs arrive once per direction: dedupe per (pair, h)
      // so shared-run counts don't double
      .select(least(col("doc_n"), col("doc_o")).as("doc_a"),
              greatest(col("doc_n"), col("doc_o")).as("doc_b"), col("h"))
      .distinct()
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Exact duplicated-substring SPANS — the ExactSubstr dedup of
    * "Deduplicating Training Data Makes Language Models Better" (Lee
    * et al., ACL 2022), re-expressed relationally: their suffix-array
    * pass finds every substring of length ≥ k occurring more than
    * once in the corpus and removes all but one copy; here every
    * stride-1 `k`-char window is hashed, a window OCCURRENCE is
    * removable iff an occurrence of identical content precedes it in
    * global (doc_id, pos) order (keep-first — exactly one copy of
    * every duplicated substring survives), and per doc the removable
    * windows are merged gaps-and-islands into maximal spans. A
    * duplicated passage of length L ≥ k yields one span of length L
    * in every doc but its first-occurrence holder; within-doc repeats
    * (period-< k runs included) collapse the same way.
    *
    * Scale shape: after the scan-side substr+hash, only (doc_id, pos,
    * h) rides — text never shuffles. The window frame is materialized
    * ONCE bucketed on `h`, so the keep-first aggregation (min packed
    * key per hash — partial-agg/map-side combine collapses boilerplate
    * floods, no sort-window skew on hot hashes) and the join back both
    * run exchange-free on a cluster. Occurrence order packs as
    * `doc_id * 2^32 + pos` (doc_id < 2^31, pos < 2^32 — 4 GB docs);
    * shuffle volume is Θ(total corpus chars) ids-only rows, the same
    * bound the suffix-array construction pays.
    *
    * Returns (doc_id, span_start BIGINT 1-based, span_len, n_windows)
    * — spans per doc are disjoint, so (doc_id, span_start) is a total
    * order. Docs shorter than `k` contribute no windows. */
  def spanDedup(docs: DataFrame, k: Int = 40): DataFrame =
    // the whole span frame is shared across registered queries
    // ([[spanClean]] consumes exactly this result) — keyed by the
    // PRE-transform input plan token
    graft.Engine.materializeShared(docs.sparkSession,
      graft.Engine.planToken(docs, extra = s"span_dedup:$k"),
      buildSpanDedup(docs, k), key = "doc_id", name = "span_dedup")

  /** Materialized-SHARED (doc_id, pos, h) k-char window-hash frame —
    * the scan-side explode + md5 is the dominant cost of the span
    * family, and the full run ([[spanDedup]], whose output
    * `dedup_span_clean` also rides) and the incremental run
    * ([[spanDedupIncremental]]) consume the identical frame: build it
    * once per (corpus, k) per session. */
  private def spanWindows(docs: DataFrame, k: Int): DataFrame = {
    graft.Engine.materializeShared(docs.sparkSession,
      graft.Engine.planToken(docs, extra = s"span_windows:$k"),
      // widenScan: the per-character-position md5 explode (1.29M
      // windows at sf0.1) otherwise runs single-core on the 1-split
      // local scan (r17 opt round: build 4.7 → 1.0 s)
      graft.Engine.widenScan(docs.filter(length(col("text")) >= k))
        .select(col("doc_id"), col("text"),
          explode(sequence(lit(1), length(col("text")) - (k - 1))).as("i"))
        .select(col("doc_id"), col("i").cast("long").as("pos"),
          expr(s"md5_prefix_long(substr(text, i, $k), 14)").as("h")),
      key = "h", name = "span_windows")
  }

  private def buildSpanDedup(docs: DataFrame, k: Int): DataFrame = {
    val okey = col("doc_id") * lit(4294967296L) + col("pos")
    val w = spanWindows(docs, k)
    val firsts = w.groupBy(col("h")).agg(min(okey).as("first_key"))
    val removable = w.join(firsts, Seq("h"))
      .filter(okey =!= col("first_key"))
      .select(col("doc_id"), col("pos"))
    mergeSpans(removable, k)
  }

  /** Gaps-and-islands merge of removable window positions into maximal
    * per-doc spans: consecutive positions ≤ k apart coalesce (their
    * k-char windows overlap). Input (doc_id, pos). */
  private def mergeSpans(removable: DataFrame, k: Int): DataFrame = {
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    removable
      .withColumn("prev", lag(col("pos"), 1).over(byDoc))
      .withColumn("brk",
        when(col("pos") - col("prev") <= k, lit(0L)).otherwise(lit(1L)))
      .withColumn("island", sum(col("brk")).over(byDoc))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + k - min(col("pos"))).as("span_len"),
        count(lit(1)).as("n_windows"))
      .select(col("doc_id"), col("span_start"), col("span_len"),
        col("n_windows"))
  }

  /** Incremental [[spanDedup]] — the new-batch × corpus twin (the
    * `minhashPairsIncremental` contract for substring spans): only
    * documents marked NEW by `isNew` get removal spans; a new window
    * occurrence is removable iff its content occurs ANYWHERE in the
    * old corpus (every old occurrence precedes every new one in the
    * (is_new, doc_id, pos) keep-first order — one semi-join of the
    * small new-batch window set against the old hash index, the
    * tiny × huge shape; old × old is never re-examined) or at an
    * earlier (doc_id, pos) among the new batch itself (keep-first
    * within the batch, same min-packed-key aggregation as the full
    * run — batch-internal duplicates must not survive ingest).
    *
    * With `isNew` monotone in doc_id (append-only ingest, the normal
    * case) this equals the full [[spanDedup]] output restricted to
    * new docs — backfill-exactness is spec'd. At 100 TB the old
    * side's DISTINCT hash set is the bucketed table a daily ingest
    * keeps between runs (the dedup_incremental posture); doc_id must
    * stay < 2^30 (the packed order key reserves the top bits). */
  def spanDedupIncremental(docs: DataFrame, isNew: Column,
                           k: Int = 40): DataFrame = {
    // the is_new flag is applied ON the shared windows frame (it
    // carries doc_id/pos/h only), so `isNew` must be expressible over
    // doc_id — true of every append-only ingest marker; this is what
    // lets the incremental run ride the SAME materialized frame the
    // full run builds instead of re-hashing the corpus
    val w = spanWindows(docs, k).withColumn("is_new", isNew)
    val newW = w.filter(col("is_new"))
    val oldH = w.filter(!col("is_new")).select(col("h")).distinct()
    val matched = newW.join(oldH, Seq("h"), "left_semi")
      .select(col("doc_id"), col("pos"))
    val unmatched = newW.join(oldH, Seq("h"), "left_anti")
    val okey = col("doc_id") * lit(4294967296L) + col("pos")
    val firstsNew = unmatched.groupBy(col("h")).agg(min(okey).as("first_key"))
    val rmSelf = unmatched.join(firstsNew, Seq("h"))
      .filter(okey =!= col("first_key"))
      .select(col("doc_id"), col("pos"))
    mergeSpans(matched.union(rmSelf), k)
  }

  /** Apply [[spanDedup]]: rebuild every document's text with its
    * removable spans excised (the actual ExactSubstr "remove all but
    * one copy" output). The per-doc span list is tiny (disjoint,
    * sorted), so the excision is a single higher-order `aggregate`
    * fold over the collected spans — codegen-friendly, no UDF, no
    * extra corpus scan beyond the join. Docs with no spans pass
    * through byte-identical. Returns (doc_id, clean_len, removed,
    * clean_text). */
  def spanClean(docs: DataFrame, k: Int = 40): DataFrame = {
    val spans = spanDedup(docs, k)
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(
        struct(col("span_start"), col("span_len")))).as("spans"))
    docs.join(spans, Seq("doc_id"), "left")
      .withColumn("clean_text",
        when(col("spans").isNull, col("text")).otherwise(expr("""
          aggregate(spans,
            named_struct('cur', CAST(1 AS BIGINT), 'acc', ''),
            (st, sp) -> named_struct(
              'cur', sp.span_start + sp.span_len,
              'acc', concat(st.acc, substring(text,
                CAST(st.cur AS INT), CAST(sp.span_start - st.cur AS INT)))),
            st -> concat(st.acc,
              substring(text, CAST(st.cur AS INT), length(text))))""")))
      .select(col("doc_id"),
        length(col("clean_text")).cast("long").as("clean_len"),
        (length(col("text")) - length(col("clean_text")))
          .cast("long").as("removed"),
        col("clean_text"))
  }

  /** Star edges for exact duplicates of a canonical key: every doc in
    * a key group links to the group's min doc_id. `canonical` defaults
    * to the sorted-distinct-token normal form. */
  def exactDupEdges(docs: DataFrame,
      canonical: Column = concat_ws(" ",
        array_sort(array_distinct(split(col("text"), " "))))): DataFrame =
    docs
      .withColumn("key", sha2(canonical, 256))
      .withColumn("keep",
        min(col("doc_id")).over(Window.partitionBy(col("key"))))
      .filter(col("doc_id") =!= col("keep"))
      .select(col("keep").as("src"), col("doc_id").as("dst"))

  /** Connected components over undirected edges (`src`, `dst`) via
    * min-label propagation PLUS per-round pointer jumping: each round
    * a vertex takes the min of its own label, its neighbors' labels,
    * and its label's label (`labels(comp)` — the shortcut step). The
    * neighbor step alone needs graph-diameter rounds; the shortcut
    * step doubles the distance a label has travelled every round, so
    * convergence is O(log diameter) — a 100 TB boilerplate chain
    * thousands of docs deep resolves in ~a dozen rounds instead of
    * thousands. Fixpoint is identical to plain propagation (labels
    * only ever move down within a component, and stabilize only at
    * the component min), so the recursive-closure oracle is unchanged.
    *
    * Each round's labels go through `Engine.materialize` —
    * localCheckpoint in one-JVM local mode, a bucketed table on a
    * cluster — so lineage stays bounded AND an executor loss mid-loop
    * recomputes from the last round's table instead of killing the
    * job. In table mode the superseded round's table is dropped as
    * soon as the convergence check has consumed it, so a run leaves
    * behind only the final round's table, not one per iteration.
    * Returns (doc_id, component_id = min doc_id reachable).
    *
    * If `maxIter` rounds pass without convergence (possible only for
    * components wider than 2^maxIter), the loop logs a warning and
    * returns the partially-propagated labels — callers who need
    * certainty should raise `maxIter` toward log2(expected graph
    * diameter). */
  def connectedComponents(edges: DataFrame, maxIter: Int = 50): DataFrame =
    connectedComponentsStats(edges, maxIter)._1

  /** [[connectedComponents]] plus the number of rounds it ran —
    * CorpusSpec asserts the O(log n) bound on a deep-chain fixture. */
  def connectedComponentsStats(edges: DataFrame,
                               maxIter: Int = 50): (DataFrame, Int) = {
    val spark = edges.sparkSession
    val e0 = edges.select(col("src"), col("dst")).distinct()
    val (und, undT) = graft.Engine.materializeTracked(
      e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
        .distinct(),
      key = "src", name = "corpus_cc_edges")
    var (labels, labelsT) = graft.Engine.materializeTracked(
      und.select(col("src").as("id")).distinct()
        .withColumn("comp", col("id")),
      key = "id", name = "cc_round_init")
    var changed = true
    var iter = 0
    while (changed && iter < maxIter) {
      val nbrMin = und
        .join(labels.withColumnRenamed("id", "src"), Seq("src"))
        .groupBy(col("dst").as("id")).agg(min(col("comp")).as("nbr"))
      val comp1 = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("comp"), coalesce(col("nbr"), col("comp"))).as("comp"))
      // shortcut: follow the label one hop through LAST round's
      // (materialized) labels — comp1 stays single-use, the lookup
      // side reuses the already-checkpointed frame
      val jump = labels.select(col("id").as("comp"), col("comp").as("jmp"))
      // `chg` (did this vertex's label move?) is computed INSIDE the
      // materialized round — the convergence probe is then a cheap
      // scan of the checkpointed frame instead of a second
      // labels-vs-next join job per round
      val (next, nextT) = graft.Engine.materializeTracked(
        comp1.join(jump, Seq("comp"), "left")
          .join(labels.select(col("id"), col("comp").as("prev")), Seq("id"))
          .select(col("id"),
            least(col("comp"), coalesce(col("jmp"), col("comp"))).as("comp"),
            (least(col("comp"), coalesce(col("jmp"), col("comp")))
              =!= col("prev")).as("chg")),
        key = "id", name = s"cc_round_${iter % 2}")
      changed = next.filter(col("chg")).limit(1).count() > 0
      graft.Engine.dropMaterialized(spark, labelsT)
      labels = next
      labelsT = nextT
      iter += 1
    }
    graft.Engine.dropMaterialized(spark, undT)
    if (changed)
      logWarning(
        s"connectedComponents: maxIter=$maxIter reached before convergence" +
          " — returned labels are partially propagated; raise maxIter")
    (labels.select(col("id").as("doc_id"), col("comp").as("component_id")),
      iter)
  }

  /** The dedup graph's edge set — exact-dup star edges ∪ minhash
    * near-dup pairs — routed through `Engine.materializeShared` keyed
    * on the input corpus plan, so `dedup_components` and
    * `dedup_components_inc` (and any other same-corpus consumer)
    * build it once per session. The frame is pairs-sized (orders
    * below the corpus); the saving is the exact-dup window + the
    * banded bucket join behind it. */
  def dedupEdges(docs: DataFrame): DataFrame =
    graft.Engine.materializeShared(docs.sparkSession,
      graft.Engine.planToken(docs, "dedup_edges"),
      exactDupEdges(docs).union(
        minhashPairs(docs)
          .select(col("doc_a").as("src"), col("doc_b").as("dst"))),
      key = "src", name = "dedup_edges")

  /** Dedup clustering end-to-end: exact-dup star edges ∪ minhash
    * near-dup pairs → components. */
  def dedupComponents(docs: DataFrame): DataFrame =
    connectedComponents(dedupEdges(docs))

  /** Canonical-representative selection over the dedup clusters — the
    * step real curation pipelines run AFTER [[dedupComponents]]:
    * min-id survivorship (what `corpus_clean` uses as a dedup key) is
    * arbitrary; a training mix should keep each cluster's BEST copy.
    * Per component, members rank by the quality family's stopword-hit
    * proxy (`q_ppm = stop_hits·1e6 div tokens` — the natural-language
    * signal budgetSample ranks by), ties to the smaller doc_id, and
    * the top member emits as the canonical doc.
    *
    * Scale shape: rides the SHARED dedup edge frame (components are
    * one more consumer), quality is a per-row expression, and the
    * per-component window is bounded by cluster size (dup clusters
    * are small by construction — a mega-cluster is a dedup-threshold
    * bug, not a partitioning problem).
    *
    * Returns (component_id, canonical_doc, n_members,
    * canonical_q_ppm), one row per duplicate cluster. */
  def dedupCanonical(docs: DataFrame,
                     stopwords: Seq[String] =
                       Seq("the", "a", "of", "and", "to")): DataFrame =
    dedupCanonicalFrom(dedupComponents(docs), docs, stopwords)

  /** [[dedupCanonical]] over an ALREADY-COMPUTED membership frame
    * ((doc_id, component_id), e.g. [[dedupComponents]]' output) — for
    * callers that need both the members and the canonical pick
    * ([[pipeline]]): the component propagation loop is the expensive
    * half, and running it once instead of twice halved
    * corpus_release's dedup stage. */
  def dedupCanonicalFrom(members: DataFrame, docs: DataFrame,
                         stopwords: Seq[String] =
                           Seq("the", "a", "of", "and", "to")): DataFrame = {
    val toks = split(col("text"), " ")
    val q = docs.select(col("doc_id"),
        size(filter(toks, t => t.isin(stopwords: _*))).cast("long")
          .as("n_stop"),
        size(toks).cast("long").as("n_toks"))
      .withColumn("q_ppm", expr("n_stop * 1000000L div n_toks"))
      .select(col("doc_id"), col("q_ppm"))
    members.join(q, Seq("doc_id"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("component_id"))
          .orderBy(col("q_ppm").desc, col("doc_id"))))
      .withColumn("n_members", count(lit(1)).over(
        Window.partitionBy(col("component_id"))))
      .filter(col("rn") === 1)
      .select(col("component_id"), col("doc_id").as("canonical_doc"),
        col("n_members"), col("q_ppm").as("canonical_q_ppm"))
  }

  /** Incremental connected components — the GRAPH side of the daily
    * dedup job: fold the previous run's labels in as star edges
    * (component_id → doc_id; connectivity-equivalent to the old edge
    * set on the same node set, since every member reaches its root
    * and vice versa) and propagate over star ∪ newEdges only. Because
    * labels are canonical min-ids (roots are themselves member ids),
    * the fixpoint is IDENTICAL to a full run over oldEdges ∪
    * newEdges — no precondition on how the edge set was split. At
    * 100 TB the nightly batch walks |nodes| + |new| edges instead of
    * re-walking the accumulated historical pair set, and the star
    * graph has diameter 2, so the pointer-jumping loop converges in
    * ~log(newly-merged-chain) rounds. */
  def connectedComponentsIncremental(oldLabels: DataFrame,
                                     newEdges: DataFrame): DataFrame =
    connectedComponents(
      oldLabels.filter(col("doc_id") =!= col("component_id"))
        .select(col("component_id").as("src"), col("doc_id").as("dst"))
        .unionByName(newEdges.select(col("src"), col("dst"))))

  /** Deterministic per-stratum sampling: keep a doc iff
    * md5(doc_id) % 100 < rate(stratum). `rates` maps stratum value →
    * percentage; `default` applies to unlisted strata.
    *
    * The hash draws 8 hex chars (32 bits) before the modulo: 2^32 is
    * not a multiple of 100, but the residue bias is ~2e-8 — a
    * requested 10% keeps 10.0000%. (A 2-hex draw would keep 11.7%:
    * 256 % 100 = 56 residues land 3/256 instead of 2/256.) */
  def stratifiedSample(docs: DataFrame, stratum: Column,
                       rates: Map[String, Long],
                       default: Long = 10L): DataFrame = {
    val h = expr(
      "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT) % 100")
    val rate = rates.foldLeft(lit(default)) { case (acc, (k, v)) =>
      when(stratum === k, lit(v)).otherwise(acc)
    }
    docs.filter(h < rate)
  }

  /** TextRank extractive summarization (Mihalcea & Tarau, EMNLP
    * 2004): rank a document's sentences by weighted PageRank over
    * the sentence-similarity graph, keep the top `topK` as the
    * summary. Sentences here are fixed `sentLen`-token windows (the
    * synthetic corpus has no punctuation; real text splits on
    * [.!?] first and the machinery below is unchanged). Similarity
    * w(i,j) = |Wi ∩ Wj|·10^6 div (|Wi| + |Wj|) over distinct
    * non-stopword tokens, edges kept at `minShared` shared words;
    * `rounds` damped update steps in exact ppm arithmetic:
    * score' = 150000 + 85·Σ_j (score_j·w_ji div wdeg_j) div 100.
    *
    * Scale shape: every stage is keyed by doc_id — the candidate
    * self-join fans out per (doc_id, token) where multiplicity is
    * bounded by sentences-per-document, never corpus-wide; the rank
    * iteration joins are equi-keyed on (doc_id, sentence); the only
    * windows are doc_id-partitioned. Isolated sentences keep the
    * damping floor 150000 and still rank (a one-sentence doc yields
    * its sentence).
    *
    * Returns (doc_id, sent_idx, score_ppm, rk ≤ topK). */
  def textrank(docs: DataFrame, sentLen: Int = 12, topK: Int = 2,
               rounds: Int = 2, minShared: Long = 2L,
               stopwords: Seq[String] =
                 Seq("the", "a", "of", "and", "to")): DataFrame = {
    require(sentLen >= 1 && topK >= 1 && rounds >= 1,
      "textrank: sentLen, topK, rounds must all be >= 1")
    // the distinct sentence-word frame feeds THREE consumers (sizes,
    // both pair-join sides) and the edge frame feeds every rank
    // round + wdeg — materialize both so the explode/distinct and the
    // candidate join run once (the minhashSigToks reuse class)
    val sw = graft.Engine.materialize(docs
      .select(col("doc_id"), posexplode(split(col("text"), " ")))
      .filter(!col("col").isin(stopwords: _*))
      .select(col("doc_id"), expr(s"pos div $sentLen").cast("long").as("si"),
        col("col").as("tok"))
      .distinct(), key = "doc_id", name = "textrank_sw")
    val sizes = sw.groupBy(col("doc_id"), col("si"))
      .agg(count(lit(1)).as("nw"))
    val pairs = sw.as("x")
      .join(sw.as("y"),
        col("x.doc_id") === col("y.doc_id") &&
          col("x.tok") === col("y.tok") && col("x.si") < col("y.si"))
      .groupBy(col("x.doc_id").as("doc_id"),
        col("x.si").as("si"), col("y.si").as("sj"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
    val wgt = pairs
      .join(sizes.select(col("doc_id"), col("si"), col("nw").as("nwi")),
        Seq("doc_id", "si"))
      .join(sizes.select(col("doc_id"), col("si").as("sj"),
        col("nw").as("nwj")), Seq("doc_id", "sj"))
      .withColumn("w", expr("shared * 1000000L div (nwi + nwj)"))
      .select(col("doc_id"), col("si"), col("sj"), col("w"))
    val edges = graft.Engine.materialize(
      wgt.select(col("doc_id"), col("si").as("src"),
        col("sj").as("dst"), col("w"))
      .unionByName(wgt.select(col("doc_id"), col("sj").as("src"),
        col("si").as("dst"), col("w"))),
      key = "doc_id", name = "textrank_edges")
    val wdeg = edges.groupBy(col("doc_id"), col("src"))
      .agg(sum(col("w")).as("wdeg"))
    var score = sizes.select(col("doc_id"), col("si").as("node"),
      lit(1000000L).as("score"))
    (1 to rounds).foreach { _ =>
      val contrib = edges
        .join(score.select(col("doc_id"), col("node").as("src"),
          col("score").as("s_src")), Seq("doc_id", "src"))
        .join(wdeg, Seq("doc_id", "src"))
        .groupBy(col("doc_id"), col("dst"))
        .agg(sum(expr("s_src * w div wdeg")).as("contrib"))
      score = score
        .join(contrib.select(col("doc_id"), col("dst").as("node"),
          col("contrib")), Seq("doc_id", "node"), "left")
        .select(col("doc_id"), col("node"),
          expr("150000L + 85 * coalesce(contrib, 0L) div 100")
            .as("score"))
    }
    val byDoc = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("node").asc)
    score.withColumn("rk", row_number().over(byDoc))
      .filter(col("rk") <= topK)
      .select(col("doc_id"), col("node").as("sent_idx"),
        col("score").as("score_ppm"), col("rk"))
  }

  /** Content-defined chunking (the rsync/LBFS boundary trick —
    * Muthitacharoen et al., SOSP 2001): chunk boundaries fall where a
    * rolling content hash of the last 3 tokens lands in a 1-in-16
    * residue class, so an insertion early in a document SHIFTS later
    * token positions but not later chunk boundaries — fixed-width
    * chunking (text_chunk) loses all downstream chunks to one edit,
    * CDC loses one. The per-chunk sha then makes cross-document
    * duplicated PASSAGES an exact group-by, the storage-dedup shape
    * applied to corpus curation. Expected chunk length = the residue
    * modulus (16 tokens).
    *
    * Everything is doc_id-keyed (lag windows, the island rollup);
    * the sha-count join shuffles once on the chunk hash. Returns
    * (doc_id, chunk_idx, start_pos, n_toks, chunk_sha,
    * n_docs_sharing). */
  def cdcChunks(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val toks = docs
      .select(col("doc_id"), posexplode(split(col("text"), " ")))
      .withColumnRenamed("col", "tok")
    val marked = toks
      .withColumn("t1", lag(col("tok"), 1).over(w))
      .withColumn("t2", lag(col("tok"), 2).over(w))
      // md5_prefix_long ≡ conv(substring(md5(..),1,8),16,10) — this
      // hash runs once per token occurrence (r16 opt round)
      .withColumn("m", when(col("pos") >= 2 &&
        expr("md5_prefix_long(concat_ws(' ', t2, t1, tok), 8) % 16")
          === 0L, 1L).otherwise(0L))
      // a boundary token CLOSES its chunk: the next token starts a
      // new one, so the chunk id is the EXCLUSIVE running boundary
      // count
      .withColumn("chunk_idx", coalesce(sum(col("m")).over(
        w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val chunks = marked.groupBy(col("doc_id"), col("chunk_idx"))
      .agg(min(col("pos")).cast("long").as("start_pos"),
        count(lit(1)).as("n_toks"),
        sha2(array_join(transform(
          sort_array(collect_list(struct(col("pos"), col("tok")))),
          r => r.getField("tok")), " "), 256).as("chunk_sha"))
    val sharing = chunks.groupBy(col("chunk_sha"))
      .agg(countDistinct(col("doc_id")).as("n_docs_sharing"))
    chunks.join(sharing, Seq("chunk_sha"))
      .select(col("doc_id"), col("chunk_idx"), col("start_pos"),
        col("n_toks"), col("chunk_sha"), col("n_docs_sharing"))
  }

  /** Priority sampling (Duffield, Lund & Thorup, JACM 2007): the
    * weighted-without-replacement scheme whose k-item sample carries
    * an UNBIASED estimator for any subset sum. Per item, priority
    * q = w/u with u uniform in (0,1]; keep the k largest priorities;
    * the threshold τ is the (k+1)-th priority and each kept item
    * estimates its weight as max(w, τ). Deterministic integer form:
    * u = (h+1)/2^32 from the 32-bit md5 prefix of doc_id, so
    * q = w·2^32 div (h+1) — exact BIGINT (w < 2^21 tokens keeps the
    * product under 2^53), order-isomorphic to w/u.
    *
    * Scale shape: the top-(k+1) is a TakeOrderedAndProject
    * (per-partition top-k, k+1 rows leave each partition — never a
    * global sort); the rank/τ pass runs over that bounded k+1 frame;
    * every heavy item is CERTAIN to appear (w > τ ⇒ q ≥ w > τ), the
    * property reservoir/rate draws lack. Fewer than k+1 items → no
    * τ → empty result (the estimator is undefined without a
    * threshold; callers with tiny inputs take the items directly).
    *
    * Returns the k kept rows as (doc_id, w, q, w_est). */
  def prioritySample(docs: DataFrame, k: Int,
                     tokens: Column =
                       size(split(col("text"), " ")).cast("long"))
      : DataFrame = {
    require(k >= 1, s"prioritySample: k must be >= 1, got $k")
    val base = docs.select(col("doc_id"), tokens.as("w"))
      .withColumn("_h", expr("CAST(conv(substring(md5(" +
        "CAST(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT)"))
      .withColumn("q", expr("w * 4294967296L div (_h + 1L)"))
    val top = base.orderBy(col("q").desc, col("doc_id")).limit(k + 1)
      .withColumn("rk", row_number().over(
        Window.orderBy(col("q").desc, col("doc_id"))))
    val tau = top.filter(col("rk") === k + 1).select(col("q").as("tau"))
    top.filter(col("rk") <= k).crossJoin(broadcast(tau))
      .select(col("doc_id"), col("w"), col("q"),
        greatest(col("w"), col("tau")).as("w_est"))
  }

  /** [[prioritySample]] per stratum — k weighted picks and an
    * unbiased subset-sum estimator WITHIN each group (the form a
    * mixture pipeline runs: per-source representative samples whose
    * estimates still sum correctly per source). Same integer draw;
    * the rank runs in a stratum-PARTITIONED window (shuffle-parallel
    * across strata — the scale difference from the global variant's
    * TakeOrderedAndProject). A stratum with ≤ k items has no (k+1)-th
    * priority: it keeps ALL its items with w_est = w — taking
    * everything is the exact (zero-variance) estimator, so the
    * degenerate case stays unbiased rather than empty.
    *
    * Returns (stratum, doc_id, w, q, w_est). */
  def prioritySampleStratified(docs: DataFrame, stratum: Column, k: Int,
                               tokens: Column =
                                 size(split(col("text"), " ")).cast("long"))
      : DataFrame = {
    require(k >= 1, s"prioritySampleStratified: k must be >= 1, got $k")
    val base = docs
      .select(col("doc_id"), stratum.as("stratum"), tokens.as("w"))
      .withColumn("_h", expr("CAST(conv(substring(md5(" +
        "CAST(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT)"))
      .withColumn("q", expr("w * 4294967296L div (_h + 1L)"))
      .withColumn("rk", row_number().over(Window.partitionBy(col("stratum"))
        .orderBy(col("q").desc, col("doc_id"))))
    val tau = base.filter(col("rk") === k + 1)
      .select(col("stratum"), col("q").as("tau"))
    base.filter(col("rk") <= k)
      .join(tau, Seq("stratum"), "left")
      .select(col("stratum"), col("doc_id"), col("w"), col("q"),
        greatest(col("w"), coalesce(col("tau"), lit(0L))).as("w_est"))
  }

  /** Temperature-flattened mixture resampling — the multilingual /
    * multi-source rebalancing step (the UniMax / mT5 τ=2 shape): a
    * stratum's sampling weight is sqrt of its size, so dominant
    * strata are down-weighted and tail strata up-weighted, with no
    * stratum sampled above its own size.
    *
    * Fully integer-deterministic so it hash-matches across engines:
    *  - c_stratum: exact per-stratum count,
    *  - weight = floor(sqrt(c_stratum · 10^6)) — an integer ∝
    *    sqrt(c); sqrt is IEEE correctly-rounded in every engine, and
    *    the argument is an exact integer < 2^53, so the floor is
    *    engine-portable (no pow(), whose libm rounding varies),
    *  - target = min(c_stratum, (targetTotal · weight) div Σweight),
    *  - keep a doc iff h32 · c_stratum < target · 2^32, where h32 is
    *    the 32-bit md5-prefix of doc_id — a per-stratum hash-rate
    *    draw keeping `target` docs in expectation (the exact-count
    *    variant is [[shardAssign]]'s two-level rank machinery; the
    *    rate form is one count agg + a broadcast join + a filter, the
    *    cheapest 100 TB shape, and reproducible row-by-row).
    *
    * Scale shape: one hash agg bounded by stratum count, an
    * unpartitioned window over that tiny frame, a broadcast join, a
    * scan-parallel filter — no global sort, no skew (the draw tests
    * each row independently). Overflow bounds: the products need
    * c_stratum < 2^31 and target < 2^31; beyond that (per-stratum
    * billions) drop h32 to a 24-bit draw.
    *
    * Returns kept rows as (doc_id, stratum, c_stratum, weight,
    * target, h32). NULL strata are dropped (equi-join semantics) —
    * filter or fill upstream. */
  def temperatureSample(docs: DataFrame, stratum: Column,
                        targetTotal: Long): DataFrame = {
    val counts = docs.groupBy(stratum.as("stratum"))
      .agg(count(lit(1)).as("c_stratum"))
      .withColumn("weight",
        floor(sqrt(col("c_stratum").cast("double") * 1000000.0d)).cast("long"))
    val targets = counts
      .withColumn("w_total", sum(col("weight")).over(
        Window.partitionBy().rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)))
      .withColumn("target", least(col("c_stratum"),
        expr(s"($targetTotal * weight) div w_total")))
      .select(col("stratum"), col("c_stratum"), col("weight"), col("target"))
    docs.select(col("doc_id"), stratum.as("stratum"))
      .join(broadcast(targets), Seq("stratum"))
      .withColumn("h32", expr(
        "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT)"))
      .filter(col("h32") * col("c_stratum") < col("target") * lit(4294967296L))
      .select(col("doc_id"), col("stratum"), col("c_stratum"),
        col("weight"), col("target"), col("h32"))
  }

  /** Curriculum ordering for a training-data loader (Bengio et al.
    * 2009's easy-to-hard schedule, expressed as a deterministic data
    * layout): ascending-difficulty phases with a sharded
    * deterministic shuffle inside each phase. Phase boundaries are
    * exact quartiles of the difficulty score computed
    * HISTOGRAM-FIRST — group by distinct difficulty value, cumulative
    * count over the value domain (the a_quantile_weighted shape), so
    * the only unpartitioned window runs over the bounded
    * distinct-value domain, never the corpus — then every doc is
    * assigned by threshold comparison against one broadcast 1-row
    * frame (scan-parallel). The within-phase order is a sharded hash
    * shuffle: shard = md5-prefix(doc_id) % nShards and a per-(phase,
    * shard) row_number — a loader consumes shards round-robin within
    * a phase, so no quarter-corpus ever funnels through a single
    * window partition (the scale failure a global per-phase dense
    * sequence would hit at 100 TB). Reference has no curriculum op;
    * this extends the sampling family (SURVEY §2.9).
    *
    * Returns (doc_id, difficulty, phase 1..4, shard, ord). */
  def curriculumOrder(docs: DataFrame, difficulty: Column,
                      nShards: Int = 8): DataFrame = {
    val d = docs.select(col("doc_id"),
      difficulty.cast("long").as("difficulty"))
    val cum = d.groupBy(col("difficulty"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum(col("cnt")).over(
        Window.orderBy(col("difficulty"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val tot = d.agg(count(lit(1)).as("n"))
    val thresholds = cum.crossJoin(broadcast(tot)).agg(
      min(when(col("cum") * 4 >= col("n"), col("difficulty"))).as("q1"),
      min(when(col("cum") * 2 >= col("n"), col("difficulty"))).as("q2"),
      min(when(col("cum") * 4 >= col("n") * 3, col("difficulty")))
        .as("q3"))
    d.crossJoin(broadcast(thresholds))
      .withColumn("phase",
        (lit(1) + (col("difficulty") > col("q1")).cast("int")
          + (col("difficulty") > col("q2")).cast("int")
          + (col("difficulty") > col("q3")).cast("int")).cast("long"))
      .withColumn("h", expr("md5_prefix_long(CAST(doc_id AS STRING), 14)"))
      .withColumn("shard", expr(s"h % $nShards"))
      .withColumn("ord", row_number().over(
        Window.partitionBy(col("phase"), col("shard"))
          .orderBy(col("h"), col("doc_id"))).cast("long"))
      .select(col("doc_id"), col("difficulty"), col("phase"),
        col("shard"), col("ord"))
  }

  /** RAKE-style keyphrase extraction (Rose et al. 2010), re-expressed
    * relationally and integer-exact — the per-document labeling
    * primitive beside `text_topics`' per-CLUSTER lift terms: candidate
    * phrases are maximal stopword-free token runs (gaps-and-islands
    * over positions; runs longer than `maxLen` words are dropped
    * whole, the standard RAKE length cap), word statistics aggregate
    * over ALL candidates corpus-wide (freq = occurrences, degree =
    * occurrence-weighted phrase length), a word scores
    * `deg·100 div freq` (co-occurrence-favoring, the RAKE ratio in
    * x100 fixed point), and a phrase scores the sum of its words'
    * scores. Per doc the top `topK` phrases emit, ties broken by
    * (phrase, first position).
    *
    * Scale shape: one per-doc window for island ids (bounded by doc
    * length), the word-stat agg is vocabulary-bounded with map-side
    * combine, the score join shuffles on the word — no all-pairs
    * anywhere; phrase assembly is an ordered collect bounded per
    * island by `maxLen`.
    *
    * Returns (doc_id, rank, phrase, n_words, score_x100). */
  def keyphrases(docs: DataFrame,
                 stopwords: Seq[String] =
                   Seq("the", "a", "of", "and", "to"),
                 maxLen: Int = 4, topK: Int = 3): DataFrame = {
    val tok = docs.select(col("doc_id"),
      posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
    val ns = tok.filter(!col("tok").isin(stopwords: _*))
      .withColumn("isl", col("pos") - row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("pos"))))
    val phr = ns.groupBy(col("doc_id"), col("isl"))
      .agg(expr("transform(array_sort(collect_list(struct(pos, tok))), " +
          "x -> x.tok)").as("ws"),
        min(col("pos")).as("p0"))
      .filter(size(col("ws")) <= maxLen)
      .withColumn("phrase", array_join(col("ws"), " "))
      .withColumn("n_words", size(col("ws")).cast("long"))
    val wrd = phr.select(col("doc_id"), col("isl"), col("phrase"),
      col("n_words"), col("p0"), explode(col("ws")).as("w"))
    val st = wrd.groupBy(col("w"))
      .agg(count(lit(1)).as("freq"), sum(col("n_words")).as("deg"))
      .withColumn("wscore_x100", expr("deg * 100L div freq"))
      .select(col("w"), col("wscore_x100"))
    wrd.join(st, Seq("w"))
      .groupBy(col("doc_id"), col("isl"))
      .agg(min(col("phrase")).as("phrase"), min(col("n_words")).as("n_words"),
        min(col("p0")).as("p0"), sum(col("wscore_x100")).as("score_x100"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("score_x100").desc, col("phrase"), col("p0"))))
      .filter(col("rank") <= topK)
      .select(col("doc_id"), col("rank"), col("phrase"), col("n_words"),
        col("score_x100"))
  }

  /** Quality-ranked token-budget selection — the "fill the mix" step
    * between scoring and packing: within each stratum, rank docs by
    * an integer quality proxy (stopword-hit ppm — the natural-
    * language signal the quality family scores; higher = keep first)
    * and take the ranking PREFIX whose cumulative token count fits
    * `budget`. Greedy prefix-under-budget is how real mixes spend a
    * per-source token allowance once weights are decided
    * ([[mixtureSample]] decides the allowance; this spends it
    * doc-by-doc, best first, a crossing doc is dropped whole).
    *
    * Integer-deterministic: tokens = whitespace split size, q_ppm =
    * stop_hits·10^6 div tokens, ties broken by doc_id — both engines
    * replay the identical ranking and cumsum.
    *
    * Scale shape: the cumsum is TWO-LEVEL (the [[shardAssign]] /
    * `tokenCumsum` pattern, implemented since round 10 — it was
    * previously only documented): q_ppm quantizes into ≤ 1001
    * thousand-wide bands, the per-(stratum, band) token totals
    * prefix-sum over a bounded ≤ 1001-row window, and the per-doc
    * running sum windows over (stratum, band) — never a whole
    * stratum. A mega-stratum therefore splits across its quality
    * bands instead of sorting in one partition; because the band key
    * is a monotone function of q_ppm, (band DESC, q_ppm DESC,
    * doc_id) equals the flat (q_ppm DESC, doc_id) order and
    * cum_toks is bit-identical to the single-window form the DuckDB
    * oracle replays. (An adversarial corpus where one (stratum,
    * q_ppm) value holds most docs still concentrates one band — the
    * histogram-threshold family's documented value-domain bound.)
    *
    * Returns the selected rows as (doc_id, stratum, toks, q_ppm,
    * cum_toks); cum_toks is strictly increasing within a stratum, so
    * (stratum, cum_toks) is a total order. */
  def budgetSample(docs: DataFrame, stratum: Column, budget: Long,
                   stopwords: Seq[String] =
                     Seq("the", "a", "of", "and", "to")): DataFrame = {
    val toks = split(col("text"), " ")
    val base = docs
      .select(col("doc_id"), stratum.as("stratum"), col("text"))
      .withColumn("toks", size(toks).cast("long"))
      .withColumn("n_stop",
        size(filter(toks, t => t.isin(stopwords: _*))).cast("long"))
      .withColumn("q_ppm", expr("n_stop * 1000000L div toks"))
      // q_ppm ∈ [0, 1e6] → ≤ 1001 bands; the band is a monotone
      // function of q_ppm, so band-major order ≡ flat q_ppm order
      .withColumn("qb", expr("q_ppm div 1000"))
    val bandTotals = base.groupBy(col("stratum"), col("qb"))
      .agg(sum(col("toks")).as("_bt"))
      .withColumn("_off", coalesce(sum(col("_bt")).over(
        Window.partitionBy(col("stratum")).orderBy(col("qb").desc)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("stratum"), col("qb"), col("_off"))
    val wIn = Window.partitionBy(col("stratum"), col("qb"))
      .orderBy(col("q_ppm").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base
      .join(broadcast(bandTotals), Seq("stratum", "qb"))
      .withColumn("cum_toks", col("_off") + sum(col("toks")).over(wIn))
      .filter(col("cum_toks") <= budget)
      .select(col("doc_id"), col("stratum"), col("toks"), col("q_ppm"),
        col("cum_toks"))
  }

  /** Mixture sampling with data repetition — the training-mix step
    * (the Pile / LLaMA corpus-weighting shape, arXiv:2101.00027 §2):
    * the caller declares target mixture weights per stratum (ppm,
    * summing to ≤ 1e6) and a total token budget; each stratum's
    * docs are sampled — or REPEATED, when its target exceeds its
    * size — so delivered tokens land on weight·budget in
    * expectation. Repetition is how real mixes up-weight small
    * high-quality sources (wiki/books run 2-5 epochs while web runs
    * <1), and the fractional epoch is the same reproducible md5
    * draw as [[stratifiedSample]].
    *
    * Fully integer-deterministic:
    *  - avail = Σ tokens per stratum (exact long),
    *  - target = (weight_ppm · budget) div 1e6,
    *  - ratio_ppm = (target · 1e6) div avail — may exceed 1e6,
    *  - n_repeats = ratio_ppm div 1e6
    *              + [h32 · 1e6 < (ratio_ppm mod 1e6) · 2^32],
    *    where h32 is the 32-bit md5 prefix of doc_id.
    *
    * Scale shape: one bounded agg, a broadcast of the strata-sized
    * plan frame, a scan-parallel filter — no sort, no skew (each row
    * draws independently). Overflow bound: weight_ppm · budget and
    * target · 1e6 need budget < 9e12 tokens; beyond that, drop the
    * ppm scale to per-mille.
    *
    * Strata with no declared weight are dropped (rate 0). Returns
    * (doc_id, stratum, doc_tokens, avail_tokens, target_tokens,
    * ratio_ppm, n_repeats) for docs with n_repeats ≥ 1; a training
    * exporter downstream would explode n_repeats into epochs. */
  def mixtureSample(docs: DataFrame, stratum: Column, tokens: Column,
                    weightsPpm: Map[String, Long],
                    budgetTokens: Long): DataFrame = {
    val avail = docs.groupBy(stratum.as("stratum"))
      .agg(sum(tokens).as("avail_tokens"))
    val w = weightsPpm.foldLeft(lit(0L)) { case (acc, (k, v)) =>
      when(col("stratum") === k, lit(v)).otherwise(acc)
    }
    val plan = avail
      .withColumn("weight_ppm", w)
      .filter(col("weight_ppm") > 0 && col("avail_tokens") > 0)
      .withColumn("target_tokens",
        expr(s"(weight_ppm * ${budgetTokens}L) div 1000000"))
      .withColumn("ratio_ppm",
        expr("(target_tokens * 1000000) div avail_tokens"))
      .select(col("stratum"), col("avail_tokens"),
        col("target_tokens"), col("ratio_ppm"))
    docs.select(col("doc_id"), stratum.as("stratum"),
        tokens.cast("long").as("doc_tokens"))
      .join(broadcast(plan), Seq("stratum"))
      .withColumn("h32", expr(
        "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT)"))
      .withColumn("n_repeats",
        expr("ratio_ppm div 1000000") +
          when(col("h32") * lit(1000000L) <
            (col("ratio_ppm") % lit(1000000L)) * lit(4294967296L), 1L)
            .otherwise(0L))
      .filter(col("n_repeats") > 0)
      .select(col("doc_id"), col("stratum"), col("doc_tokens"),
        col("avail_tokens"), col("target_tokens"), col("ratio_ppm"),
        col("n_repeats"))
  }

  /** Token-weighted SYSTEMATIC sampling (Madow's method — PPS without
    * replacement): per stratum, lay the docs on a line in a
    * reproducible md5-shuffled order, cut it at every multiple of
    * `step = total_tokens div k`, and keep each doc a cut lands in.
    * The sampling-theory member the sample_* family lacked:
    * [[stratifiedSample]] draws per-doc Bernoulli (size drifts
    * binomially), [[budgetSample]] takes a quality-ranked prefix
    * (biased by construction); systematic PPS delivers EXACTLY
    * `min(k, boundaries)` docs per stratum with inclusion
    * probability proportional to size — `toks/step`, certainty for
    * docs spanning a whole step — and zero variance in sample-token
    * volume. `n_hits` reports how many cuts a doc absorbed (a true
    * PPS-with-multiplicity consumer multiplies by it; a dedup
    * consumer ignores it).
    *
    * Fully integer-deterministic: the order key is the 32-bit md5
    * prefix of doc_id (ties broken by doc_id), cuts are integer
    * floor-division boundaries, and a pick at cum = m·step exactly
    * belongs to the doc whose interval CLOSES there (prev < m·step ≤
    * cum). `pick_idx = prev div step + 1` is the 1-based cut index;
    * cuts beyond k (the `total mod k` tail) are discarded.
    *
    * Scale shape: the per-stratum cumulative sum is TWO-LEVEL — 256
    * hash bands per stratum (band = high byte of the order hash),
    * per-band offsets from a bounded window over the (stratum, band)
    * frame, in-band running sums over (stratum, band) partitions —
    * so no window partition ever holds a whole stratum (the
    * budgetSample mega-stratum posture). One bounded agg + two
    * broadcasts + one partitioned window; no all-stratum sort. */
  def systematicSample(docs: DataFrame, stratum: Column, k: Int,
                       tokens: Column =
                         size(split(col("text"), " ")).cast("long"))
      : DataFrame = {
    require(k >= 1, s"systematicSample: k must be >= 1, got $k")
    val base = docs
      .select(col("doc_id"), stratum.as("stratum"), tokens.as("toks"))
      .withColumn("_h", expr("CAST(conv(substring(md5(" +
        "CAST(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT)"))
      .withColumn("_hb", expr("_h div 16777216")) // 256 bands (2^24)
    val bandTotals = base.groupBy(col("stratum"), col("_hb"))
      .agg(sum(col("toks")).as("_bt"))
      .withColumn("_off", coalesce(sum(col("_bt")).over(
        Window.partitionBy(col("stratum")).orderBy(col("_hb"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("stratum"), col("_hb"), col("_off"))
    val totals = base.groupBy(col("stratum"))
      .agg(sum(col("toks")).as("_tot"))
    val wIn = Window.partitionBy(col("stratum"), col("_hb"))
      .orderBy(col("_h"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base
      .join(broadcast(bandTotals), Seq("stratum", "_hb"))
      .join(broadcast(totals), Seq("stratum"))
      .withColumn("cum_toks", col("_off") + sum(col("toks")).over(wIn))
      .withColumn("_step", greatest(expr(s"_tot div ${k}L"), lit(1L)))
      .withColumn("_prev", col("cum_toks") - col("toks"))
      // cuts beyond k (the `total mod k` tail) don't exist: cap the
      // multiplicity numerator at k before differencing
      .withColumn("n_hits",
        expr(s"least(cum_toks div _step, ${k}L) - _prev div _step"))
      .withColumn("pick_idx", expr("_prev div _step + 1"))
      .filter(col("n_hits") > 0L && expr(s"_prev div _step < ${k}L"))
      .select(col("doc_id"), col("stratum"), col("toks"),
        col("cum_toks"), col("pick_idx"), col("n_hits"))
  }

  /** Materialized-SHARED per-doc token stats (doc_id, n_tokens,
    * top_tok_count) — the full-corpus tokenize + two-level aggregate
    * that FIVE registered queries need identically (corpus_stats,
    * corpus_clean, corpus_filter, text_probe_fit, text_repetition).
    * Parameter-free (no thresholds enter), so one frame per corpus
    * per session serves every caller; the frame is doc-count-sized
    * (three numeric columns), so materializing it is cheap next to
    * the corpus-volume tokenize it saves. */
  def docTokenStats(docs: DataFrame): DataFrame =
    graft.Engine.materializeShared(docs.sparkSession,
      graft.Engine.planToken(docs, extra = "doc_token_stats"),
      graft.Engine.widenScan(docs)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n_tokens"),
          max(col("c")).as("top_tok_count")),
      key = "doc_id", name = "doc_token_stats")

  /** Quality signals + first-failing-rule cascade (C4/Gopher shape).
    * Adds n_tokens, top_tok_count, repetition_ratio, keep,
    * drop_reason to the input rows.
    *
    * `chars` is the expression the `minChars` rule tests — it defaults
    * to `length(text)`, but a corpus that stores its own size column
    * (token count, byte count, pre-normalization length) passes that
    * column explicitly; the filter makes no assumption that a stored
    * `n_chars` equals `length(text)`. */
  def qualityFilter(docs: DataFrame, minChars: Long = 100L,
                    minTokens: Long = 18L,
                    maxRepetition: Double = 0.125,
                    chars: Column = length(col("text"))): DataFrame = {
    val stats = docTokenStats(docs)
    docs.join(stats, Seq("doc_id"))
      .withColumn("repetition_ratio",
        try_divide(col("top_tok_count"), col("n_tokens")))
      .withColumn("drop_reason",
        when(chars < minChars, "too_short")
          .when(col("n_tokens") < minTokens, "too_few_tokens")
          .when(col("repetition_ratio") > maxRepetition, "repetitive")
          .otherwise(lit(null).cast("string")))
      .withColumn("keep", col("drop_reason").isNull)
  }

  /** Corpus bigram-LM quality scoring — the CCNet-style "does this
    * document look like the rest of the corpus" signal, kept fully
    * integer-deterministic so the score is reproducible across
    * engines, partitionings, and cluster sizes (no transcendental
    * functions: log-perplexity is a monotone transform of per-bigram
    * probabilities, so the RANKING a filter consumes is driven by the
    * same integer statistics reported here).
    *
    * Semantics: whitespace-token bigrams; corpus-wide per-bigram
    * total frequency (tf) and document frequency (df); per doc —
    *  - `n_bigrams`: bigram occurrences,
    *  - `n_novel`: occurrences of bigrams seen in NO other document
    *    (df = 1) — gibberish scores high, natural prose low,
    *  - `novelty_ratio` = n_novel / n_bigrams (one exact division),
    *  - `sum_tf` / `avg_tf`: occurrence-weighted corpus frequency —
    *    the "how typical is this text" mass,
    *  - `keep` = novelty_ratio ≤ `novelTau` (false for docs with no
    *    bigrams — sub-2-token docs are drops anyway).
    *
    * Scale shape: one explode → two hash aggs (per-(doc, bigram)
    * counts, then per-bigram stats — the text_vocab two-level form, so
    * count and distinct-doc-count never meet in one agg/Expand) → one
    * shuffle join keyed by bigram → per-doc agg. The stats table is
    * bounded by distinct-bigram count, never broadcast; super-common
    * bigrams ("of the") skew the join key — AQE skew-join splits them,
    * and the stats side is one row per key so there is no fan-out. */
  /** Log-free rational BM25 ranked retrieval (Robertson/Zaragoza's
    * Okapi BM25 with the idf's log dropped): score(d) = Σ_t idf'(t) ·
    * tf·(k1+1) / (tf + k1·(1-b+b·|d|/avgdl)), where idf'(t) =
    * (N-df+0.5)/(df+0.5) — the log's argument, monotone in the
    * standard idf, so rankings agree where it matters while every
    * quantity stays INTEGER fixed-point (milli-scaled norms, ppm-
    * scaled term frequencies, floor division): `ln` is not IEEE-exact
    * across engines, floor div is — this is what makes the score
    * bit-replayable in DuckDB (the determinism contract every other
    * operator here keeps; sqrt-based cosine is exact, log is not).
    *
    * Scale shape: one token scan builds tf (filtered to the query's
    * terms BEFORE the shuffle — the inverted-index access pattern),
    * doc lengths aggregate once, per-term df and the global (N,
    * avgdl) stats are broadcast 1-row/tiny frames, and the final
    * top-k is orderBy+limit (TakeOrderedAndProject — no global
    * window over the corpus).
    *
    * Returns (doc_id, rank, score, n_terms) for the `topK` highest-
    * scoring docs; ties break by doc_id. */
  def bm25Rank(docs: DataFrame, terms: Seq[String], topK: Int = 10,
               k1Milli: Long = 1200L, bMilli: Long = 750L): DataFrame = {
    val (tf, dl, dft, totals) = bm25Partials(docs, terms)
    bm25Score(tf, dl, dft, totals, topK, k1Milli, bMilli)
  }

  /** The persisted-partial half of BM25: per-batch posting counts
    * (tf), doc lengths, per-term doc frequencies, and the (n_docs,
    * sum_dlen) totals. ALL of these merge losslessly across batches —
    * tf/dl by union (doc-keyed, batches disjoint), df/totals by sum —
    * which is what makes retrieval stats incrementally maintainable:
    * a daily job persists each day's partials and the serving index
    * re-merges without re-tokenizing history ([[bm25RankIncremental]];
    * the a_quantile_merge/a_sketch_merge contract applied to search).
    * totals = (n_docs, dlen_sum) rather than the derived avg — an
    * average is NOT mergeable, its numerator and denominator are. */
  def bm25Partials(docs: DataFrame, terms: Seq[String])
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val toks = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("tok"))
    val dl = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dlen"))
    val totals = dl.agg(expr("count(1)").as("n_docs"),
      expr("sum(dlen)").as("dlen_sum"))
    val tf = toks.filter(col("tok").isin(terms: _*))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val dft = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    (tf, dl, dft, totals)
  }

  /** Incremental BM25: rank the FULL corpus from per-batch partials —
    * the historical batch's partials are reused as-is (in production:
    * read from the persisted daily job, never re-tokenized) and only
    * the `isNew` batch is tokenized fresh. Because every partial
    * merges losslessly (see [[bm25Partials]]), the output is
    * bit-identical to [[bm25Rank]] over the union — the 6th
    * incremental family, and unlike the dedup ones the equality is
    * unconditional (no monotonicity precondition: df sums and unions
    * commute with any batch split). */
  def bm25RankIncremental(docs: DataFrame, isNew: Column,
                          terms: Seq[String], topK: Int = 10,
                          k1Milli: Long = 1200L,
                          bMilli: Long = 750L): DataFrame = {
    val (tfH, dlH, dftH, totH) = bm25Partials(docs.filter(!isNew), terms)
    val (tfN, dlN, dftN, totN) = bm25Partials(docs.filter(isNew), terms)
    val tf = tfH.unionByName(tfN)
    val dl = dlH.unionByName(dlN)
    val dft = dftH.unionByName(dftN)
      .groupBy(col("tok")).agg(sum(col("df")).as("df"))
    val totals = totH.unionByName(totN)
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("dlen_sum")).as("dlen_sum"))
    bm25Score(tf, dl, dft, totals, topK, k1Milli, bMilli)
  }

  private def bm25Score(tf: DataFrame, dl: DataFrame, dft: DataFrame,
                        totals: DataFrame, topK: Int,
                        k1Milli: Long, bMilli: Long): DataFrame = {
    val stats = totals.select(col("n_docs"),
      expr("(dlen_sum * 1000) div n_docs").as("avg_m"))
    val scored = tf.join(broadcast(dft), Seq("tok"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .withColumn("idf_m",
        expr("((n_docs - df) * 1000000 + 500000) div (df * 1000 + 500)"))
      .withColumn("norm_m",
        expr(s"1000 - $bMilli + ($bMilli * dlen * 1000) div avg_m"))
      .withColumn("tfn_ppm", expr(
        s"(tf * (1000 + $k1Milli) * 1000000) div " +
          s"(tf * 1000 + ($k1Milli * norm_m) div 1000)"))
      .groupBy(col("doc_id"))
      .agg(sum(col("idf_m") * col("tfn_ppm")).as("score"),
        count(lit(1)).as("n_terms"))
    val top = scored.orderBy(col("score").desc, col("doc_id")).limit(topK)
    top.withColumn("rank", row_number().over(
        Window.orderBy(col("score").desc, col("doc_id"))))
      .select(col("doc_id"), col("rank"), col("score"), col("n_terms"))
  }

  /** Reciprocal-rank fusion (Cormack/Clarke/Buettcher, SIGIR 2009) of
    * a lexical and a vector ranking: rrf(d) = Σ_lists 1/(kRrf +
    * rank_list(d)), integer-scaled to ppm so the fusion is exact.
    * `lex`/`vec` carry (id, rank); a doc missing from one list
    * contributes 0 from it (full outer join). The fused list is the
    * standard hybrid-retrieval last mile over [[bm25Rank]] +
    * `Vectors.knnBrute`/ANN ranks. Returns (rank, id, lex_rank,
    * vec_rank, rrf) for the topK fused docs. */
  def rrfFuse(lex: DataFrame, vec: DataFrame, topK: Int = 10,
              kRrf: Int = 60): DataFrame = {
    val contrib = (c: String) =>
      s"coalesce(CAST(1000000 AS BIGINT) div ($kRrf + CAST($c AS BIGINT)), CAST(0 AS BIGINT))"
    val fused = lex.select(col("id"), col("rank").as("lex_rank"))
      .join(vec.select(col("id"), col("rank").as("vec_rank")),
        Seq("id"), "full_outer")
      .withColumn("rrf",
        expr(s"${contrib("lex_rank")} + ${contrib("vec_rank")}"))
    val top = fused.orderBy(col("rrf").desc, col("id")).limit(topK)
    top.withColumn("rank", row_number().over(
        Window.orderBy(col("rrf").desc, col("id"))))
      .select(col("rank"), col("id"), col("lex_rank"), col("vec_rank"),
        col("rrf"))
  }

  /** ColBERT-style LATE-INTERACTION retrieval (Khattab & Zaharia
    * 2020 — MaxSim): `score(q, d) = Σ_{t∈q} max_{τ∈d} ⟨v(t), v(τ)⟩`
    * — every query term picks its best-matching document token, so a
    * document scores on per-term evidence instead of one pooled
    * vector (the structural difference from [[bm25Rank]]'s lexical
    * tf·idf and from doc-vector cosine).
    *
    * Token vectors are deterministic `dims`-dim HASH embeddings
    * (`md5_prefix_long(tok:d) % 2001 − 1000` per coordinate — the
    * multimodal decode-stub convention: the encoder is a stand-in a
    * real deployment swaps for a learned one, while the Spark-side
    * plumbing — exploded doc-token frame, vocab-level vector
    * derivation, per-(doc, term) max, per-doc sum, top-k — IS the
    * late-interaction operator shape). Integer vectors, [[
    * graft.functions.LongArrayDot]] codegen dot, exact BIGINT
    * scores.
    *
    * Scale shape: vectors derive once per DISTINCT token (vocab-
    * sized, not corpus-sized); the scoring frame is doc-token rows ×
    * |terms| — scan-linear per term with two map-side-combinable
    * aggregations and a TakeOrderedAndProject; no pairwise blowup.
    * A production ColBERT composes this as the RERANK stage over an
    * ANN/BM25 shortlist — pass `docs` already filtered to the
    * shortlist for that shape. */
  def maxsimSearch(docs: DataFrame, terms: Seq[String],
                   topK: Int = 20, dims: Int = 8): DataFrame = {
    val s = docs.sparkSession
    def vec(c: String): String =
      s"transform(sequence(0, ${dims - 1}), d -> " +
        s"md5_prefix_long(concat($c, ':', CAST(d AS STRING)), 8) " +
        "% 2001 - 1000)"
    val dtok = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .distinct()
    val vocab = dtok.select(col("tok")).distinct()
      .withColumn("tv", expr(vec("tok")))
    import s.implicits._
    val q = terms.toDF("term").withColumn("qv", expr(vec("term")))
    dtok.join(vocab, Seq("tok"))
      .crossJoin(broadcast(q)) // |terms|-row broadcast fan-out
      .withColumn("dot", expr("long_dot(tv, qv)"))
      .groupBy(col("doc_id"), col("term"))
      .agg(max(col("dot")).as("term_max"))
      .groupBy(col("doc_id"))
      .agg(sum(col("term_max")).as("maxsim"))
      .orderBy(col("maxsim").desc, col("doc_id"))
      .limit(topK)
  }

  /** Retrieval ranking eval over [[bm25Rank]]: per-cutoff metric
    * curve (hits@k, precision/recall ppm, reciprocal rank, DCG/IDCG,
    * ndcg ppm) against DEFINITIONAL conjunctive relevance — a doc is
    * relevant iff its token set contains every query term. All
    * arithmetic is exact integer: rank discounts are `D div r` with
    * D = lcm(1..20) = 232792560 (every 1/rank term integral for
    * topK ≤ 20 — enforced), ratios are floor-div ppm, so the metric
    * is bit-reproducible cross-engine (classic log2-discount NDCG is
    * not; with binary gains the reciprocal-rank discount keeps the
    * same earlier-is-better semantics and stays rational).
    *
    * Scale shape: the ranking is [[bm25Rank]] (inverted-index
    * access, broadcast stats, TakeOrderedAndProject top-k); the
    * relevance mark is one scan-parallel conjunctive filter joined
    * to the topK rows; every window runs over the LIMIT-topK frame
    * (≤20 rows). Returns one row per cutoff k = 1..topK. */
  def searchEval(docs: DataFrame, terms: Seq[String],
                 topK: Int = 20): DataFrame = {
    val rel = docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(terms.map(t => array_contains(col("toks"), t))
        .reduce(_ && _))
      .select(col("doc_id"))
    rankEval(bm25Rank(docs, terms, topK), rel, topK)
  }

  /** Ranking-agnostic core of [[searchEval]]: metric curve for ANY
    * ranked list (doc_id, rank 1..topK) against ANY relevant-id set —
    * plug in [[bm25Rank]], [[rrfFuse]] (rename id → doc_id), or an
    * ANN shortlist. Same exactness contract: D = lcm(1..20) discount
    * scale, floor-div ppm ratios, windows over the ≤topK-row frame. */
  def rankEval(ranked: DataFrame, relevant: DataFrame,
               topK: Int = 20): DataFrame = {
    require(topK <= 20, s"discount scale D = lcm(1..20) caps topK at 20, got $topK")
    val D = 232792560L
    val rel = relevant.select(col("doc_id"), lit(1L).as("is_rel"))
    val nRel = rel.agg(count(lit(1)).as("n_rel"))
    val w = Window.orderBy(col("k"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranked.select(col("rank").cast("long").as("k"), col("doc_id"))
      .join(rel, Seq("doc_id"), "left")
      .withColumn("is_rel", coalesce(col("is_rel"), lit(0L)))
      .crossJoin(broadcast(nRel))
      .withColumn("hits", sum(col("is_rel")).over(w))
      .withColumn("dcg_d",
        sum(expr(s"is_rel * (CAST($D AS BIGINT) div k)")).over(w))
      .withColumn("idcg_d",
        sum(expr(s"CASE WHEN k <= n_rel THEN CAST($D AS BIGINT) div k " +
          "ELSE CAST(0 AS BIGINT) END")).over(w))
      .withColumn("frr",
        min(when(col("is_rel") === 1L, col("k"))).over(w))
      .select(col("k"), col("doc_id"), col("is_rel"), col("n_rel"),
        col("hits"),
        expr("hits * 1000000 div k").as("prec_ppm"),
        // nullif guards: an EMPTY relevant set makes n_rel (and every
        // idcg_d) zero, and Spark 4 ANSI `div 0` throws where the
        // definitional answer is "undefined" — the try_divide/NULLIF
        // twin rule (CLAUDE.md, graph_assortativity) in its integer
        // form, identical text on the DuckDB side
        expr("hits * 1000000 div nullif(n_rel, 0)").as("recall_ppm"),
        coalesce(expr(s"CAST($D AS BIGINT) div frr"), lit(0L))
          .as("rr_d"),
        col("dcg_d"), col("idcg_d"),
        expr("dcg_d * 1000000 div nullif(idcg_d, 0)").as("ndcg_ppm"))
  }

  /** Maximal-marginal-relevance DIVERSIFIED re-rank (Carbonell &
    * Goldstein, SIGIR 1998) over the [[bm25Rank]] top-`poolK` pool:
    * greedily select `k` docs maximizing λ·relevance − (1−λ)·
    * max-similarity-to-already-selected — the de-dup-at-serve-time
    * last mile every retrieval stack grows once near-duplicate docs
    * crowd the top ranks.
    *
    * Exactness contract: relevance normalizes to ppm of the pool's
    * max BM25 score (integer floor div); inter-doc similarity is the
    * exact DISTINCT-token-set Jaccard in ppm; the objective is
    * mmr_x100 = lambdaPct·rel_ppm − (100−lambdaPct)·max_sim_ppm —
    * all BIGINT, ties to the smaller doc_id, so a DuckDB oracle
    * replays every greedy round.
    *
    * Scale shape: the pool is bounded (≤ poolK rows) by the BM25
    * TakeOrderedAndProject, so everything downstream is metadata
    * scale; pairwise similarity is computed via the token EQUI-join
    * (shared-token pairs only — a zero-overlap pair has sim 0 and is
    * never materialized), never a cartesian. Per-round selected
    * frames go through `Engine.materialize` so the k greedy rounds
    * don't nest lineage (the [[Vectors.kmeansFit]] loop discipline;
    * plans double per round otherwise — selected feeds both the
    * anti-join and the max-sim join).
    *
    * Returns (sel_rank 1..k, doc_id, rel_ppm, max_sim_ppm at
    * selection time, mmr_x100). */
  def mmrRerank(docs: DataFrame, terms: Seq[String], poolK: Int = 20,
                k: Int = 10, lambdaPct: Long = 70L): DataFrame = {
    require(k >= 1 && k <= poolK, s"need 1 <= k <= poolK, got $k/$poolK")
    val spark = docs.sparkSession
    val pool0 = bm25Rank(docs, terms, poolK)
    val mx = pool0.agg(max(col("score")).as("max_score"))
    val pool = graft.Engine.materialize(
      pool0.crossJoin(broadcast(mx))
        .select(col("doc_id"),
          expr("score * 1000000 div max_score").as("rel_ppm")),
      key = "doc_id", name = "mmr_pool")
    // DISTINCT-token frame of the pool docs only (semi-join prune —
    // the corpus is never re-tokenized beyond the pool)
    val ptok = docs.join(pool.select(col("doc_id")), Seq("doc_id"),
        "left_semi")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .distinct()
    val sizes = ptok.groupBy(col("doc_id")).agg(count(lit(1)).as("nt"))
    val inter = ptok.select(col("doc_id").as("a"), col("tok"))
      .join(ptok.select(col("doc_id").as("b"), col("tok")), Seq("tok"))
      .filter(col("a") =!= col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("ni"))
    val simP = graft.Engine.materialize(
      inter
        .join(sizes.select(col("doc_id").as("a"), col("nt").as("na")),
          Seq("a"))
        .join(sizes.select(col("doc_id").as("b"), col("nt").as("nb")),
          Seq("b"))
        .select(col("a"), col("b"),
          expr("ni * 1000000 div (na + nb - ni)").as("sim_ppm")),
      key = "a", name = "mmr_sim")
    var selected = pool
      .orderBy(col("rel_ppm").desc, col("doc_id")).limit(1)
      .select(lit(1L).as("sel_rank"), col("doc_id"), col("rel_ppm"),
        lit(0L).as("max_sim_ppm"),
        (lit(lambdaPct) * col("rel_ppm")).as("mmr_x100"))
    var selT: Option[String] = None
    for (r <- 2 to k) {
      val rem = pool.join(selected.select(col("doc_id")), Seq("doc_id"),
        "left_anti")
      val ms = simP
        .join(selected.select(col("doc_id").as("b")), Seq("b"))
        .groupBy(col("a")).agg(max(col("sim_ppm")).as("max_sim_ppm"))
        .withColumnRenamed("a", "doc_id")
      val pick = rem.join(ms, Seq("doc_id"), "left")
        .withColumn("max_sim_ppm", coalesce(col("max_sim_ppm"), lit(0L)))
        .withColumn("mmr_x100", lit(lambdaPct) * col("rel_ppm") -
          lit(100L - lambdaPct) * col("max_sim_ppm"))
        .orderBy(col("mmr_x100").desc, col("doc_id")).limit(1)
        .select(lit(r.toLong).as("sel_rank"), col("doc_id"),
          col("rel_ppm"), col("max_sim_ppm"), col("mmr_x100"))
      val (nextSel, nextT) = graft.Engine.materializeTracked(
        selected.unionByName(pick),
        key = "doc_id", name = s"mmr_sel_${r % 2}")
      graft.Engine.dropMaterialized(spark, selT)
      selected = nextSel
      selT = nextT
    }
    selected.select(col("sel_rank"), col("doc_id"), col("rel_ppm"),
      col("max_sim_ppm"), col("mmr_x100"))
  }

  /** Pseudo-relevance-feedback query EXPANSION (the RM3 shape,
    * Lavrenko & Croft 2001, kept log-free): run [[bm25Rank]], treat
    * the top `fbDocs` as relevant, mine the `fbTerms` highest-scoring
    * expansion terms from them (score = occurrences-in-feedback ×
    * the corpus idf', the same rational idf BM25 uses; original query
    * terms and `stopwords` excluded; ties to the lexicographically
    * smaller term), then re-rank with the WEIGHTED union query —
    * original terms at weight 2, expansion terms at weight 1 (the
    * classic ~0.66/0.33 RM3 interpolation as exact integers).
    *
    * Scale shape: round 1 is [[bm25Rank]]'s inverted-index pattern;
    * the feedback vocabulary is bounded by fbDocs' distinct tokens
    * (tiny — semi-join-pruned before any shuffle); corpus df for
    * candidate terms computes via ONE token scan semi-joined to that
    * vocabulary (the inverted-index access again); the final scoring
    * scan joins tokens to a broadcast ≤(|terms|+fbTerms)-row weight
    * frame. No stage touches corpus×corpus.
    *
    * Returns (rank, doc_id, score, n_terms) for the `topK` docs under
    * the expanded weighted query. */
  def prfSearch(docs: DataFrame, terms: Seq[String], fbDocs: Int = 10,
                fbTerms: Int = 3, topK: Int = 20,
                stopwords: Seq[String] = Seq("the", "a", "of", "and", "to"),
                k1Milli: Long = 1200L, bMilli: Long = 750L): DataFrame = {
    val fb = bm25Rank(docs, terms, fbDocs).select(col("doc_id"))
    val toks = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("tok"))
    // candidate expansion vocabulary: occurrences inside the feedback
    // docs, minus the query's own terms and stopwords
    val fbTf = toks.join(fb, Seq("doc_id"), "left_semi")
      .filter(!col("tok").isin((terms ++ stopwords): _*))
      .groupBy(col("tok")).agg(count(lit(1)).as("fb_tf"))
    // corpus df for exactly those candidates (semi-join-pruned scan)
    val dfAll = toks.join(fbTf.select(col("tok")), Seq("tok"), "left_semi")
      .select(col("tok"), col("doc_id")).distinct()
      .groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val expansion = fbTf.join(dfAll, Seq("tok"))
      .crossJoin(broadcast(nDocs))
      .withColumn("exp_score", col("fb_tf") *
        expr("((n_docs - df) * 1000000 + 500000) div (df * 1000 + 500)"))
      .orderBy(col("exp_score").desc, col("tok")).limit(fbTerms)
      .select(col("tok"), lit(1L).as("w"))
    import docs.sparkSession.implicits._
    val weights = broadcast(
      terms.toDF("tok").withColumn("w", lit(2L)).unionByName(expansion))
    // weighted BM25 over the union term set (bm25Score's arithmetic
    // with a per-term weight factor riding the broadcast term frame)
    val dl = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dlen"))
    val totals = dl.agg(expr("count(1)").as("n_docs"),
      expr("(sum(dlen) * 1000) div count(1)").as("avg_m"))
    val tf = toks.join(weights, Seq("tok"))
      .groupBy(col("doc_id"), col("tok"), col("w"))
      .agg(count(lit(1)).as("tf"))
    val dft = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val scored = tf.join(broadcast(dft), Seq("tok"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(totals))
      .withColumn("idf_m",
        expr("((n_docs - df) * 1000000 + 500000) div (df * 1000 + 500)"))
      .withColumn("norm_m",
        expr(s"1000 - $bMilli + ($bMilli * dlen * 1000) div avg_m"))
      .withColumn("tfn_ppm", expr(
        s"(tf * (1000 + $k1Milli) * 1000000) div " +
          s"(tf * 1000 + ($k1Milli * norm_m) div 1000)"))
      .groupBy(col("doc_id"))
      .agg(sum(col("w") * col("idf_m") * col("tfn_ppm")).as("score"),
        count(lit(1)).as("n_terms"))
    val top = scored.orderBy(col("score").desc, col("doc_id")).limit(topK)
    top.withColumn("rank", row_number().over(
        Window.orderBy(col("score").desc, col("doc_id"))))
      .select(col("rank"), col("doc_id"), col("score"), col("n_terms"))
  }

  /** Distributed batch-perceptron quality probe: distill the
    * [[qualityFilter]] rule cascade into a LINEAR scorer — the
    * fasttext-style "train a fast classifier on heuristic labels"
    * step of a production corpus pipeline, shrunk to its
    * engine-relevant core: a fixed-round iterative fit whose per-round
    * state is a tiny broadcast frame and whose gradient is one
    * map-side-combinable aggregation over the corpus.
    *
    * Every quantity is an INTEGER (features clamped/fixed-point, y ∈
    * {-1, +1}, classic batch perceptron update w += Σ_misclassified
    * y·x). Integer sums are order-independent, so the fit is exact
    * under ANY partitioning and a DuckDB oracle replays every round
    * unrolled — the determinism bar floating-point GD cannot meet.
    *
    * Features per doc: x0 = 256 bias, x1 = clamp(n_chars, 512), x2 =
    * top-token share in 1/1024ths, x3 = clamp(n_tokens, 128); label
    * y = +1 iff the cascade keeps the doc (n_chars ≥ 100, n_tokens ≥
    * 18, x2 ≤ 128). Scale shape mirrors [[Vectors.kmeansFit]]: the
    * feature frame is materialized once; each round crossJoins the
    * broadcast 1-row weight frame, aggregates the misclassified-sum
    * update (partial agg — no driver collect), and materializes the
    * next weights with the superseded round's table dropped.
    *
    * Returns per-doc (doc_id, y, score = final dot, pred, correct). */
  def probeFit(docs: DataFrame, rounds: Int = 4): DataFrame = {
    val feats = probeFeatures(docs)
    probeScore(feats, probeFitLoop(feats, rounds))
  }

  /** Frozen 1-row (w0..w3) weight frame from the fit loop — what a
    * nightly job persists so the batch/stream admission path scores
    * without re-iterating ([[probeApply]]). Same integer-exact
    * contract as [[probeFit]]. */
  def probeWeights(docs: DataFrame, rounds: Int = 4): DataFrame =
    probeFitLoop(probeFeatures(docs), rounds)

  /** Inference half of the probe family — the production shape: the
    * perceptron fits ONCE on curated history ([[probeWeights]],
    * corpus-bounded iteration) and every incoming batch scores
    * per-row against the frozen broadcast weight row — scan-parallel,
    * O(batch), no iteration; the learned-scorer admission path
    * beside [[ingestGate]]'s rule cascade. Emits the [[probeFit]]
    * shape (doc_id, y, score, pred, correct) so accuracy-on-new-batch
    * reads off the same frame. */
  def probeApply(docs: DataFrame, weights: DataFrame): DataFrame =
    probeScore(probeFeatures(docs), weights)

  /** Shared integer feature frame of the probe family: clamped
    * (x0..x3) + the cascade label y, materialized once per input
    * (plan-token-namespaced, so fit-side and apply-side frames
    * coexist). */
  private def probeFeatures(docs: DataFrame): DataFrame = {
    val toks = docTokenStats(docs)
      .withColumnRenamed("top_tok_count", "top_tok")
    graft.Engine.materialize(
      docs.select(col("doc_id"),
          length(col("text")).cast("long").as("n_chars"))
        .join(toks, Seq("doc_id"))
        .withColumn("x0", lit(256L))
        .withColumn("x1", least(col("n_chars"), lit(512L)))
        .withColumn("x2", expr("top_tok * 1024 div n_tokens"))
        .withColumn("x3", least(col("n_tokens"), lit(128L)))
        .withColumn("y",
          when(col("n_chars") >= 100 && col("n_tokens") >= 18 &&
            col("x2") <= 128, 1L).otherwise(-1L))
        .select(col("doc_id"), col("x0"), col("x1"), col("x2"),
          col("x3"), col("y")),
      key = "doc_id", name = "probe_feats")
  }

  private def probeDot: Column =
    col("x0") * col("w0") + col("x1") * col("w1") +
      col("x2") * col("w2") + col("x3") * col("w3")

  private def probeFitLoop(feats: DataFrame, rounds: Int): DataFrame = {
    val spark = feats.sparkSession
    var w = spark.range(1).select(
      lit(0L).as("w0"), lit(0L).as("w1"), lit(0L).as("w2"), lit(0L).as("w3"))
    var wT: Option[String] = None
    for (i <- 0 until rounds) {
      val upd = feats.crossJoin(broadcast(w))
        .filter(col("y") * probeDot <= 0)
        .agg(coalesce(sum(col("y") * col("x0")), lit(0L)).as("d0"),
          coalesce(sum(col("y") * col("x1")), lit(0L)).as("d1"),
          coalesce(sum(col("y") * col("x2")), lit(0L)).as("d2"),
          coalesce(sum(col("y") * col("x3")), lit(0L)).as("d3"))
      val (nextW, nextT) = graft.Engine.materializeTracked(
        w.crossJoin(broadcast(upd)).select(
          (col("w0") + col("d0")).as("w0"), (col("w1") + col("d1")).as("w1"),
          (col("w2") + col("d2")).as("w2"), (col("w3") + col("d3")).as("w3")),
        key = "w0", name = s"probe_round_${i % 2}")
      graft.Engine.dropMaterialized(spark, wT)
      w = nextW
      wT = nextT
    }
    w
  }

  private def probeScore(feats: DataFrame, w: DataFrame): DataFrame =
    feats.crossJoin(broadcast(w))
      .withColumn("score", probeDot)
      .withColumn("pred", when(col("score") > 0, 1L).otherwise(-1L))
      .withColumn("correct", col("pred") === col("y"))
      .select(col("doc_id"), col("y"), col("score"), col("pred"),
        col("correct"))

  /** Reliability readout over a [[probeFit]]/[[probeApply]] frame —
    * the check a team runs before trusting a learned admission
    * scorer's threshold: equal-width integer score bands with
    * per-band doc count, positive-label mass, and accuracy (exact
    * ppm, floor division). A calibrated scorer shows `pos_ppm`
    * rising with the band index; a flat middle says the margin
    * carries no signal there and the threshold is arbitrary.
    *
    * Band edges come from a broadcast 1-row extent frame (the
    * Layout.withMortonKey guard posture), so banding is
    * scan-parallel — no unpartitioned window, no sort, and the
    * output is ≤ `nBands` rows regardless of input size. Width is
    * `(hi-lo) div nBands + 1`: a constant-score frame lands in band
    * 0 and every index stays in `[0, nBands)`. */
  def probeCalibration(scored: DataFrame, nBands: Int = 10): DataFrame = {
    require(nBands >= 1, s"nBands must be >= 1, got $nBands")
    val ext = scored.agg(min(col("score")).as("lo"),
      max(col("score")).as("hi"))
    scored.crossJoin(broadcast(ext))
      .withColumn("band",
        expr(s"(score - lo) div ((hi - lo) div $nBands + 1)"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("y") === 1L, 1L).otherwise(0L)).as("n_pos"),
        sum(when(col("correct"), 1L).otherwise(0L)).as("n_correct"))
      .withColumn("pos_ppm", expr("n_pos * 1000000 div n_docs"))
      .withColumn("acc_ppm", expr("n_correct * 1000000 div n_docs"))
      .select(col("band"), col("n_docs"), col("n_pos"), col("n_correct"),
        col("pos_ppm"), col("acc_ppm"))
  }

  /** ISOTONIC calibration of a banded rate curve — the PAVA fit
    * (Ayer et al. 1955) computed via the exact MINIMAX identity
    * iso_k = max_{i≤k} min_{j≥k} Av(i, j), where Av(i, j) is the
    * pooled rate over bands i..j (`sum(n_pos)·1e6 div sum(n_docs)` —
    * integer floor division). The identity is what makes the fit
    * cross-engine exact: sequential pool-adjacent-violators is a
    * data-dependent-length recursion no oracle can replay, while the
    * minimax form is two prefix sums, one bounded pair join, a
    * per-i suffix-min window, and a per-band max — all BIGINT.
    * Monotonicity holds for ANY Av (as k grows the max ranges over
    * more i and the min over fewer j), so floor division cannot
    * break the isotonic property (CorpusSpec pins it plus a
    * hand-computed fixture).
    *
    * Scale shape: `bands` is a BOUNDED rate curve (≤ nBands rows —
    * probeCalibration's output class), so the pair join (≤ B²) and
    * the unpartitioned prefix windows are metadata scale by
    * construction. Input needs (band, n_docs, n_pos); returns the
    * input plus `iso_ppm`. */
  def isotonicCalibrate(bands: DataFrame): DataFrame = {
    val w = Window.orderBy(col("band"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val c = bands.select(col("band"), col("n_docs"), col("n_pos"))
      .withColumn("cn", sum(col("n_docs")).over(w))
      .withColumn("cp", sum(col("n_pos")).over(w))
    // broadcast the bounded band frame: the i≤j pair join then plans
    // as a BroadcastNestedLoopJoin over ≤B rows, never a
    // CartesianProduct (B ≤ nBands by the input contract)
    val pairs = c.select(col("band").as("i"), col("n_docs").as("ni"),
        col("n_pos").as("pi"), col("cn").as("cni"), col("cp").as("cpi"))
      .join(broadcast(c.select(col("band").as("j"), col("cn").as("cnj"),
        col("cp").as("cpj"))), col("i") <= col("j"))
      .withColumn("av",
        expr("(cpj - cpi + pi) * 1000000 div (cnj - cni + ni)"))
    val smin = pairs.withColumn("smin", min(col("av")).over(
      Window.partitionBy(col("i")).orderBy(col("j").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val iso = smin.groupBy(col("j"))
      .agg(max(col("smin")).as("iso_ppm"))
      .withColumnRenamed("j", "band")
    bands.join(iso, Seq("band"))
  }

  def lmScore(docs: DataFrame, novelTau: Double = 0.5): DataFrame = {
    val toks = docs.select(col("doc_id"), split(col("text"), " ").as("toks"))
    val bg = toks.filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(toks) - 2), " +
          "i -> concat(toks[i], ' ', toks[i + 1]))")).as("bg"))
    val occ = bg.groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("c"))
    val stats = occ.groupBy(col("bg"))
      .agg(sum(col("c")).as("tf"), count(lit(1)).as("df"))
    val perDoc = occ.join(stats, Seq("bg"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_bigrams"),
        sum(when(col("df") === 1, col("c")).otherwise(0L)).as("n_novel"),
        sum(col("c") * col("tf")).as("sum_tf"))
    toks.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_bigrams", "n_novel", "sum_tf"))
      .withColumn("novelty_ratio",
        try_divide(col("n_novel"), col("n_bigrams")))
      .withColumn("avg_tf", try_divide(col("sum_tf"), col("n_bigrams")))
      .withColumn("keep",
        coalesce(col("novelty_ratio") <= lit(novelTau), lit(false)))
  }

  /** Exact n-gram train/eval contamination check — the Lee-et-al-style
    * decontamination pass that complements [[minhashPairs]]-based
    * cross-split dedup: a single evaluation sentence pasted into a
    * training document rarely moves whole-document Jaccard, but every
    * shared token `n`-gram is an exact hit here.
    *
    * `isEval` marks the held-out side. Per eval document: distinct
    * token `n`-gram hashes (56-bit md5 prefixes — collision odds are
    * negligible and the hash is engine-portable), matched against the
    * DISTINCT n-gram set of the train side. Returns (doc_id, n_grams,
    * n_matched, overlap_ratio, contaminated) where `contaminated` =
    * n_matched ≥ `minShared`.
    *
    * Scale shape: both sides are explode → distinct (hash aggs); the
    * probe is an equi-join keyed by gram hash against a deduped train
    * set — one row per key on the build side, so eval rows never fan
    * out; no all-pairs anywhere. At 100 TB the train gram set is a
    * persisted bucketed table rebuilt per corpus release, and each
    * eval batch joins against it. */
  def contamination(docs: DataFrame, isEval: Column, n: Int = 5,
                    minShared: Long = 3L): DataFrame = {
    require(n >= 1, "n must be >= 1")
    // widenScan: the gram md5 explode below is planned per consumer
    // (deliberately un-materialized — see the comment under `grams`)
    // and each copy otherwise runs single-core on a 1-split scan
    val base = graft.Engine.widenScan(docs)
      .select(col("doc_id"), isEval.as("is_eval"),
        split(col("text"), " ").as("toks"))
    // raw-token-order n-grams (the minhash shingle rule), hashed to
    // 56 bits; docs shorter than n tokens contribute no grams
    // NOT materialized, deliberately: the distinct gram frame feeds
    // both the train set and the eval probe, but the r16 opt-round A/B
    // measured the localCheckpoint LOSING to the double-planned
    // explode+distinct pyramid (text_contamination 1.02 → 1.62 s,
    // corpus_release 4.89 → 5.21 s isolated) — the dq_fd lesson: a
    // pruned codegen scan recomputes cheaper than a checkpoint of a
    // million-row gram frame reads. At 100 TB the train gram set is a
    // persisted bucketed table per the scaladoc, which is the flip.
    val grams = base.filter(size(col("toks")) >= n)
      .select(col("doc_id"), col("is_eval"), explode(expr(
        s"transform(sequence(0, size(toks) - $n), i -> " +
          s"CAST(conv(substring(md5(concat_ws(' ', slice(toks, i + 1, $n))), " +
          "1, 14), 16, 10) AS BIGINT))")).as("g"))
      .distinct()
    val trainSet = grams.filter(!col("is_eval")).select(col("g")).distinct()
    val evalGrams = grams.filter(col("is_eval"))
      .join(trainSet.withColumn("hit", lit(1L)), Seq("g"), "left")
    val perDoc = evalGrams.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("hit"), lit(0L))).as("n_matched"))
    base.filter(col("is_eval")).select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_grams", "n_matched"))
      .withColumn("overlap_ratio",
        try_divide(col("n_matched"), col("n_grams")))
      .withColumn("contaminated", col("n_matched") >= lit(minShared))
  }

  /** Mergeable Bloom-filter membership probe — [[contamination]]'s
    * at-scale sibling (Bloom, CACM 1970): the train side persists only
    * its SET BIT POSITIONS (k md5-derived hashes per n-gram into an
    * m-bit space), a fixed-size partial that merges across
    * shards/batches by plain set union — the train corpus itself is
    * never re-scanned at probe time. An eval gram "hits" iff all k of
    * its positions are set: no false negatives by construction
    * (every train gram set all its positions), false positives at the
    * classic (1−e^(−kn/m))^k rate. The exact per-gram train join runs
    * beside the probe as the self-audit twin (the a_sketch_merge /
    * corpus_overlap contract): n_false_pos = n_bloom − n_exact is the
    * measured slack, and no_false_neg is the structural guarantee.
    *
    * All hash arithmetic is md5-prefix integers mod mBits — exact and
    * engine-portable, so the driver oracle replays the filter
    * bit-for-bit. Scale shape: bit-position frames are ≤ mBits rows
    * (broadcast-able); the ×k position explode runs over DISTINCT
    * (doc, gram) pairs only. Returns per eval doc: (doc_id, n_grams,
    * n_exact, n_bloom, n_false_pos, no_false_neg). */
  def bloomMembership(docs: DataFrame, isEval: Column, n: Int = 5,
                      mBits: Long = 262144L, kHash: Int = 3): DataFrame = {
    require(n >= 1, "n must be >= 1")
    require(kHash >= 1, "kHash must be >= 1")
    val base = docs.select(col("doc_id"), isEval.as("is_eval"),
      split(col("text"), " ").as("toks"))
    // the distinct (doc, gram) frame feeds THREE consumers (train bit
    // positions, train gram set, eval probe rows) — materialized once
    // or the explode+distinct pyramid is planned per reference (r16
    // opt round: the 4-reference form cost 3.2 s, this one 2.0 s)
    val grams = graft.Engine.materialize(
      base.filter(size(col("toks")) >= n)
        .select(col("doc_id"), col("is_eval"), explode(expr(
          s"transform(sequence(0, size(toks) - $n), i -> " +
            s"concat_ws(' ', slice(toks, i + 1, $n)))")).as("gs"))
        .distinct(),
      key = "gs", name = "bloom_grams")
    def pos(i: Int) = expr(
      s"CAST(conv(substring(md5(concat(gs, '#$i')), 1, 8), 16, 10) AS BIGINT)" +
        s" % ${mBits}L")
    val posArr = array((1 to kHash).map(pos): _*)
    val trainBits = grams.filter(!col("is_eval"))
      .select(explode(posArr).as("pos")).distinct()
    val trainGrams = grams.filter(!col("is_eval"))
      .select(col("gs")).distinct()
    // ONE eval pipeline computes both flags per (doc, gram): the k
    // bloom positions aggregate to bloom_hit, then the exact train
    // membership joins on the gram — the old evalBloom ⋈ evalExact
    // (doc, gs) pair join of two separately-built eval branches is
    // structurally gone (both sides derived from the same distinct
    // key set, so the inner join was 1:1 by construction).
    grams.filter(col("is_eval"))
      .select(col("doc_id"), col("gs"), explode(posArr).as("pos"))
      .join(trainBits.withColumn("hit", lit(1L)), Seq("pos"), "left")
      .groupBy(col("doc_id"), col("gs"))
      .agg(min(coalesce(col("hit"), lit(0L))).as("bloom_hit"))
      .join(trainGrams.withColumn("ex", lit(1L)), Seq("gs"), "left")
      .withColumn("exact_hit", coalesce(col("ex"), lit(0L)))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(col("exact_hit")).as("n_exact"),
        sum(col("bloom_hit")).as("n_bloom"))
      .withColumn("n_false_pos", col("n_bloom") - col("n_exact"))
      .withColumn("no_false_neg", col("n_bloom") >= col("n_exact"))
  }

  /** Deterministic training-shard assignment — the pipeline's last
    * mile: `corpus_clean` representatives + `text_split_assign` splits
    * end here, as size-balanced, deterministically-shuffled shards a
    * training run can consume.
    *
    * Semantics: docs are ordered by (h, doc_id) where h =
    * md5-prefix(doc_id) — a deterministic global shuffle — and cut
    * into `nShards` contiguous runs of ≈equal TOKEN count (budget =
    * ceil(total_tokens / nShards); a doc straddling a boundary lands
    * in the shard where its run starts, so shard token sums differ by
    * at most one document). `shard_rank` is the doc's position within
    * its shard in the same order.
    *
    * Scale shape: the defining order is a GLOBAL cumulative token sum,
    * but nothing here runs single-partition. h's top 12 bits form
    * 4096 order-aligned buckets (bucket asc, then h asc ≡ h asc);
    * per-bucket token totals prefix-sum on a 4096-row frame (the only
    * windowed-without-partition step — bounded, broadcast back), and
    * the within-bucket cumulative sums run windowed PER BUCKET. Ranks
    * decompose the same way: within-(shard, bucket) row_number plus
    * broadcast (shard, bucket) prefix counts. At 100 TB: raise
    * `nShards` so one shard fits one writer task — the per-shard sort
    * a deterministic export needs anyway.
    *
    * Returns (doc_id, ntok, shard_id, shard_rank). */
  def shardAssign(docs: DataFrame, nShards: Int): DataFrame = {
    require(nShards >= 1, "nShards must be >= 1")
    val assigned = tokenCumsum(docs)
      .withColumn("budget",
        greatest(expr(s"(total + ${nShards} - 1) div ${nShards}"), lit(1L)))
      .withColumn("shard_id",
        least(expr("cum_excl div budget"), lit(nShards - 1L)).cast("int"))
    // two-level rank: row_number within (shard, bucket) + broadcast
    // prefix counts of earlier buckets in the same shard
    val wSB = Window.partitionBy(col("shard_id"), col("bucket"))
      .orderBy(col("h"), col("doc_id"))
    val sbCounts = assigned.groupBy(col("shard_id"), col("bucket"))
      .agg(count(lit(1)).as("sbn"))
    val wSBPrefix = Window.partitionBy(col("shard_id"))
      .orderBy(col("bucket")).rowsBetween(Window.unboundedPreceding, -1)
    val sbOff = sbCounts
      .withColumn("sboff", coalesce(sum(col("sbn")).over(wSBPrefix), lit(0L)))
      .select(col("shard_id"), col("bucket"), col("sboff"))
    assigned.join(broadcast(sbOff), Seq("shard_id", "bucket"))
      .withColumn("shard_rank",
        (col("sboff") + row_number().over(wSB)).cast("long"))
      .select(col("doc_id"), col("ntok"), col("shard_id"), col("shard_rank"))
  }

  /** Training-export sink — the step after [[shardAssign]] decides
    * placement: write the corpus as `nShards` token-balanced parquet
    * shard partitions (`shard_id=K/` directories a dataloader maps to
    * workers) plus an `_manifest` sidecar (underscore-prefixed, so
    * table readers skip it) recording per shard: doc count, token
    * count, and an ORDER-INSENSITIVE id checksum (sum of 56-bit md5
    * prefixes — commutative, so it is independent of task/partition
    * write order and lets an ingest job verify a shard without
    * re-reading the corpus).
    *
    * Scale shape: one repartition on shard_id co-locates each shard
    * into one task's writer (size-balanced BY CONSTRUCTION — the
    * token cumsum bounds every shard at budget + one doc); the
    * manifest aggregates the WRITTEN files (what a consumer will
    * actually see, catching lost writes), nShards rows total.
    * Returns the manifest frame. */
  def shardWrite(docs: DataFrame, nShards: Int, path: String): DataFrame = {
    val spark = docs.sparkSession
    val asg = shardAssign(docs, nShards)
    docs.join(asg.select(col("doc_id"), col("ntok"), col("shard_id"),
        col("shard_rank")), Seq("doc_id"))
      .repartition(col("shard_id"))
      .write.mode("overwrite").partitionBy("shard_id").parquet(path)
    // empty corpus → partitionBy wrote zero data files and the
    // read-back cannot infer a schema: return the empty manifest
    // (fresh-deployment shape — an error here would break a first
    // run before any ingest)
    // Hadoop FileSystem, not java.io.File: the path may be hdfs:// or
    // s3a:// on a cluster, where a local listFiles() would return null
    // and silently misreport a successful write as an empty corpus.
    val root = new org.apache.hadoop.fs.Path(path)
    val hfs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val wroteData = hfs.exists(root) && hfs.listStatus(root)
      .exists(st => st.isDirectory &&
        st.getPath.getName.startsWith("shard_id="))
    if (!wroteData) {
      return spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("shard_id",
            org.apache.spark.sql.types.IntegerType),
          org.apache.spark.sql.types.StructField("n_docs",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("n_tokens",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("id_checksum",
            org.apache.spark.sql.types.LongType))))
    }
    val manifest = spark.read.parquet(path)
      .groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ntok")).as("n_tokens"),
        // mod 2^31 PER DOC before summing: a raw sum of 56-bit values
        // overflows a long past ~128 docs/shard (ANSI mode throws) -
        // the modular sum is equally order-insensitive and its
        // accumulator is safe to 2^32 docs per shard
        sum(expr("CAST(conv(substring(md5(CAST(doc_id AS STRING)), " +
          "1, 14), 16, 10) AS BIGINT) % 2147483648L")).as("id_checksum"))
      .orderBy(col("shard_id"))
    manifest.coalesce(1).write.mode("overwrite")
      .json(new org.apache.hadoop.fs.Path(root, "_manifest").toString)
    manifest
  }

  /** Content-addressed shard MANIFEST without writing the shards —
    * the provenance artifact a reproducible release ships: per
    * [[shardAssign]] shard, counts plus two ORDER-INDEPENDENT content
    * digests over the per-doc 56-bit text hashes (sum of the per-doc
    * hash mod 2^31 — the modular reduction keeps the accumulator
    * overflow-safe to 2^32 docs per shard where a raw 56-bit sum
    * throws past ~128 — and the full-width xor, which catches the
    * even-multiplicity substitutions sum-mod can cancel and vice
    * versa). Both digests are commutative/associative, so the
    * manifest is invariant to partition and write order — re-running
    * it on a re-exported corpus and diffing IS the integrity check.
    * One scan, map-side-combined agg, nShards rows. */
  def shardManifest(docs: DataFrame, nShards: Int = 8): DataFrame = {
    shardAssign(docs, nShards)
      .select(col("doc_id"), col("ntok"), col("shard_id"))
      .join(docs.select(col("doc_id"),
        expr("md5_prefix_long(text, 14)").as("th")), Seq("doc_id"))
      .groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ntok")).as("n_tokens"),
        sum(expr("th % 2147483648L")).as("sum_hash"),
        expr("bit_xor(th)").as("xor_hash"))
  }

  /** The deterministic-global-order token prefix sum shared by
    * [[shardAssign]] and [[packSequences]]: docs in (h, doc_id) order
    * where h = md5-prefix(doc_id), with the EXCLUSIVE cumulative token
    * sum — computed two-level so nothing runs single-partition (h's
    * top 12 bits form 4096 order-aligned buckets; per-bucket totals
    * prefix-sum on a 4096-row broadcast frame; within-bucket cumsums
    * run windowed per bucket).
    *
    * Returns (doc_id, ntok, h, bucket, cum_excl, total). */
  private def tokenCumsum(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("ntok"))
      .withColumn("h", expr("md5_prefix_long(CAST(doc_id AS STRING), 14)"))
      .withColumn("bucket", expr("h >> 44"))
    val bucketAgg = base.groupBy(col("bucket"))
      .agg(sum(col("ntok")).as("btok"))
    // ≤4096 rows: the unpartitioned windows here are bounded by the
    // bucket count, never by data size
    val wPrefix = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val prefix = bucketAgg
      .withColumn("boff", coalesce(sum(col("btok")).over(wPrefix), lit(0L)))
      .withColumn("total", sum(col("btok")).over(
        Window.partitionBy().rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)))
      .select(col("bucket"), col("boff"), col("total"))
    val wInBucket = Window.partitionBy(col("bucket"))
      .orderBy(col("h"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    base.join(broadcast(prefix), Seq("bucket"))
      .withColumn("cum_excl",
        col("boff") + coalesce(sum(col("ntok")).over(wInBucket), lit(0L)))
  }

  /** Deterministic sequence packing — the step after [[shardAssign]]
    * in a training-export pipeline: the md5-shuffled document stream
    * is conceptually concatenated and cut into fixed `seqTokens`-token
    * training sequences; each document is assigned to the sequence
    * containing its START offset (`seq_id = cum_excl div seqTokens`,
    * document-boundary packing — a doc whose tokens cross the cut
    * carries its tail into the next sequence, surfaced as that
    * sequence's `spill` by the aggregate the pack_sequences query
    * computes). Rides [[tokenCumsum]], so the order and offsets are
    * identical to the shard export's and the whole thing stays
    * two-level scale-shaped (no global window).
    *
    * Returns (doc_id, ntok, seq_id, seq_off) where seq_off is the
    * doc's token offset within its sequence (0 ≤ seq_off <
    * seqTokens). */
  def packSequences(docs: DataFrame, seqTokens: Long): DataFrame = {
    require(seqTokens >= 1L, "seqTokens must be >= 1")
    tokenCumsum(docs)
      .withColumn("seq_id", expr(s"cum_excl div ${seqTokens}"))
      .withColumn("seq_off", col("cum_excl") - col("seq_id") * seqTokens)
      .select(col("doc_id"), col("ntok"), col("seq_id"), col("seq_off"))
  }

  /** Length-bucketed training-batch assembly — the dynamic-batching
    * shape (fairseq/HF `group_by_length`) beside [[packSequences]]'
    * concatenation packing: each doc pads up to the next multiple of
    * `padMultiple` (accelerators want aligned lengths), docs of equal
    * padded length group into batches of `maxBatchTokens div
    * bucket_len` sequences, and the per-batch padding waste is the
    * artifact a training team actually monitors (pad_ppm in the
    * `pack_batches` query). A doc longer than the budget caps at
    * `maxBatchTokens` and occupies a batch alone (truncation is the
    * tokenizer's job, not the batcher's).
    *
    * Determinism + scale shape: docs order within a bucket by
    * (md5-prefix h, doc_id) — the [[shardAssign]]/`tokenCumsum`
    * deterministic-shuffle rule — and the global rank is computed
    * TWO-LEVEL (per-(bucket, h-top-12-bits) row_number + an exclusive
    * prefix over the ≤4096-row per-sub-bucket counts, broadcast), so
    * no window partition ever holds a whole length-bucket. Because
    * the sub-bucket key is a PREFIX of h, the two-level order equals
    * the flat (h, doc_id) order — which is what the DuckDB oracle
    * replays with a single window.
    *
    * Returns (doc_id, ntok, bucket_len, batch_id, batch_slot);
    * batch_id is dense 0-based within each bucket_len. */
  def batchAssign(docs: DataFrame, maxBatchTokens: Long = 4096L,
                  padMultiple: Long = 32L): DataFrame = {
    require(maxBatchTokens >= padMultiple && padMultiple >= 1L,
      "batchAssign: need maxBatchTokens >= padMultiple >= 1")
    val base = docs
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("ntok"))
      .withColumn("h", expr("md5_prefix_long(CAST(doc_id AS STRING), 14)"))
      .withColumn("bucket_len", least(
        expr(s"((ntok + $padMultiple - 1) div $padMultiple) * $padMultiple"),
        lit(maxBatchTokens)))
      .withColumn("bkt", expr(s"h div ${1L << 44}"))
    val counts = base.groupBy(col("bucket_len"), col("bkt"))
      .agg(count(lit(1)).as("c"))
    val offsets = counts
      .withColumn("off", coalesce(sum(col("c")).over(
        Window.partitionBy(col("bucket_len")).orderBy(col("bkt"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("bucket_len"), col("bkt"), col("off"))
    base
      .withColumn("r", row_number().over(
        Window.partitionBy(col("bucket_len"), col("bkt"))
          .orderBy(col("h"), col("doc_id"))))
      .join(broadcast(offsets), Seq("bucket_len", "bkt"))
      .withColumn("rn", col("off") + col("r"))
      .withColumn("per_batch", expr(s"$maxBatchTokens div bucket_len"))
      .withColumn("batch_id", expr("(rn - 1) div per_batch"))
      .withColumn("batch_slot", expr("(rn - 1) % per_batch"))
      .select(col("doc_id"), col("ntok"), col("bucket_len"),
        col("batch_id"), col("batch_slot"))
  }

  /** [[shardAssign]] + deterministic export through the write seam:
    * one directory per shard (`shard_id=K/`), rows carried with their
    * assignment, content ordered by shard_rank within each shard's
    * writer partition. Re-running over the same input produces the
    * same per-shard row sequences (file NAMES carry task UUIDs; the
    * CONTENT is the deterministic artifact — EngineSpec asserts it). */
  def shardExport(docs: DataFrame, outPath: String, nShards: Int): Unit = {
    val withShard = docs.join(shardAssign(docs, nShards), Seq("doc_id"))
    withShard
      .repartition(nShards, col("shard_id"))
      .sortWithinPartitions(col("shard_id"), col("shard_rank"))
      .write.mode("overwrite").partitionBy("shard_id").parquet(outPath)
  }

  /** Deterministic BPE merge training — the iterative pair-merge loop
    * that turns the `text_tokens_bpe` pre-token counts into an actual
    * tokenizer (the reference has no analog; this is the
    * training-data-pipeline extension family).
    *
    * Semantics are classic BPE (Sennrich et al. 2016): words are the
    * corpus's alphabetic pre-tokens (`[A-Za-z]+` — the letter-run
    * class of the text_tokens_bpe pre-tokenizer; digits/punctuation
    * are single-symbol classes with nothing to merge), weighted by
    * corpus frequency; each round counts adjacent symbol pairs over
    * the current segmentations, merges the single most frequent pair
    * everywhere (left-to-right greedy within a word), and records it.
    * Determinism: integer pair counts, tie order (count DESC, left
    * ASC, right ASC — binary collation both engines), fixed `merges`
    * round count, and a fold-based merge application (string-typed
    * accumulator) that cannot disagree across partitionings — an
    * oracle can replay the fit round by round, exactly like the
    * `kmeansFit` replay.
    *
    * Scale shape (the `kmeansFit` loop pattern): the word-frequency
    * table — vocabulary-sized, many orders below corpus size — is
    * built once; each round runs one distributed pair-count aggregate
    * plus a narrow per-word fold, with the per-round state going
    * through `Engine.materialize` (superseded rounds dropped). The
    * winning pair stays a 1-row broadcast frame joined into the next
    * round — no driver-side collect anywhere. In table mode the N
    * 1-row merge frames outlive the call (the returned frame reads
    * them); reclaim with `Engine.dropAllMaterialized`.
    *
    * Returns (merge_rank, left_sym, right_sym, pair_freq) ordered by
    * rank. */
  /** Left-to-right greedy application of ONE merge rule (symbols in
    * columns `bl`/`br`) to the space-joined segmentation `s`, as a
    * string-accumulator fold: acc is the merged prefix; merge exactly
    * when the LAST symbol of acc is bl and the incoming symbol is br
    * (a token merged this step never re-merges under the same rule in
    * this pass — one rule per pass). substr strips "<space>bl" off
    * the tail; acc = bl means bl was the whole prefix. Shared by
    * [[bpeFit]] (one rule per round) and [[bpeApply]] (rules chained
    * in rank order). */
  // private[graft] (not private): BpeMergeSpec pins the native
  // bpe_merge expression against THIS composed fold string-for-string
  // (the AHash64 equivalence-spec pattern). Query plans use the native
  // form — the HOF fold runs one interpreted lambda frame per symbol
  // per rule and is excluded from whole-stage codegen (r16 opt round).
  private[graft] def mergeFoldExpr(bl: String, br: String): String = s"""
    aggregate(
      slice(split(s, ' '), 2, size(split(s, ' ')) - 1),
      element_at(split(s, ' '), 1),
      (acc, x) -> CASE
        WHEN (acc = $bl OR endswith(acc, concat(' ', $bl))) AND x = $br
        THEN CASE WHEN acc = $bl THEN concat($bl, $br)
             ELSE concat(substr(acc, 1, length(acc) - length($bl) - 1),
                         ' ', $bl, $br) END
        ELSE concat(acc, ' ', x) END)"""

  def bpeFit(docs: DataFrame, merges: Int = 8): DataFrame = {
    require(merges >= 1, "merges must be >= 1")
    val spark = docs.sparkSession
    // symbol state `s` = space-joined symbols (symbols are letter
    // sequences — never contain spaces), initially one char each
    val words = docs
      .select(explode(expr("regexp_extract_all(text, '([A-Za-z]+)')")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .withColumn("s", expr("trim(regexp_replace(word, '(.)', '$1 '))"))
    var (state, stateT) = graft.Engine.materializeTracked(
      words.select(col("word"), col("freq"), col("s")),
      key = "word", name = "bpe_round_init")
    val bests = scala.collection.mutable.ListBuffer.empty[DataFrame]
    for (r <- 0 until merges) {
      val pairs = state
        .select(col("freq"), explode(expr(
          """CASE WHEN size(split(s, ' ')) < 2 THEN
               CAST(array() AS ARRAY<STRUCT<l: STRING, r: STRING>>)
             ELSE transform(sequence(1, size(split(s, ' ')) - 1),
               i -> struct(element_at(split(s, ' '), i) AS l,
                           element_at(split(s, ' '), i + 1) AS r))
             END""")).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("freq")).as("pair_freq"))
      val best = graft.Engine.materialize(
        pairs.orderBy(col("pair_freq").desc, col("l"), col("r")).limit(1)
          .withColumn("merge_rank", lit(r)),
        key = "l", name = s"bpe_best_$r")
      bests += best
      if (r < merges - 1) {
        // (skipped after the final pick — nothing consumes the
        // segmentation)
        val merged = state
          .crossJoin(broadcast(best.select(col("l").as("bl"), col("r").as("br"))))
          .select(col("word"), col("freq"),
            expr("bpe_merge(s, bl, br)").as("s"))
        val (next, nextT) = graft.Engine.materializeTracked(
          merged, key = "word", name = s"bpe_round_${r % 2}")
        graft.Engine.dropMaterialized(spark, stateT)
        state = next
        stateT = nextT
      } else graft.Engine.dropMaterialized(spark, stateT)
    }
    bests.reduce(_.unionByName(_))
      .select(col("merge_rank"), col("l").as("left_sym"),
        col("r").as("right_sym"), col("pair_freq"))
  }

  /** [[bpeFit]] routed through `Engine.materializeShared`, keyed by
    * the PRE-transform training corpus plan — so the tokenizer trio
    * (`text_bpe_fit` / `text_bpe_apply` / `text_bpe_coverage`) runs
    * the 8-round iterative fit ONCE per session and every other query
    * rides the 8-row merge table. A fit over a different training
    * frame (e.g. `text_bpe_apply_new`'s historical-only filter) maps
    * to a different token and keeps its own entry automatically. */
  def bpeFitShared(docs: DataFrame, merges: Int = 8): DataFrame = {
    val token = graft.Engine.planToken(docs, s"bpe_fit:$merges")
    graft.Engine.materializeShared(docs.sparkSession, token,
      bpeFit(docs, merges), key = "left_sym", name = "bpe_fit_shared")
  }

  /** Segment every distinct alphabetic word of `docs` with a learned
    * merge table applied in rank order: returns (word, s) with `s`
    * the space-joined subword symbols. The distinct-word table is
    * materialized once; the rule applications are `nMerges` chained
    * narrow projections, each rule riding in as a broadcast 1-row
    * frame — no driver collect. Shared by [[bpeApply]] (per-doc
    * counts) and the `text_bpe_coverage` symbol-usage evaluation;
    * pass `sharedToken` (derive with `Engine.planToken` on the
    * PRE-transform docs + a transform tag) to route the SEGMENTED
    * frame through `Engine.materializeShared` so those two queries
    * run the nMerges-round segmentation once between them. */
  def bpeSegments(docs: DataFrame, merges: DataFrame, nMerges: Int,
                  sharedToken: Option[String] = None): DataFrame = {
    require(nMerges >= 1, "nMerges must be >= 1")
    // a degenerate training corpus can fit FEWER than nMerges rules;
    // the per-round broadcast below would then be empty and silently
    // empty the whole segmentation (every word lost to the crossJoin)
    // — fail loudly instead. The merges frame is rules-sized (≤ a few
    // hundred rows, materialized by the fit), so the count is cheap.
    val nRules = merges.filter(col("merge_rank").between(0, nMerges - 1))
      .select(col("merge_rank")).distinct().count()
    require(nRules == nMerges,
      s"bpeSegments: merge table carries $nRules of the $nMerges " +
        "requested ranks (degenerate training corpus?)")
    def build: DataFrame = {
      var seg = graft.Engine.materialize(
        docs.select(explode(expr("regexp_extract_all(text, '([A-Za-z]+)')"))
            .as("word"))
          .distinct()
          .withColumn("s", expr("trim(regexp_replace(word, '(.)', '$1 '))")),
        key = "word", name = "bpe_apply_vocab")
      for (r <- 0 until nMerges) {
        seg = seg
          .crossJoin(broadcast(merges.filter(col("merge_rank") === r)
            .select(col("left_sym").as(s"bl$r"), col("right_sym").as(s"br$r"))))
          .withColumn("s", expr(s"bpe_merge(s, bl$r, br$r)"))
          .drop(s"bl$r", s"br$r")
      }
      seg
    }
    sharedToken match {
      case Some(t) => graft.Engine.materializeShared(
        docs.sparkSession, t, build, key = "word", name = "bpe_segments")
      case None => build
    }
  }

  /** BPE tokenization with a LEARNED merge table — the other half of
    * the tokenizer: [[bpeFit]] trains on one corpus; this applies the
    * rules to ANY corpus (the daily shape: historical tokenizer, new
    * documents). Each distinct alphabetic word is segmented by
    * [[bpeSegments]]; per-doc stats then come from one
    * join of the exploded words against the segmented vocabulary.
    *
    * Scale shape: the distinct-word table is materialized once, the
    * rule applications are `nMerges` chained narrow projections (each
    * rule rides in as a broadcast 1-row frame — no driver collect),
    * and the doc join is a plain shuffle join on word. `merges` must
    * contain ranks 0..nMerges-1 (as [[bpeFit]] returns).
    *
    * Returns (doc_id, n_words, n_subwords, bpe_fertility) — subwords
    * per alphabetic word under the learned tokenizer; words with no
    * alphabetic token yield n_words = 0 and NULL fertility. */
  def bpeApply(docs: DataFrame, merges: DataFrame, nMerges: Int,
               segToken: Option[String] = None): DataFrame = {
    val counts = bpeSegments(docs, merges, nMerges, segToken)
      .select(col("word"),
        size(split(col("s"), " ")).cast("long").as("n_sub"))
    docs.select(col("doc_id"),
        explode(expr(
          "concat(regexp_extract_all(text, '([A-Za-z]+)'), array(CAST(NULL AS STRING)))"))
          .as("word"))
      .join(counts, Seq("word"), "left")
      .groupBy(col("doc_id"))
      .agg(count(col("word")).as("n_words"),
           coalesce(sum(col("n_sub")), lit(0L)).as("n_subwords"))
      .withColumn("bpe_fertility",
        try_divide(col("n_subwords"), col("n_words")))
  }

  /** Corpus-level overlap between two sides of a document set (e.g.
    * a train/eval hash split, or this month's crawl vs last month's):
    * the EXACT shingle-set Jaccard plus its K-minimum-values sketch
    * estimate side by side. Shingles are the repo-standard raw-token-
    * order 3-grams ([[minhashPairs]]); `side` must evaluate to 0 or 1.
    *
    * Why both numbers: at 100 TB the exact path (distinct (side,
    * shingle) then one flag agg per shingle — fully shuffle-parallel
    * on the shingle key, no joins) is affordable but heavy; the KMV
    * path needs only the k globally-smallest shingle hashes
    * (TakeOrderedAndProject — a driver-sized frame), which is the
    * form you'd keep as a persisted per-corpus sketch and merge
    * across snapshots. Emitting both with their delta makes every run
    * of the cheap path self-auditing, the same contract as
    * `a9_approx`'s exact twins.
    *
    * Integer determinism: ppm values via long `div`; the KMV rank
    * orders by (h, s) so a hash tie cannot reorder across engines.
    *
    * Returns one row: (n_sh_a, n_sh_b, n_inter, jaccard_ppm, kmv_ppm,
    * err_ppm). */
  def corpusOverlap(docs: DataFrame, side: Column,
                    k: Int = 256): DataFrame = {
    val base = docs.select(side.as("side"),
      split(col("text"), " ").as("raw"))
    val sh = base
      .withColumn("i", explode(expr(
        "sequence(1, CASE WHEN size(raw) >= 3 THEN size(raw) - 2 ELSE 1 END)")))
      .select(col("side"), expr(
        """CASE WHEN size(raw) >= 3 THEN
             concat_ws(' ', element_at(raw, i),
               element_at(raw, i + 1), element_at(raw, i + 2))
           ELSE concat_ws(' ', raw) END""").as("s"))
      .distinct()
    // (shingle, h, in_a, in_b) — one row per distinct shingle; feeds
    // both the exact aggregate and the KMV top-k, so compute it once
    val flags = graft.Engine.materialize(
      sh.groupBy(col("s"))
        .agg(max(when(col("side") === 0, 1L).otherwise(0L)).as("in_a"),
             max(when(col("side") === 1, 1L).otherwise(0L)).as("in_b"))
        .withColumn("h", expr("md5_prefix_long(s, 14)")),
      key = "s", name = "overlap_flags")
    // coalesce: an EMPTY corpus yields zero counts and NULL ppm values
    // (the Jaccard of two empty sets is genuinely undefined), not an
    // error and not a null-count row
    val exact = flags.agg(
      coalesce(sum(col("in_a")), lit(0L)).as("n_sh_a"),
      coalesce(sum(col("in_b")), lit(0L)).as("n_sh_b"),
      coalesce(sum(col("in_a") * col("in_b")), lit(0L)).as("n_inter"))
    // k-minimum-values: the global rank window must NEVER see the
    // full shingle frame (a single-partition sort of every distinct
    // shingle). The k-th smallest h comes from a TakeOrderedAndProject
    // (per-partition top-k, k rows to the driver side of the plan);
    // filtering h <= that threshold keeps a tiny superset (ties
    // included), and the exact (h, s) rank window runs over THAT.
    // Empty corpus: a NULL threshold filters to zero rows — same
    // aggregates as before (k_inter 0, k_used NULL).
    val kth = flags.select(col("h"))
      .orderBy(col("h").asc).limit(k)
      .agg(max(col("h")).as("_hmax"))
    val kmv = flags.crossJoin(broadcast(kth))
      .filter(col("h") <= col("_hmax"))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("h").asc, col("s").asc)))
      .filter(col("rk") <= k)
      .agg(coalesce(sum(col("in_a") * col("in_b")), lit(0L)).as("k_inter"),
           max(col("rk")).as("k_used"))
    exact.crossJoin(kmv)
      .select(col("n_sh_a"), col("n_sh_b"), col("n_inter"),
        expr("n_inter * 1000000 div nullif(n_sh_a + n_sh_b - n_inter, 0)")
          .as("jaccard_ppm"),
        expr("k_inter * 1000000 div nullif(k_used, 0)").as("kmv_ppm"))
      .withColumn("err_ppm", abs(col("kmv_ppm") - col("jaccard_ppm")))
  }

  /** Nightly INGEST acceptance gate — the per-batch admission
    * decision a corpus team runs before anything enters the curated
    * store ([[pipeline]] is the full-corpus release; this is the
    * incremental front door). Every `isNew` doc gets ONE
    * first-failing status, in production gate order:
    *  - the first-failing [[qualityFilter]] reason (`too_short` |
    *    `too_few_tokens` | `repetitive`);
    *  - `dup_of_corpus` — its dedup component (full-corpus
    *    exact ∪ minhash edges, the SHARED [[dedupEdges]] frame)
    *    contains any EXISTING doc;
    *  - `dup_in_batch` — an all-new component keeps only its min-id
    *    QUALITY-PASSING member ("first seen wins" among admissible
    *    copies — arrival order is the tiebreak, but a copy already
    *    rejected for quality can't be the survivor: otherwise a
    *    cluster whose earliest member is garbage would lose EVERY
    *    copy, where [[releasePlan]] keeps one. A component with no
    *    quality-passing member has nothing to keep — all its members
    *    already carry their quality reason);
    *  - `contaminated` — its `n`-grams hit the eval split's gram set
    *    ([[contamination]] semantics);
    *  - `accepted`.
    * Old docs never re-examine: edges touching only history are the
    * incremental families' non-case, and the gram probe's train side
    * is the fixed eval index. Returns (doc_id, n_tokens, status) for
    * the new docs. */
  def ingestGate(docs: DataFrame, isNew: Column, isEval: Column,
                 minChars: Long = 100L, minTokens: Long = 18L,
                 maxRepetition: Double = 0.125,
                 contaminationN: Int = 5,
                 contaminationMinShared: Long = 3L): DataFrame = {
    val flagged = docs.withColumn("_new", isNew).withColumn("_ev", isEval)
    val newDocs = flagged.filter(col("_new"))
    val q = qualityFilter(newDocs, minChars, minTokens, maxRepetition)
      .select(col("doc_id"), col("n_tokens"),
        col("drop_reason").as("_qreason"))
    // CC over the NEW-TOUCHING edge subgraph only. Old↔old edges
    // cannot change any new doc's status: they merge old-only
    // regions, so (a) whether a new doc's component contains an old
    // member is invariant (every new→old path's edges all touch the
    // path's new prefix or end at old via a new-touching edge), and
    // (b) all-new components have only new↔new edges by definition —
    // dup_in_batch's min-id pick sees the same clusters. At 100 TB
    // this is the difference between propagating labels over the
    // corpus graph and over the batch's neighborhood; the shared
    // full-edge frame still builds once (other queries consume it),
    // only the pointer-jumping input shrinks.
    val newIds = flagged.filter(col("_new")).select(col("doc_id"))
    // pass `docs` UN-projected: dedupEdges only reads doc_id/text, so
    // the result is identical either way, but the shared-frame token
    // derives from the input plan — the old .select(doc_id, text)
    // produced a second token and this gate silently built its OWN
    // copy of the edge frame the dedup_canonical family shares
    // (r16 opt round: the subset A/B reads −1.6 s on dedup_canonical)
    val allEdges = dedupEdges(docs)
    val touching = allEdges
      .join(newIds.withColumnRenamed("doc_id", "src"), Seq("src"),
        "left_semi")
      .unionByName(allEdges
        .join(newIds.withColumnRenamed("doc_id", "dst"), Seq("dst"),
          "left_semi")
        .select(col("src"), col("dst")))
      .distinct()
    val comps = connectedComponents(touching)
    val compHasOld = comps
      .join(flagged.filter(!col("_new")).select(col("doc_id")), Seq("doc_id"))
      .select(col("component_id")).distinct()
      .withColumn("_has_old", lit(true))
    // "first seen wins" runs over ADMISSIBLE copies only: the keeper
    // of an all-new component is its min-id quality-PASSING member,
    // so a cluster whose earliest arrival fails quality still admits
    // one copy (releasePlan's dedup-after-quality order, applied to
    // the batch). Quality-failing members never reach this branch —
    // the first-failing CASE already gave them their reason.
    val compKeep = comps
      .join(q.filter(col("_qreason").isNull).select(col("doc_id")),
        Seq("doc_id"))
      .groupBy(col("component_id")).agg(min(col("doc_id")).as("_keep"))
    // eval gram set probes the new docs (contamination's probe flag
    // marks the probed side)
    val gateInput = newDocs.select(col("doc_id"), col("text"),
        lit(true).as("_probe"))
      .unionByName(flagged.filter(col("_ev"))
        .select(col("doc_id"), col("text"), lit(false).as("_probe")))
    val contam = contamination(gateInput, isEval = col("_probe"),
        n = contaminationN, minShared = contaminationMinShared)
      .filter(col("contaminated"))
      .select(col("doc_id")).withColumn("_cont", lit(true))
    q.join(comps, Seq("doc_id"), "left")
      .join(compHasOld, Seq("component_id"), "left")
      .join(compKeep, Seq("component_id"), "left")
      .join(contam, Seq("doc_id"), "left")
      .withColumn("status",
        when(col("_qreason").isNotNull, col("_qreason"))
          .when(col("_has_old"), "dup_of_corpus")
          .when(col("component_id").isNotNull &&
            col("doc_id") =!= col("_keep"), "dup_in_batch")
          .when(col("_cont"), "contaminated")
          .otherwise("accepted"))
      .select(col("doc_id"), col("n_tokens"), col("status"))
  }

  /** One stage of a [[pipeline]] run: docs entering, docs surviving,
    * per-reason drop counts, wall ms of the stage's terminal action —
    * the survivor counts / drop-reason collect for the count-stages,
    * the [[shardWrite]] itself for the shard stage. Shared frames a
    * stage materializes (Engine.materialize) evaluate when first
    * counted, so a stage's ms includes its own build but a LATER
    * stage riding that frame pays only its incremental work. */
  final case class StageReport(stage: String, docsIn: Long, docsOut: Long,
                               drops: Seq[(String, Long)], ms: Long)

  /** A [[pipeline]] run's artifacts: the per-stage report, the
    * released selection (the [[budgetSample]] shape — doc_id,
    * stratum, toks, q_ppm, cum_toks), and the shard manifest when a
    * shard target was given. */
  final case class Release(report: Seq[StageReport], released: DataFrame,
                           manifest: Option[DataFrame])

  /** The LAZY released-selection plan [[pipeline]] reports over — also
    * the frame the `corpus_release` registered query hash-checks, so
    * the end-to-end composition (not just each stage) is under the
    * DuckDB oracle. Stages in production order, train side =
    * `!isEval`:
    *   1. normalize — [[normalizeText]] over every doc (both sides:
    *      the decontamination grams must match post-normalization);
    *   2. quality — [[qualityFilter]] over the train side
    *      (`chars = length(normalized text)`);
    *   3. dedup — [[dedupComponents]] over the survivors; each
    *      cluster keeps its [[dedupCanonical]] quality-ranked member,
    *      singletons pass through;
    *   4. decontaminate — survivors' `n`-grams probed against the
    *      EVAL side's gram set ([[contamination]] with the probe flag
    *      on the train side); matched docs drop;
    *   5. sample — [[budgetSample]]: best-quality token prefix per
    *      stratum under `budgetTokens`.
    * Returns the four survivor frames (quality, dedup, clean,
    * released); intermediate frames reused by multiple downstream
    * stages go through `Engine.materialize`. */
  private[graft] def releasePlan(docsRaw: DataFrame, isEval: Column,
      stratum: Column, budgetTokens: Long,
      minChars: Long, minTokens: Long, maxRepetition: Double,
      contaminationN: Int, contaminationMinShared: Long,
      stopwords: Seq[String])
      : (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) = {
    val normalized = docsRaw
      .withColumn("text", normalizeText(col("text")))
      .withColumn("_eval", isEval)
    val train = normalized.filter(!col("_eval"))
    // quality survivors: reused by dedup (edge build + canonical) and
    // the pass-through join — one materialized frame
    val qualitySurv = graft.Engine.materialize(
      qualityFilter(train, minChars, minTokens, maxRepetition)
        .filter(col("keep"))
        .select(col("doc_id"), col("lang"), col("source"), col("text")),
      key = "doc_id", name = "release_quality")
    // ONE component propagation serves both the membership anti-join
    // and the canonical pick (dedupCanonicalFrom) — the loop is the
    // expensive half of the dedup stage
    val members = dedupComponents(qualitySurv.select(col("doc_id"),
      col("text")))
    val canon = dedupCanonicalFrom(members,
      qualitySurv.select(col("doc_id"), col("text")), stopwords)
    // survivors: docs in no dup cluster, plus each cluster's canonical
    val dedupSurv = graft.Engine.materialize(
      qualitySurv
        .join(members.select(col("doc_id")), Seq("doc_id"), "left_anti")
        .unionByName(qualitySurv.join(
          canon.select(col("canonical_doc").as("doc_id")), Seq("doc_id"))),
      key = "doc_id", name = "release_dedup")
    // decontamination gate: probe the survivors against the EVAL gram
    // set (contamination's probe flag marks the probed side; the gram
    // set builds from the other side)
    val gateInput = dedupSurv.select(col("doc_id"), col("text"),
        lit(true).as("_probe"))
      .unionByName(normalized.filter(col("_eval"))
        .select(col("doc_id"), col("text"), lit(false).as("_probe")))
    val contaminated = contamination(gateInput, isEval = col("_probe"),
        n = contaminationN, minShared = contaminationMinShared)
      .filter(col("contaminated")).select(col("doc_id"))
    val clean = dedupSurv.join(contaminated, Seq("doc_id"), "left_anti")
    val released = budgetSample(clean, stratum, budgetTokens, stopwords)
    (train, qualitySurv, dedupSurv, clean, released)
  }

  /** End-to-end corpus release as ONE lifecycle call — the nightly
    * job a training team runs (`Engine.build`'s posture for data):
    * normalize → quality → near-dup cluster + canonical pick →
    * decontamination gate → token-budget sample → optional
    * [[shardWrite]], returning a per-stage [[StageReport]] (docs
    * in/out, drop reasons, wall ms), the released selection, and the
    * shard manifest. Every stage is the already-oracle-checked public
    * operator; this composes them in production order and makes the
    * accounting (what dropped where, and why) a first-class artifact.
    *
    * Scale: each report costs one count over a materialized survivor
    * frame; the heavy lifting (LSH banding, component propagation,
    * gram probe) is the stages' own documented scale shape. */
  def pipeline(docsRaw: DataFrame, isEval: Column,
               stratum: Column = col("source"),
               budgetTokens: Long = 20000L,
               minChars: Long = 100L, minTokens: Long = 18L,
               maxRepetition: Double = 0.125,
               contaminationN: Int = 5, contaminationMinShared: Long = 3L,
               stopwords: Seq[String] =
                 Seq("the", "a", "of", "and", "to"),
               shards: Option[(Int, String)] = None): Release = {
    val (train, qualitySurv, dedupSurv, clean, released) =
      releasePlan(docsRaw, isEval, stratum, budgetTokens, minChars,
        minTokens, maxRepetition, contaminationN, contaminationMinShared,
        stopwords)
    val report = scala.collection.mutable.ListBuffer.empty[StageReport]
    def stage(name: String, in: => Long, out: => Long,
              drops: => Seq[(String, Long)]): (Long, Long) = {
      val t0 = System.nanoTime()
      val (i, o, d) = (in, out, drops)
      report += StageReport(name, i, o, d,
        (System.nanoTime() - t0) / 1000000L)
      (i, o)
    }
    val (_, nTrain) = stage("normalize", docsRaw.count(), train.count(), Nil)
    // quality drop reasons re-derive from the filter frame (the keep
    // side was materialized; the report side is one extra scan)
    val (_, nQual) = stage("quality", nTrain, qualitySurv.count(),
      qualityFilter(train, minChars, minTokens, maxRepetition)
        .filter(!col("keep")).groupBy(col("drop_reason")).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq.sorted)
    val (_, nDedup) = stage("dedup", nQual, dedupSurv.count(),
      Seq("duplicate_member" -> (nQual - dedupSurv.count())))
    val (_, nClean) = stage("decontaminate", nDedup, clean.count(),
      Seq("contaminated" -> (nDedup - clean.count())))
    val (_, nRel) = stage("sample", nClean, released.count(),
      Seq("over_budget" -> (nClean - released.count())))
    // the shard stage's cost IS the write: bracket shardWrite itself
    // with the same nanoTime accounting the count-stages get — the
    // most expensive stage must not report ms = 0
    val manifest = shards.map { case (n, path) =>
      val t0 = System.nanoTime()
      val m = shardWrite(
        clean.join(released.select(col("doc_id")), Seq("doc_id")),
        n, path)
      report += StageReport("shard", nRel, nRel, Nil,
        (System.nanoTime() - t0) / 1000000L)
      m
    }
    Release(report.toList, released, manifest)
  }
}
