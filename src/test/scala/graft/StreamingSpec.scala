package graft

import graft.sources.Sources
import graft.streaming.StreamingModels
import graft.streaming.StreamingModels.{Evt, SessionOut}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Structured Streaming variants driven synchronously from the batch
  * testdata via the rate-limited memory sink (SURVEY §2.8). */
class StreamingSpec extends SparkSuite {
  import spark.implicits._

  test("sinkByServiceDay replaces touched day partitions, leaves others") {
    implicit val sqlCtx = spark.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val out = java.nio.file.Files.createTempDirectory("graft_day_out").toString
    val cp = java.nio.file.Files.createTempDirectory("graft_day_cp").toString
    val q = StreamingModels.sinkByServiceDay(
      in.toDS().toDF("id", "service_day_local"), out, cp).start()
    try {
      in.addData((1L, "2025-01-01"), (2L, "2025-01-02"))
      q.processAllAvailable()
      assert(spark.read.parquet(out).count() === 2)
      // the second trigger touches ONLY day 2: its partition is
      // REPLACED by the batch's rows (id 2 gone, id 3 in) while day 1
      // is untouched — dynamic overwrite, not append
      in.addData((3L, "2025-01-02"))
      q.processAllAvailable()
      val ids = spark.read.parquet(out)
        .select($"id").as[Long].collect().toSet
      assert(ids === Set(1L, 3L),
        s"expected day-2 replaced and day-1 untouched, got $ids")
    } finally q.stop()
  }

  test("sinkByServiceDay with mergeKeys upserts into a day instead of wiping it") {
    implicit val sqlCtx = spark.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, String, Long)]
    val out = java.nio.file.Files.createTempDirectory("graft_merge_out").toString
    val cp = java.nio.file.Files.createTempDirectory("graft_merge_cp").toString
    val q = StreamingModels.sinkByServiceDay(
      in.toDS().toDF("k", "service_day_local", "v"), out, cp,
      mergeKeys = Seq("k")).start()
    try {
      in.addData(("a", "2025-01-01", 1L), ("b", "2025-01-01", 1L))
      q.processAllAvailable()
      // an Update-mode-style re-emission of ONLY key a: with
      // mergeKeys the day keeps b and upserts a (the whole-day
      // overwrite default would have wiped b)
      in.addData(("a", "2025-01-01", 2L))
      q.processAllAvailable()
      val got = spark.read.parquet(out)
        .select($"k", $"v").as[(String, Long)].collect().toSet
      assert(got === Set(("a", 2L), ("b", 1L)),
        s"expected upsert-merged day, got $got")
    } finally q.stop()
  }

  test("windowed bucket counts under a stream match the batch run") {
    val batch = Sources.table(spark, sf(), "events")
    // batch form (same code path — streaming-reusable aggregation)
    val expected = StreamingModels.bucketCounts(batch)
      .agg(sum($"n")).collect().head.getLong(0)
    assert(expected === batch.count())

    // streaming form over the same parquet via readStream (file source
    // needs a directory — stage the file into one)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val streamDir = java.nio.file.Files.createTempDirectory("graft_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"${sf()}/events.parquet"),
      streamDir.resolve("events.parquet"))
    val schema = spark.read.parquet(s"${sf()}/events.parquet").schema
    val stream = spark.readStream.schema(schema)
      .parquet(streamDir.toString)
      .withColumn("ts", col("ts").cast("timestamp"))
    val q = StreamingModels.bucketCounts(stream)
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("buckets").start()
    try {
      q.processAllAvailable()
      // append mode only emits closed windows (watermark); at least the
      // early windows must have arrived and match their batch twins
      val got = spark.table("buckets")
      val batchAgg = StreamingModels.bucketCounts(batch)
      val joined = got.as("g").join(batchAgg.as("b"),
        $"g.bucket_start" === $"b.bucket_start" &&
          $"g.event_type" === $"b.event_type")
      assert(joined.filter($"g.n" =!= $"b.n").count() === 0)
      assert(got.count() > 0)
    } finally q.stop()
  }

  test("hopping windows double-count each event and match batch under a stream") {
    val batch = Sources.table(spark, sf(), "events")
    // every event lands in exactly size/hop = 2 windows
    val total = StreamingModels.hoppingCounts(batch)
      .agg(sum($"n")).collect().head.getLong(0)
    assert(total === 2 * batch.count())

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val streamDir = java.nio.file.Files.createTempDirectory("graft_hop")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"${sf()}/events.parquet"),
      streamDir.resolve("events.parquet"))
    val schema = spark.read.parquet(s"${sf()}/events.parquet").schema
    val stream = spark.readStream.schema(schema)
      .parquet(streamDir.toString)
      .withColumn("ts", col("ts").cast("timestamp"))
    val q = StreamingModels.hoppingCounts(stream)
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("hops").start()
    try {
      q.processAllAvailable()
      val got = spark.table("hops")
      val batchAgg = StreamingModels.hoppingCounts(batch)
      val joined = got.as("g").join(batchAgg.as("b"),
        $"g.w_start" === $"b.w_start" && $"g.event_type" === $"b.event_type")
      assert(joined.filter($"g.n" =!= $"b.n").count() === 0)
      assert(got.count() > 0)
    } finally q.stop()
  }

  test("streaming dedup holds bounded per-key state") {
    // dedupStream uses dropDuplicatesWithinWatermark: with plain
    // dropDuplicates and (user_id, event_type) keys the watermark
    // never evicts state — the within-watermark form is what keeps
    // the state store bounded on an unbounded stream
    val batch = Sources.table(spark, sf(), "events")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val streamDir = java.nio.file.Files.createTempDirectory("graft_dedup")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"${sf()}/events.parquet"),
      streamDir.resolve("events.parquet"))
    val schema = spark.read.parquet(s"${sf()}/events.parquet").schema
    val stream = spark.readStream.schema(schema).parquet(streamDir.toString)
      .withColumn("ts", col("ts").cast("timestamp"))
    val q = StreamingModels.dedupStream(stream)
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("dedup_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("dedup_out")
        .select($"user_id", $"event_type").distinct().count()
      val expected = batch.select($"user_id", $"event_type").distinct().count()
      assert(got === expected)
      // dedup: at most one row per key in the single-batch run
      assert(spark.table("dedup_out").count() === expected)
    } finally q.stop()
  }

  test("stream-stream interval join matches the batch equivalent") {
    val batch = Sources.table(spark, sf(), "events")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val streamDir = java.nio.file.Files.createTempDirectory("graft_ss")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"${sf()}/events.parquet"),
      streamDir.resolve("events.parquet"))
    val schema = spark.read.parquet(s"${sf()}/events.parquet").schema
    def stream() = spark.readStream.schema(schema).parquet(streamDir.toString)
      .withColumn("ts", col("ts").cast("timestamp"))
    val purch = stream().filter($"event_type" === "purchase")
    val clicks = stream().filter($"event_type" === "click")
    val q = StreamingModels.streamStreamConversions(purch, clicks)
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("ss_join").start()
    try {
      q.processAllAvailable()
      val got = spark.table("ss_join").count()
      val expected = StreamingModels.streamStreamConversions(
        batch.filter($"event_type" === "purchase"),
        batch.filter($"event_type" === "click")).count()
      assert(got === expected)
      assert(got > 0)
    } finally q.stop()
  }

  test("streaming as-of enrichment matches the batch j_asof_tol pick") {
    val batch = Sources.table(spark, sf(), "events")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val dir = java.nio.file.Files.createTempDirectory("graft_asof_s")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"${sf()}/events.parquet"),
      dir.resolve("events.parquet"))
    val schema = spark.read.parquet(s"${sf()}/events.parquet").schema
    def stream() = spark.readStream.schema(schema).parquet(dir.toString)
      .withColumn("ts", col("ts").cast("timestamp"))
    val q = StreamingModels.asOfEnrichStream(
        stream().filter($"event_type" === "purchase"),
        stream().filter($"event_type" === "click"),
        toleranceSec = 3600L)
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("asof_enrich").start()
    try {
      q.processAllAvailable()
      // append-mode agg rows only emit once the watermark passes their
      // window: a far-future sentinel of each event type (user -1)
      // closes every real window on both streams
      val raw = spark.read.parquet(s"${sf()}/events.parquet")
      val farCol = schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          lit(java.time.Instant.parse("2031-01-01T00:00:00Z")
            .getEpochSecond * 1000000000L)
        case t => lit(java.sql.Timestamp.from(
          java.time.Instant.parse("2031-01-01T00:00:00Z"))).cast(t)
      }
      raw.limit(2)
        .withColumn("user_id", lit(-1L))
        .withColumn("ts", farCol)
        .withColumn("event_type",
          when(monotonically_increasing_id() === 0, "purchase")
            .otherwise("click"))
        .write.mode("append").parquet(dir.toString)
      q.processAllAvailable()
      val got = spark.table("asof_enrich").filter($"user_id" >= 0)
        .collect().map(_.toSeq).toSet
      // the j_asof_tol pick on the same events: dedup clicks per
      // (user, second) to max id, then latest in-tolerance click
      val e = batch.withColumn("es", unix_timestamp($"ts"))
      val cb = e.filter($"event_type" === "click")
        .groupBy($"user_id".as("c_user"), $"es".as("c_es"))
        .agg(max($"event_id").as("click_id"))
      val pb = e.filter($"event_type" === "purchase")
        .select($"user_id", $"es".as("p_es"), $"event_id".as("purchase_id"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"user_id", $"purchase_id")
        .orderBy($"c_es".desc_nulls_last, $"click_id".desc_nulls_last)
      val expected = pb.join(cb,
          $"user_id" === $"c_user" &&
            $"c_es" >= $"p_es" - 3600L && $"c_es" <= $"p_es", "left")
        .withColumn("rn", row_number().over(w))
        .filter($"rn" === 1)
        .select($"user_id", $"purchase_id", $"p_es".as("purchase_es"),
          $"click_id", $"c_es".as("click_es"),
          ($"p_es" - $"c_es").as("gap_s"))
        .collect().map(_.toSeq).toSet
      assert(got.nonEmpty && got === expected,
        s"streaming as-of mismatch: ${got.size} streamed vs " +
          s"${expected.size} expected; sample diff: " +
          s"${(got diff expected).take(3)} / ${(expected diff got).take(3)}")
    } finally q.stop()
  }

  test("streaming ingest pre-gate: batch parity, sound vs the full batch gate") {
    val docs = Sources.table(spark, sf(), "documents")
    val canon = docs.filter($"doc_id" < 400)
      .select(sha2(concat_ws(" ",
        array_sort(array_distinct(split($"text", " ")))), 256)
        .as("canon_key"))
      .distinct()
    val dir = java.nio.file.Files.createTempDirectory("graft_pregate")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"${sf()}/documents.parquet"),
      dir.resolve("documents.parquet"))
    val schema = spark.read.parquet(s"${sf()}/documents.parquet").schema
    val stream = spark.readStream.schema(schema).parquet(dir.toString)
      .filter($"doc_id" >= 400)
    val q = StreamingModels.ingestPregateStream(stream, canon)
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("pregate").start()
    try {
      q.processAllAvailable()
      val got = spark.table("pregate").collect()
        .map(r => r.getLong(0) -> r.getString(2)).toMap
      // batch parity: the same function over the batch frame
      val batchRun = StreamingModels.ingestPregateStream(
          docs.filter($"doc_id" >= 400), canon)
        .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
      assert(got.nonEmpty && got === batchRun)
      // soundness vs the FULL nightly gate on the same split
      val ev = expr("CAST(conv(substring(md5(CAST(doc_id AS STRING)), " +
        "1, 2), 16, 10) AS BIGINT) % 10")
      val full = graft.operators.Corpus.ingestGate(docs,
          isNew = $"doc_id" >= 400L,
          isEval = $"doc_id" < 400L && ev >= 8)
        .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
      assert(got.keySet === full.keySet)
      got.foreach { case (id, s) =>
        s match {
          // quality reasons are computed identically — exact match
          case "too_short" | "too_few_tokens" | "repetitive" =>
            assert(full(id) === s, s"doc $id: stream $s vs batch ${full(id)}")
          // an exact dup of the corpus is a fortiori a dup component
          case "dup_of_corpus" =>
            assert(full(id) === "dup_of_corpus",
              s"doc $id: stream dup vs batch ${full(id)}")
          case _ => // pass: the batch gate may still near-dup/contam it
        }
      }
      // and the pre-gate never rejects a doc the batch gate accepts
      full.filter(_._2 == "accepted").keys.foreach { id =>
        assert(got(id) === "pass",
          s"pre-gate rejected batch-accepted doc $id: ${got(id)}")
      }
      // the fixture exercises both a rejection and a pass
      assert(got.values.exists(_ != "pass") && got.values.exists(_ == "pass"))
    } finally q.stop()
  }

  test("stream-static enrichment join matches batch; dim misses default") {
    val batch = Sources.table(spark, sf(), "events")
    // static dim covering only part of the id space — the rest must
    // fall back to 'unknown' through the left join
    val dim = spark.range(0, 8).select($"id".as("user_id"),
      concat(lit("seg"), ($"id" % 2)).as("segment"))
    val expected = StreamingModels.enrichedCounts(batch, dim)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val streamDir = java.nio.file.Files.createTempDirectory("graft_enr")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"${sf()}/events.parquet"),
      streamDir.resolve("events.parquet"))
    val schema = spark.read.parquet(s"${sf()}/events.parquet").schema
    val stream = spark.readStream.schema(schema).parquet(streamDir.toString)
      .withColumn("ts", col("ts").cast("timestamp"))
    val q = StreamingModels.enrichedCounts(stream, dim)
      .writeStream.outputMode(OutputMode.Complete)
      .format("memory").queryName("enriched").start()
    try {
      q.processAllAvailable()
      val got = spark.table("enriched")
      assert(got.except(expected).count() === 0 &&
        expected.except(got).count() === 0)
      // both covered segments and the unknown fallback are present
      val segs = got.select($"segment").distinct()
        .as[String].collect().toSet
      assert(segs.contains("unknown") && segs.exists(_.startsWith("seg")),
        s"got segments $segs")
    } finally q.stop()
  }

  test("streaming frozen-codebook assignment matches the incremental batch API") {
    import graft.operators.Vectors
    val all = Vectors.quantize(Sources.table(spark, sf(), "embeddings"))
      .withColumn("id", $"vec_id")
    val old = all.filter($"id" < 400)
    val newB = all.filter($"id" >= 400)
    val codebook = Vectors.kmeansFit(old, 8, 3)
    // batch-mode call of the streaming model (same code path, no stream)
    val batchAsg = StreamingModels.kmeansAssignStream(
      newB.withColumn("ts", lit("2024-01-05 12:00:00").cast("timestamp")),
      codebook)
    def asgMap(df: org.apache.spark.sql.DataFrame) = df
      .select($"id", $"cluster").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val incr = asgMap(Vectors.kmeansAssignIncremental(old, newB, 8, 3))
    assert(asgMap(batchAsg) === incr,
      "streaming model in batch mode must equal the incremental API")
    // true streaming over a parquet dir
    val dir = java.nio.file.Files.createTempDirectory("graft_kma")
      .resolve("in").toString
    newB.withColumn("ts",
        lit("2024-01-05 12:00:00").cast("timestamp"))
      .select($"ts", $"id", $"sv", $"nrm")
      .write.parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema).parquet(dir)
    val q = StreamingModels.kmeansAssignStream(stream, codebook)
      .writeStream.outputMode(OutputMode.Complete)
      .format("memory").queryName("kma_asg").start()
    try {
      q.processAllAvailable()
      val got = spark.table("kma_asg")
      assert(asgMap(got) === incr,
        "streamed assignment must equal the incremental API")
      // the emitted frame is the persisted daily assignment: per-cell
      // n_new re-aggregates from it and matches the batch drift stats
      val nNew = got.groupBy($"cluster").agg(count(lit(1)).as("n_new"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val drift = Vectors.kmeansDriftStats(old, newB, 8, 3)
        .filter($"n_new" > 0).select($"cluster", $"n_new").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(nNew === drift,
        "per-cell counts from the emitted frame must match drift stats")
      // idempotent under replay: max-merging a duplicated frame
      // changes no assignment (at-least-once safety)
      val replayed = got.union(got)
        .groupBy($"day_start", $"id")
        .agg(max(struct($"score", (-$"cluster").as("nc"), $"cluster"))
          .as("b"))
        .select($"id", $"b.cluster".as("cluster"))
      assert(asgMap(replayed) === incr)
    } finally q.stop()
  }

  test("streaming drift stats: stateless argmax + O(k) state equals the per-vector re-aggregation") {
    import graft.operators.Vectors
    val all = Vectors.quantize(Sources.table(spark, sf(), "embeddings"))
      .withColumn("id", $"vec_id")
    val old = all.filter($"id" < 400)
    val newB = all.filter($"id" >= 400)
    val codebook = Vectors.kmeansFit(old, 8, 3)
    val newTs = newB
      .withColumn("ts", lit("2024-01-05 12:00:00").cast("timestamp"))
      .select($"ts", $"id", $"sv", $"nrm")
    // expected: re-aggregate the per-vector assignment frame (the
    // lake-sink path) to the same integer stats
    val expected = StreamingModels.kmeansAssignStream(newTs, codebook)
      .join(codebook.select($"cluster_id".as("cluster"), $"cvec"), Seq("cluster"))
      .withColumn("dot", expr("long_dot(sv, cvec)"))
      .withColumn("nrm", expr("long_dot(sv, sv)"))
      .groupBy($"cluster")
      .agg(count(lit(1)).as("n_new"), sum($"dot").as("sum_dot"),
        sum($"nrm").as("sum_nrm"))
    def statMap(df: org.apache.spark.sql.DataFrame) = df
      .select($"cluster", $"n_new", $"sum_dot", $"sum_nrm").collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    val exp = statMap(expected)
    // batch-mode call of the drift model (same code path, no stream)
    assert(statMap(StreamingModels.kmeansDriftStream(newTs, codebook)) === exp,
      "drift model in batch mode must equal the per-vector re-aggregation")
    // true streaming over a 4-file parquet dir: cross-batch state
    // merge is exercised, and the finalize frame is O(k) rows
    val dir = java.nio.file.Files.createTempDirectory("graft_kmd")
      .resolve("in").toString
    newTs.repartition(4).write.parquet(dir)
    val stream = spark.readStream.schema(spark.read.parquet(dir).schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val q = StreamingModels.kmeansDriftStream(stream, codebook)
      .writeStream.outputMode(OutputMode.Complete)
      .format("memory").queryName("kmd_stats").start()
    try {
      q.processAllAvailable()
      val got = spark.table("kmd_stats")
      assert(got.count() <= 8, "finalize frame must be O(k) rows")
      assert(statMap(got) === exp,
        "streamed drift stats must equal the batch re-aggregation")
    } finally q.stop()
  }

  test("streaming decontamination probe: batch parity and cross-split ground truth") {
    import graft.operators.Corpus
    val docs = Sources.table(spark, sf(), "documents")
    val h = expr("CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 2)," +
      " 16, 10) AS BIGINT) % 10")
    val evalDocs = docs.filter(h >= 8)
    val trainDocs = docs.filter(h < 8)
    val idx = Corpus.minhashBandIndex(evalDocs)
    def pairSet(df: org.apache.spark.sql.DataFrame) = df
      .select($"train_doc", $"eval_doc").distinct().collect()
      .map(r => (math.min(r.getLong(0), r.getLong(1)),
        math.max(r.getLong(0), r.getLong(1)))).toSet
    // batch-mode call of the streaming model
    val batchHits = StreamingModels.contaminationStream(
      trainDocs.withColumn("ts",
        lit("2024-01-05 12:00:00").cast("timestamp")), idx)
    val batchPairs = pairSet(batchHits)
    assert(batchPairs.nonEmpty, "testdata must contain cross-split near-dups")
    // ground truth: the oracle-checked full minhash pairs restricted
    // to pairs crossing the train/eval split (the bucket cap is inert
    // at this corpus size, so the sets must match exactly)
    val evalIds = evalDocs.select($"doc_id").collect().map(_.getLong(0)).toSet
    val truth = Corpus.minhashPairs(docs, minJaccard = 0.5)
      .select($"doc_a", $"doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .filter(p => evalIds.contains(p._1) ^ evalIds.contains(p._2))
      .map(p => (math.min(p._1, p._2), math.max(p._1, p._2))).toSet
    assert(batchPairs === truth,
      "probe hits must equal the full dedup's cross-split pairs")
    // jaccard values are the exact token-set jaccard (recomputed raw)
    val emitted = batchHits.select($"train_doc", $"eval_doc", $"jaccard")
      .distinct().collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val texts = docs.select($"doc_id", $"text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ").distinct.toSet))
      .toMap
    emitted.foreach { case ((t, e), j) =>
      val (a, b) = (texts(t), texts(e))
      val exact = a.intersect(b).size.toDouble / a.union(b).size
      assert(j === exact, s"jaccard drift for ($t, $e): $j vs $exact")
    }
    // true streaming over a parquet dir
    val dir = java.nio.file.Files.createTempDirectory("graft_cont")
      .resolve("in").toString
    trainDocs.withColumn("ts",
        lit("2024-01-05 12:00:00").cast("timestamp"))
      .select($"ts", $"doc_id", $"text").write.parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema).parquet(dir)
    val q = StreamingModels.contaminationStream(stream, idx)
      .writeStream.outputMode(OutputMode.Complete)
      .format("memory").queryName("cont_hits").start()
    try {
      q.processAllAvailable()
      val got = spark.table("cont_hits")
      assert(pairSet(got) === batchPairs,
        "streamed probe must equal the batch-mode call")
      // per-band emission distinct-merges idempotently under replay
      assert(pairSet(got.union(got)) === batchPairs)
    } finally q.stop()
  }

  test("streaming bitmap partials merge to the exact distinct (batch parity)") {
    val batch = Sources.table(spark, sf(), "events")
    // the partial frame computed in one batch pass
    val batchPartials = StreamingModels.bitmapPartialsStream(batch)
    // streaming over the same parquet
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val streamDir = java.nio.file.Files.createTempDirectory("graft_bm")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"${sf()}/events.parquet"),
      streamDir.resolve("events.parquet"))
    val schema = spark.read.parquet(s"${sf()}/events.parquet").schema
    val stream = spark.readStream.schema(schema).parquet(streamDir.toString)
      .withColumn("ts", col("ts").cast("timestamp"))
    val q = StreamingModels.bitmapPartialsStream(stream)
      .writeStream.outputMode(OutputMode.Complete)
      .format("memory").queryName("bm_partials").start()
    try {
      q.processAllAvailable()
      val got = spark.table("bm_partials")
      // word-level parity with the batch pass
      assert(got.count() === batchPartials.count())
      assert(got.except(batchPartials).count() === 0)
      // the partials merge to the EXACT distinct: OR across days per
      // (type, word), popcount, compare against a direct countDistinct
      val merged = got.groupBy($"event_type", $"word")
        .agg(bit_or($"m").as("m"))
        .groupBy($"event_type")
        .agg(sum(bit_count($"m")).cast("long").as("users"))
      val exact = batch.groupBy($"event_type")
        .agg(countDistinct($"user_id").as("users"))
      assert(merged.except(exact).count() === 0 &&
        exact.except(merged).count() === 0)
      // idempotent under replay: re-OR-ing the same partials changes
      // nothing (the at-least-once safety count partials lack)
      val replayed = got.union(got).groupBy($"event_type", $"word")
        .agg(bit_or($"m").as("m"))
        .groupBy($"event_type")
        .agg(sum(bit_count($"m")).cast("long").as("users"))
      assert(replayed.except(exact).count() === 0)
    } finally q.stop()
  }

  test("streaming SRM partials finalize to the batch e_srm chi-square") {
    val batch = Sources.table(spark, sf(), "events")
    val batchPartials = StreamingModels.srmPartialsStream(batch)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val streamDir = java.nio.file.Files.createTempDirectory("graft_srm")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"${sf()}/events.parquet"),
      streamDir.resolve("events.parquet"))
    val schema = spark.read.parquet(s"${sf()}/events.parquet").schema
    val stream = spark.readStream.schema(schema).parquet(streamDir.toString)
      .withColumn("ts", col("ts").cast("timestamp"))
    val q = StreamingModels.srmPartialsStream(stream)
      .writeStream.outputMode(OutputMode.Complete)
      .format("memory").queryName("srm_partials").start()
    try {
      q.processAllAvailable()
      val got = spark.table("srm_partials")
      assert(got.count() === batchPartials.count())
      assert(got.except(batchPartials).count() === 0,
        "streamed partials must equal the batch pass")
      // the finalized per-day arm sizes must be EXACT distinct users
      val fin = StreamingModels.srmFinalize(got)
      val exact = batch
        .withColumn("day", date_trunc("day", $"ts"))
        .withColumn("arm", expr("CAST(conv(substring(md5(" +
          "CAST(user_id AS STRING)), 1, 8), 16, 10) AS BIGINT) % 2"))
        .select($"day", $"arm", $"user_id").distinct()
        .groupBy($"day")
        .agg(sum(when($"arm" === 0L, 1L).otherwise(0L)).as("n0"),
          sum(when($"arm" =!= 0L, 1L).otherwise(0L)).as("n1"))
      val gotSizes = fin.select($"day_start".as("day"), $"n0", $"n1")
      assert(gotSizes.except(exact).count() === 0 &&
        exact.except(gotSizes).count() === 0,
        "finalized arm sizes must be exact per-day distinct users")
      // chi-square arithmetic matches e_srm's closed form per row
      fin.collect().foreach { r =>
        val n0 = r.getAs[Long]("n0"); val n = r.getAs[Long]("n")
        assert(r.getAs[Long]("chi2_x100") ===
          (2L * n0 - n) * (2L * n0 - n) * 100L / n)
        assert(r.getAs[Boolean]("srm") ===
          ((2L * n0 - n) * (2L * n0 - n) * 100L / n > 384L))
      }
      // replay safety: doubling the partials changes NOTHING (the
      // false-alarm mode count-based partials would hit). Compare
      // collected sorted rows: an Except whose two sides both root at
      // the same memory-sink view (one side self-unioned) trips
      // Spark 4.1's DeduplicateRelations INTERNAL_ERROR.
      val replayed = StreamingModels.srmFinalize(got.union(got))
      assert(replayed.orderBy($"day_start").collect().toSeq ===
        fin.orderBy($"day_start").collect().toSeq,
        "finalize must be replay-idempotent")
    } finally q.stop()
  }

  test("streaming priority-sample partials finalize to the batch sample") {
    val docs = Sources.table(spark, sf(), "documents")
    val dir = java.nio.file.Files.createTempDirectory("graft_prio")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"${sf()}/documents.parquet"),
      dir.resolve("documents.parquet"))
    val schema = spark.read.parquet(s"${sf()}/documents.parquet").schema
    val stream = spark.readStream.schema(schema).parquet(dir.toString)
    val q = StreamingModels.prioritySamplePartialsStream(stream, k = 64)
      .writeStream.outputMode(OutputMode.Complete)
      .format("memory").queryName("prio_partials").start()
    try {
      q.processAllAvailable()
      val got = spark.table("prio_partials")
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select($"doc_id", $"w", $"q", $"w_est").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            r.getLong(3))).sortBy(_._1).toSeq
      // finalized sample ≡ the batch operator row-for-row
      val fin = rows(StreamingModels.prioritySampleFinalize(got, k = 64))
      val batch = rows(graft.operators.Corpus.prioritySample(docs, k = 64))
      assert(fin.nonEmpty && fin === batch,
        "streamed sample must equal the batch prioritySample")
      // replay safety: doubling the partials changes NOTHING (q is a
      // pure function of the row; the finalize DISTINCT collapses it)
      val replayed = rows(StreamingModels.prioritySampleFinalize(
        got.union(got), k = 64))
      assert(replayed === fin, "finalize must be replay-idempotent")
    } finally q.stop()
  }

  test("streaming CMS partials sum-merge to >= exact estimates (batch parity)") {
    val batch = Sources.table(spark, sf(), "events")
    val batchPartials = StreamingModels.cmsPartialsStream(batch)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val streamDir = java.nio.file.Files.createTempDirectory("graft_cms")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"${sf()}/events.parquet"),
      streamDir.resolve("events.parquet"))
    val schema = spark.read.parquet(s"${sf()}/events.parquet").schema
    val stream = spark.readStream.schema(schema).parquet(streamDir.toString)
      .withColumn("ts", col("ts").cast("timestamp"))
    val q = StreamingModels.cmsPartialsStream(stream)
      .writeStream.outputMode(OutputMode.Complete)
      .format("memory").queryName("cms_partials").start()
    try {
      q.processAllAvailable()
      val got = spark.table("cms_partials")
      // counter-level parity with the batch pass
      assert(got.count() === batchPartials.count())
      assert(got.except(batchPartials).count() === 0)
      // partials SUM-merge across days; point estimate = min over the
      // key's 3 row buckets; CMS one-sided bound: est >= exact
      val merged = got.groupBy($"r", $"bucket").agg(sum($"cnt").as("c"))
      val probes = batch
        .select(concat($"event_type", lit(":"), $"user_id").as("key"))
        .filter($"key".endsWith(":3"))
        .groupBy($"key").agg(count(lit(1)).as("exact_n"))
        .withColumn("r", explode(array(lit(0), lit(1), lit(2))))
        .withColumn("bucket",
          expr("md5_prefix_long(concat(cast(r as string), '#', key), 14)")
            % 64L)
        .join(merged, Seq("r", "bucket"))
        .groupBy($"key")
        .agg(max($"exact_n").as("exact_n"), min($"c").as("est_n"))
      val bad = probes.filter($"est_n" < $"exact_n").count()
      assert(bad === 0, "CMS one-sided bound violated")
      // at-least-once contrast with bitmap OR: replaying the partials
      // DOUBLES the counters (sum is not idempotent) — but the
      // one-sided bound survives, errors only go up
      val replayed = got.union(got).groupBy($"r", $"bucket")
        .agg(sum($"cnt").as("c"))
      assert(replayed.agg(sum($"c")).head().getLong(0) ===
        2 * merged.agg(sum($"c")).head().getLong(0))
    } finally q.stop()
  }

  test("streaming DDSketch partials sum-merge to alpha-bounded quantiles (batch parity)") {
    val batch = Sources.table(spark, sf(), "events")
    val batchPartials = StreamingModels.ddsketchPartialsStream(batch)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val streamDir = java.nio.file.Files.createTempDirectory("graft_dds")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"${sf()}/events.parquet"),
      streamDir.resolve("events.parquet"))
    val schema = spark.read.parquet(s"${sf()}/events.parquet").schema
    val stream = spark.readStream.schema(schema).parquet(streamDir.toString)
      .withColumn("ts", col("ts").cast("timestamp"))
    val q = StreamingModels.ddsketchPartialsStream(stream)
      .writeStream.outputMode(OutputMode.Complete)
      .format("memory").queryName("dds_partials").start()
    try {
      q.processAllAvailable()
      val got = spark.table("dds_partials")
      // bucket-level parity with the batch pass
      assert(got.count() === batchPartials.count())
      assert(got.except(batchPartials).count() === 0)
      // sum-merge across days, read out p50/p95 from midpoints, and
      // hold the batch twin's alpha bound against the exact quantile
      val alpha = 0.01
      val lnGamma = math.log((1 + alpha) / (1 - alpha))
      val merged = got.groupBy($"event_type", $"sgn", $"idx")
        .agg(sum($"freq").as("freq"))
        .withColumn("mid", when($"sgn" === 0, lit(0.0))
          .otherwise($"sgn" * lit(2.0) * exp($"idx" * lnGamma) /
            (math.exp(lnGamma) + 1.0)))
        .groupBy($"event_type")
        .agg(percentile($"mid", lit(0.5), $"freq").as("p50_sk"),
             percentile($"mid", lit(0.95), $"freq").as("p95_sk"))
      val direct = batch
        .withColumn("cents", round($"value" * 100).cast("long"))
        .groupBy($"event_type")
        .agg(percentile($"cents", lit(0.5)).as("p50"),
             percentile($"cents", lit(0.95)).as("p95"))
      val bad = merged.join(direct, Seq("event_type"))
        .filter(abs($"p50_sk" - $"p50") > abs($"p50") * (2 * alpha) + 1.0 ||
                abs($"p95_sk" - $"p95") > abs($"p95") * (2 * alpha) + 1.0)
        .count()
      assert(bad === 0L, "alpha bound violated after streaming merge")
    } finally q.stop()
  }

  test("left-outer stream-stream join emits unmatched rows after the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, String, Long)]
    def events = in.toDS()
      .toDF("event_id", "user_id", "event_type", "es")
      .withColumn("ts", timestamp_seconds(col("es"))).drop("es")
    val q = StreamingModels.streamStreamConversionsOuter(
      events.filter($"event_type" === "purchase"),
      events.filter($"event_type" === "click"))
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("ss_outer").start()
    try {
      val t0 = 1700000000L
      in.addData(
        (1L, 1L, "click", t0 - 1800),      // 30 min before u1 purchase
        (2L, 1L, "click", t0 - 3600),      // exactly 1 h before — in window
        (3L, 1L, "purchase", t0),
        (4L, 2L, "purchase", t0),          // no click at all
        (5L, 3L, "click", t0 - 7200),      // 2 h before — OUTSIDE window
        (6L, 3L, "purchase", t0))
      q.processAllAvailable()
      // matches stream immediately; null rows CANNOT yet — a
      // qualifying click might still arrive
      val matched = spark.table("ss_outer")
        .filter($"click_id".isNotNull).count()
      assert(matched === 2, "u1's two in-window clicks")
      assert(spark.table("ss_outer").filter($"click_id".isNull).count() === 0,
        "outer rows must wait for the watermark")
      // advance the watermark far past every open window → the
      // unattributed purchases (u2, u3) flush with null click_id
      // advance BOTH sides' watermarks (each is computed after its
      // event-type filter, so the sentinel must be a purchase AND a
      // click — pair them so they match each other cleanly); the new
      // watermark takes effect at the NEXT trigger, so nudge once
      // more to run the eviction
      in.addData((99L, 9L, "click", t0 + 36000),
                 (100L, 9L, "purchase", t0 + 36000))
      q.processAllAvailable()
      in.addData((101L, 9L, "click", t0 + 36001),
                 (102L, 9L, "purchase", t0 + 36001))
      q.processAllAvailable()
      val nulls = spark.table("ss_outer").filter($"click_id".isNull)
        .select($"user_id").as[Long].collect().sorted
      assert(nulls.toSeq === Seq(2L, 3L),
        s"expected u2+u3 unattributed, got ${nulls.toSeq}")
    } finally q.stop()
  }

  test("stateful session rollup via mapGroupsWithState") {
    val batch = Sources.table(spark, sf(), "events")
    val evts = batch.select($"user_id", $"event_type",
      unix_timestamp($"ts").as("tsSec")).as[Evt]

    // mapGroupsWithState also runs in batch mode — verify semantics there
    val out = StreamingModels.sessionRollup(evts).collect()
      .map(o => o.user_id -> o).toMap
    val expect = batch.groupBy($"user_id")
      .agg(count(lit(1)).as("n"),
        (unix_timestamp(max($"ts")) - unix_timestamp(min($"ts"))).as("span"))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out.keySet === expect.keySet)
    out.foreach { case (uid, o) =>
      assert(o.n_events === expect(uid).getLong(1))
      assert(o.span_s === expect(uid).getLong(2))
    }
  }

  test("streamOfReplayed genuinely re-delivers rows (stream_dedup not vacuous)") {
    // the gate's exactly-once claim is only as strong as the replay:
    // if the trailing-horizon file were ever empty (the guarded
    // degrade path), the dedup gate would pass without testing
    // cross-batch state. Pin that the source delivers MORE rows than
    // the base table, that every duplicate is an even event_id from
    // the replay rule, and that the copies are byte-identical.
    import org.apache.spark.sql.functions._
    val ev = graft.sources.Sources.table(spark, sf(), "events")
      .select(timestamp_seconds(unix_timestamp($"ts")).as("ts"),
        $"event_id", $"user_id", $"event_type",
        round($"value" * 100).cast("long").as("cents"))
    val src = graft.operators.StreamingQueries
      .streamOfReplayed(spark, ev, horizonSec = 7200L)
    val q = src.writeStream.outputMode("append")
      .format("memory").queryName("replay_probe").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("replay_probe")
    val base = ev.count()
    assert(streamed.count() > base,
      s"replay must add rows: streamed=${streamed.count()} base=$base")
    val dups = streamed.groupBy($"event_id")
      .agg(count(lit(1)).as("n")).filter($"n" > 1)
    assert(dups.count() > 0L, "duplicate event_ids must exist")
    assert(dups.filter($"event_id" % 2 =!= 0).count() === 0L,
      "only even event_ids are replayed")
    assert(streamed.distinct().count() === base,
      "replays must be byte-identical copies")
  }

  test("LocalCheckpointFs.runToEnd restores the filesystem key even when the query throws") {
    import graft.streaming.LocalCheckpointFs
    implicit val sqlCtx = spark.sqlContext
    val key = LocalCheckpointFs.ImplKey
    val stockImpl = spark.sessionState.newHadoopConf().get(key)
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
    in.addData(1L, 2L)
    val boom = udf { (x: Long) =>
      if (x > 0) throw new IllegalStateException("boom") else x }
    var during: String = null
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      LocalCheckpointFs.runToEnd(spark) {
        during = spark.sessionState.newHadoopConf().get(key)
        in.toDS().select(boom($"value")).writeStream
          .format("memory").queryName("ckptfs_boom").start()
      }
    }
    assert(during === classOf[LocalCheckpointFs].getName)
    assert(spark.conf.getOption(key) === None)
    assert(spark.sessionState.newHadoopConf().get(key) === stockImpl)
    // a value set before the helper comes back, also when start throws
    spark.conf.set(key, stockImpl)
    try {
      intercept[IllegalStateException](LocalCheckpointFs.runToEnd(spark)(
        throw new IllegalStateException("no start")))
      assert(spark.conf.getOption(key) === Some(stockImpl))
    } finally spark.conf.unset(key)
  }
}
