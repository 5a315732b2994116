package graft.operators

import graft.Q
import graft.sources.Sources
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video as opaque BinaryType
  * columns with typed metadata (BASELINE.json north star).
  *
  * Image and audio decode is REAL where it is codec-free-feasible:
  * WAV (RIFF walk), BMP, PNG (zlib + CRC), GIF (full LZW, single and
  * animated), baseline JPEG (Huffman + dequant + integer IDCT), plus
  * the container quartet (gzip/WARC/tar/zip), PDF text extraction
  * and strict UTF-8 validation — all native expressions with
  * first-principles oracles. VIDEO has a real-codec member too:
  * mm_decode_mjpeg walks a real AVI (RIFF) container and decodes
  * every MJPEG frame through the real JPEG pipeline. Only
  * general-codec video (H.26x-class) remains a clearly-marked
  * deterministic fake (mm_decode/mm_frames — features derived from
  * the bytes themselves); everything around it —
  * BinaryType schema, per-batch partitioned processing, frame
  * sampling via generator explode, metadata derivation — is real
  * Spark plumbing, exercised and oracle-checked byte-for-byte (hex
  * round-trips through DuckDB BLOBs).
  *
  * The synthetic payload is unhex(sha256(text)): 32 opaque bytes per
  * document standing in for an encoded image. At 100 TB the payloads
  * are real blobs in the same BinaryType column; the decode stub is
  * replaced by a codec call inside the same mapInPandas/mapPartitions
  * batch shape — the plan does not change.
  */
object MultimodalQueries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Sources.table(s, dir, "documents")

  /** documents + synthetic binary payload column (BinaryType). */
  private def withBlob(df: DataFrame): DataFrame =
    df.withColumn("img", unhex(sha2(col("text"), 256)))

  /** SQL fragment: little-endian `n`-byte hex encoding of integer
    * expression `e` — the building block both real-container
    * synthesizers (WAV, BMP) use to write valid headers. */
  private def leHex(e: String, n: Int): String =
    (0 until n).map(k =>
      s"lpad(hex((($e)) div ${1L << (8 * k)} % 256), 2, '0')")
      .mkString("concat(", ", ", ")")

  /** Big-endian sibling of [[leHex]] (PNG's byte order). */
  private def beHex(e: String, n: Int): String =
    (0 until n).reverse.map(k =>
      s"lpad(hex((($e)) div ${1L << (8 * k)} % 256), 2, '0')")
      .mkString("concat(", ", ", ")")

  /** Synthesize a fully VALID PNG per document (real chunk CRC-32s
    * via the crc32 built-in, a stored-block zlib stream with computed
    * Adler-32, Sub-filtered scanlines over sha-derived pixels) and
    * decode it back through [[graft.functions.PngDecode]] — the
    * mm_decode_png body, public so ScaleProbe can ride it. Returns
    * (doc_id, fmt_ok, width, height, bit_depth, n_raw, sum_px,
    * first_px, last_px). */
  def pngRoundtrip(docsDf: DataFrame): DataFrame = {
    def pxAt(j: String): String =
      s"CAST(conv(substr(ph, 2 * ($j) + 1, 2), 16, 10) AS BIGINT)"
    // scanlines: filter type 1 (Sub) — stored bytes are deltas
    val sl = "array_join(transform(sequence(0, h - 1), r -> " +
      "concat('01', array_join(transform(sequence(0, w - 1), i -> " +
      s"lpad(hex((${pxAt("r * w + i")} - IF(i = 0, 0L, " +
      s"${pxAt("r * w + i - 1")}) + 256L) % 256L), 2, '0')), ''))), '')"
    def byteAt(j: String): String =
      s"CAST(conv(substr(sl, 2 * ($j) - 1, 2), 16, 10) AS BIGINT)"
    def chunk(typeHex: String, dataHexCol: String): String =
      s"concat(${beHex(s"length($dataHexCol) div 2", 4)}, " +
        s"'$typeHex', $dataHexCol, " +
        s"${beHex(s"crc32(unhex(concat('$typeHex', $dataHexCol)))", 4)})"
    // widenScan: per-row synth+decode over a 1-split scan (Engine.widenScan)
    graft.Engine.widenScan(docsDf)
      .withColumn("w", col("doc_id") % 3 + 2)
      .withColumn("h", col("doc_id") % 2 + 2)
      .withColumn("ph", sha2(col("text"), 256))
      .withColumn("sl", expr(sl))
      .withColumn("n", expr("(w + 1) * h"))
      .withColumn("ad_a", expr("(1L + aggregate(transform(" +
        s"sequence(1, n), j -> ${byteAt("j")}), 0L, " +
        "(acc, x) -> acc + x)) % 65521L"))
      .withColumn("ad_b", expr("(n + aggregate(transform(" +
        s"sequence(1, n), j -> (n - j + 1) * ${byteAt("j")}), 0L, " +
        "(acc, x) -> acc + x)) % 65521L"))
      .withColumn("zl", expr("concat('7801', '01', " +
        s"${leHex("n", 2)}, ${leHex("65535 - n", 2)}, sl, " +
        s"${beHex("ad_b * 65536L + ad_a", 4)})"))
      .withColumn("ihdr", expr(
        s"concat(${beHex("w", 4)}, ${beHex("h", 4)}, '0800000000')"))
      .withColumn("png", expr("concat('89504E470D0A1A0A', " +
        s"${chunk("49484452", "ihdr")}, ${chunk("49444154", "zl")}, " +
        s"concat('00000000', '49454E44', " +
        s"${beHex("crc32(unhex('49454E44'))", 4)}))"))
      .withColumn("d", expr("png_decode(unhex(png))"))
      .select(col("doc_id"),
        element_at(col("d"), 1).as("fmt_ok"),
        element_at(col("d"), 2).as("width"),
        element_at(col("d"), 3).as("height"),
        element_at(col("d"), 4).as("bit_depth"),
        element_at(col("d"), 5).as("n_raw"),
        element_at(col("d"), 6).as("sum_px"),
        element_at(col("d"), 7).as("first_px"),
        element_at(col("d"), 8).as("last_px"))
  }

  /** bzip2 compress → decompress per doc (both directions our own
    * from-scratch BWT+MTF+Huffman codec; commons-compress is the
    * cross-adversary in Bzip2Spec) — the mm_bzip2_roundtrip body,
    * public so ScaleProbe can ride it. Returns (doc_id, n_bytes,
    * text_out). */
  def bzip2Roundtrip(docsDf: DataFrame): DataFrame = {
    // widenScan: the per-row codec work otherwise pipelines into the
    // 1-split local scan and runs single-core (Engine.widenScan)
    graft.Engine.widenScan(docsDf)
      .withColumn("bz", expr("bzip2_write(CAST(text AS BINARY))"))
      .withColumn("dec", expr("bzip2_read(bz)"))
      .select(col("doc_id"),
        octet_length(col("dec")).cast("long").as("n_bytes"),
        col("dec").cast("string").as("text_out"))
      .orderBy(col("doc_id"))
  }

  /** Real-deflate gzip member per doc → `gunzip` decode — the
    * mm_deflate_roundtrip body, public so ScaleProbe can ride it.
    * Returns (doc_id, n_bytes, text_out). */
  def deflateRoundtrip(docsDf: DataFrame): DataFrame = {
    // widenScan: the per-row codec work otherwise pipelines into the
    // 1-split local scan and runs single-core (Engine.widenScan)
    graft.Engine.widenScan(docsDf)
      .withColumn("gz", expr("gzip_write(CAST(text AS BINARY))"))
      .withColumn("dec", expr("gunzip(gz)"))
      .select(col("doc_id"),
        octet_length(col("dec")).cast("long").as("n_bytes"),
        col("dec").cast("string").as("text_out"))
      .orderBy(col("doc_id"))
  }

  /** ~50-doc shards of real-deflate gzip members → `gzip_members`
    * walk → posexplode — the corpus_shard_roundtrip body, public so
    * ScaleProbe can ride it. Returns (shard, member_idx, n_bytes,
    * text_out). */
  def shardRoundtrip(docsDf: DataFrame): DataFrame = {
    docsDf
      .withColumn("shard", expr("doc_id div 50"))
      .groupBy(col("shard"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("text"))))
        .as("ds"))
      .withColumn("blob", expr("aggregate(ds, CAST('' AS BINARY), " +
        "(acc, d) -> concat(acc, gzip_write(CAST(d.text AS BINARY))))"))
      .select(col("shard"),
        posexplode(expr("gzip_members(blob)")).as(Seq("i", "payload")))
      .select(col("shard"), col("i").cast("long").as("member_idx"),
        octet_length(col("payload")).cast("long").as("n_bytes"),
        col("payload").cast("string").as("text_out"))
      .orderBy(col("shard"), col("member_idx"))
  }

  /** ~50-doc shards archived by the from-scratch `zip_write`
    * (deflated members, central directory, EOCD) → conformant
    * `zip_list` backwards walk (EOCD tail scan, JDK re-inflate,
    * recomputed CRC-32) — the mm_zip_write body, public so
    * ScaleProbe can ride it. Returns (shard, member_idx, name,
    * method, size, crc_ok, payload_sum). */
  def zipWriteRoundtrip(docsDf: DataFrame): DataFrame = {
    docsDf
      .withColumn("shard", expr("doc_id div 50"))
      .groupBy(col("shard"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("text"))))
        .as("ds"))
      .withColumn("blob", expr("zip_write(transform(ds, d -> " +
        "struct(concat('doc_', d.doc_id, '.txt'), " +
        "CAST(d.text AS BINARY))))"))
      .select(col("shard"),
        posexplode(expr("zip_list(blob)")).as(Seq("i", "m")))
      .select(col("shard"), col("i").cast("long").as("member_idx"),
        col("m.name").as("name"), col("m.method").as("method"),
        col("m.size").as("size"), col("m.crc_ok").as("crc_ok"),
        col("m.payload_sum").as("payload_sum"))
      .orderBy(col("shard"), col("member_idx"))
  }

  /** ~50-doc shards archived by the from-scratch ustar `tar_write`
    * → `tar_list` walk (octal fields parsed, header checksum
    * RECOMPUTED) — the mm_tar_write body, public so ScaleProbe can
    * ride it. Returns (shard, member_idx, name, size, typeflag,
    * cksum_ok, payload_sum). */
  def tarWriteRoundtrip(docsDf: DataFrame): DataFrame = {
    docsDf
      .withColumn("shard", expr("doc_id div 50"))
      .groupBy(col("shard"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("text"))))
        .as("ds"))
      .withColumn("blob", expr("tar_write(transform(ds, d -> " +
        "struct(concat('doc_', d.doc_id, '.txt'), " +
        "CAST(d.text AS BINARY))))"))
      .select(col("shard"),
        posexplode(expr("tar_list(blob)")).as(Seq("i", "m")))
      .select(col("shard"), col("i").cast("long").as("member_idx"),
        col("m.name").as("name"), col("m.size").as("size"),
        col("m.typeflag").as("typeflag"),
        col("m.cksum_ok").as("cksum_ok"),
        col("m.payload_sum").as("payload_sum"))
      .orderBy(col("shard"), col("member_idx"))
  }

  /** 3-row grayscale PNG per doc (pixels = the doc's bytes repeated
    * as 3 identical scanlines — the adaptive filter heuristic picks
    * Sub/None for row 0 and Up for rows 1-2, so the emitted stream
    * exercises real unfilter paths) → full `png_decode` (signature,
    * chunk CRCs, zlib inflate, unfilter) — the mm_png_write body,
    * public so ScaleProbe can ride it. Returns (doc_id, fmt_ok,
    * width, height, bit_depth, n_raw, sum_px, first_px, last_px). */
  def pngWriteRoundtrip(docsDf: DataFrame): DataFrame = {
    docsDf
      .withColumn("b", col("text").cast("binary"))
      .withColumn("n", octet_length(col("b")).cast("long"))
      .where(col("n") > 0)
      .withColumn("png", expr(
        "png_write(n, 3L, concat(b, b, b))"))
      .withColumn("d", expr("png_decode(png)"))
      .select(col("doc_id"),
        element_at(col("d"), 1).as("fmt_ok"),
        element_at(col("d"), 2).as("width"),
        element_at(col("d"), 3).as("height"),
        element_at(col("d"), 4).as("bit_depth"),
        element_at(col("d"), 5).as("n_raw"),
        element_at(col("d"), 6).as("sum_px"),
        element_at(col("d"), 7).as("first_px"),
        element_at(col("d"), 8).as("last_px"))
      .orderBy(col("doc_id"))
  }

  /** lz4-java frame compress (the INDEPENDENT compressor) → our
    * from-scratch LZ4 frame+block decoder, per doc — the
    * mm_lz4_roundtrip body, public so ScaleProbe can ride it.
    * Returns (doc_id, n_bytes, text_out). */
  def lz4Roundtrip(docsDf: DataFrame): DataFrame = {
    // widenScan: the per-row codec work otherwise pipelines into the
    // 1-split local scan and runs single-core (Engine.widenScan)
    graft.Engine.widenScan(docsDf)
      .withColumn("fr", expr("lz4_write(CAST(text AS BINARY))"))
      .withColumn("dec", expr("lz4_read(fr)"))
      .select(col("doc_id"),
        octet_length(col("dec")).cast("long").as("n_bytes"),
        col("dec").cast("string").as("text_out"))
      .orderBy(col("doc_id"))
  }

  /** snappy-java raw-block compress (the INDEPENDENT compressor) →
    * our from-scratch tag-walk decoder, per doc — the
    * mm_snappy_roundtrip body, public so ScaleProbe can ride it.
    * Returns (doc_id, n_bytes, text_out). */
  def snappyRoundtrip(docsDf: DataFrame): DataFrame = {
    // widenScan: the per-row codec work otherwise pipelines into the
    // 1-split local scan and runs single-core (Engine.widenScan)
    graft.Engine.widenScan(docsDf)
      .withColumn("sn", expr("snappy_write(CAST(text AS BINARY))"))
      .withColumn("dec", expr("snappy_read(sn)"))
      .select(col("doc_id"),
        octet_length(col("dec")).cast("long").as("n_bytes"),
        col("dec").cast("string").as("text_out"))
      .orderBy(col("doc_id"))
  }

  /** zstd-jni compress (level 3, checksum ON — the reference
    * implementation as the in-plan adversary) → our from-scratch
    * RFC 8878 decoder, per doc — the mm_zstd_roundtrip body, public
    * so ScaleProbe can ride it. Returns (doc_id, n_bytes,
    * text_out). */
  def zstdRoundtrip(docsDf: DataFrame): DataFrame = {
    // widenScan: the per-row codec work otherwise pipelines into the
    // 1-split local scan and runs single-core (Engine.widenScan)
    graft.Engine.widenScan(docsDf)
      .withColumn("fr", expr("zstd_write(CAST(text AS BINARY))"))
      .withColumn("dec", expr("zstd_read(fr)"))
      .select(col("doc_id"),
        octet_length(col("dec")).cast("long").as("n_bytes"),
        col("dec").cast("string").as("text_out"))
      .orderBy(col("doc_id"))
  }

  /** ~50-doc shards as CONCATENATED zstd frames (one frame per doc —
    * the seekable `.jsonl.zst` release layout) → our decoder's
    * multi-frame walk — the corpus_zstd_shard body, public so
    * ScaleProbe can ride it. Returns (shard, n_docs, n_bytes,
    * text_out = the shard's docs concatenated in doc order). */
  def zstdShardRoundtrip(docsDf: DataFrame): DataFrame = {
    docsDf
      .withColumn("shard", expr("doc_id div 50"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sort_array(collect_list(struct(col("doc_id"), col("text"))))
          .as("ds"))
      .withColumn("blob", expr("aggregate(ds, CAST('' AS BINARY), " +
        "(acc, d) -> concat(acc, zstd_write(CAST(d.text AS BINARY))))"))
      .withColumn("dec", expr("zstd_read(blob)"))
      .select(col("shard"), col("n_docs"),
        octet_length(col("dec")).cast("long").as("n_bytes"),
        col("dec").cast("string").as("text_out"))
      .orderBy(col("shard"))
  }

  /** ~50-doc shards written as Avro OCF by the REAL Avro library
    * (codec rotating null/deflate/snappy/zstandard by shard) → our
    * from-scratch container walk + binary row decode, exploded in
    * long form — the mm_avro_ingest body, public so ScaleProbe can
    * ride it. Returns (shard, row, field, value). */
  def avroIngest(docsDf: DataFrame): DataFrame = {
    docsDf
      .withColumn("shard", expr("doc_id div 50"))
      .groupBy(col("shard"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("text"))))
        .as("ds"))
      .withColumn("codec", expr("element_at(array('null', 'deflate', " +
        "'snappy', 'zstandard'), CAST(pmod(shard, 4) AS INT) + 1)"))
      .withColumn("blob", expr("avro_write(ds, codec)"))
      .select(col("shard"), explode(expr("avro_read(blob)")).as("m"))
      .select(col("shard"), col("m.row").as("row"),
        col("m.field").as("field"), col("m.value").as("value"))
      .orderBy(col("shard"), col("row"), col("field"))
  }

  /** Synthesized GTFS-RT FeedMessages (one feed per 100-order
    * block; entities = orders, stop_time_updates = the order's
    * lineitems, delays NEGATIVE half the time so the 10-byte
    * sign-extended int32 varints are exercised in-plan) packed by
    * the SHADED PROTOBUF CodedOutputStream and decoded by our
    * from-scratch wire walker — the mta_rt_feed body, public so
    * ScaleProbe can ride it. Returns one row per stop_time_update. */
  def gtfsRtRoundtrip(ordersAll: DataFrame, lineitemAll: DataFrame)
      : DataFrame = {
    // the o_orderkey % 4 == 0 subset keeps the gated output at
    // ~150k rows at sf0.1 (the sample_negative output-volume
    // lesson) while every wire shape — negative delays included —
    // still occurs
    val orders = ordersAll.filter(pmod(col("o_orderkey"), lit(4)) === 0)
    val lineitem = lineitemAll
      .filter(pmod(col("l_orderkey"), lit(4)) === 0)
    val stops = lineitem
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_list(struct(
        col("l_linenumber").cast("long"),
        concat(lit("S"), pmod(col("l_partkey"), lit(100))),
        expr("CAST(l_quantity AS BIGINT) - 25"),
        expr("1700000000L + l_orderkey * 100 + l_linenumber"),
        expr("CAST(l_quantity AS BIGINT) - 20"),
        expr("1700000030L + l_orderkey * 100 + l_linenumber"))))
        .as("stops"))
    val entities = orders
      .join(stops, col("o_orderkey") === col("l_orderkey"))
      .select(expr("o_orderkey div 100").as("feed"),
        struct(
          concat(lit("e"), lpad(col("o_orderkey"), 12, "0")),
          concat(lit("t"), col("o_orderkey")),
          concat(lit("R"), pmod(col("o_orderkey"), lit(11))),
          date_format(col("o_orderdate"), "yyyyMMdd"),
          pmod(col("o_orderkey"), lit(2)).cast("long"),
          col("stops")).as("ent"))
      .groupBy(col("feed"))
      .agg(sort_array(collect_list(col("ent"))).as("entities"))
    entities
      .withColumn("blob", expr(
        "gtfsrt_write(named_struct('ts', 1700000000L + feed, " +
          "'entities', entities))"))
      .select(explode(expr("gtfsrt_decode(blob)")).as("m"))
      .select(col("m.feed_ts").as("feed_ts"),
        col("m.entity_id").as("entity_id"),
        col("m.trip_id").as("trip_id"),
        col("m.route_id").as("route_id"),
        col("m.start_date").as("start_date"),
        col("m.direction_id").as("direction_id"),
        col("m.stop_sequence").as("stop_sequence"),
        col("m.stop_id").as("stop_id"),
        col("m.arr_delay").as("arr_delay"),
        col("m.arr_time").as("arr_time"),
        col("m.dep_delay").as("dep_delay"),
        col("m.dep_time").as("dep_time"))
      // (entity, seq) is NOT unique in the synthetic lineitem —
      // extend the sort so only fully-identical rows tie
      .orderBy(col("entity_id"), col("stop_sequence"),
        col("arr_delay"), col("stop_id"))
  }

  /** ~50-doc shards as `.tar.gz`: ustar via `tar_write`, wrapped in
    * a real-deflate gzip member via `gzip_write`, then decoded back
    * through `gunzip` (CRC-32/ISIZE verified) and walked by
    * `tar_list` (header checksums recomputed) — the
    * corpus_targz_shard body, public so ScaleProbe can ride it.
    * Returns (shard, member_idx, name, size, payload_sum). */
  def targzShardRoundtrip(docsDf: DataFrame): DataFrame = {
    docsDf
      .withColumn("shard", expr("doc_id div 50"))
      .groupBy(col("shard"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("text"))))
        .as("ds"))
      .withColumn("tgz", expr("gzip_write(tar_write(transform(ds, " +
        "d -> struct(concat('doc_', d.doc_id, '.txt'), " +
        "CAST(d.text AS BINARY)))))"))
      .select(col("shard"),
        posexplode(expr("tar_list(gunzip(tgz))")).as(Seq("i", "m")))
      .select(col("shard"), col("i").cast("long").as("member_idx"),
        col("m.name").as("name"), col("m.size").as("size"),
        col("m.cksum_ok").as("cksum_ok"),
        col("m.payload_sum").as("payload_sum"))
      .orderBy(col("shard"), col("member_idx"))
  }

  /** `gens` generations of GTFS-RT feed blobs over an orders-subset
    * (o_orderkey % 8 == 0; delays evolve per generation, feed_ts
    * strictly increasing) — the stream_gtfs_latest source builder,
    * public so the streaming gate and ScaleProbe share it. The
    * synthetic lineitem does NOT carry a unique line number per
    * order (duplicate (l_orderkey, l_linenumber) pairs exist), so
    * stops pre-aggregate per (order, linenumber) with deterministic
    * mins — the upsert key is unique by construction at any SF.
    * Returns (gen, feed, feed_ts, blob). */
  def gtfsRtFeedGens(orders: DataFrame, lineitem: DataFrame,
                     gens: Int): DataFrame = {
    val o = orders.filter(pmod(col("o_orderkey"), lit(8)) === 0)
    val li = lineitem.filter(pmod(col("l_orderkey"), lit(8)) === 0)
      .groupBy(col("l_orderkey"), col("l_linenumber"))
      .agg(min(expr("CAST(l_quantity AS BIGINT)")).as("qmin"),
        min(col("l_partkey")).as("pmin"))
    val genDf = orders.sparkSession.range(gens.toLong)
      .select(col("id").cast("long").as("gen"))
    val stops = li
      .crossJoin(broadcast(genDf))
      .groupBy(col("gen"), col("l_orderkey"))
      .agg(sort_array(collect_list(struct(
        col("l_linenumber").cast("long"),
        concat(lit("S"), pmod(col("pmin"), lit(100))),
        expr("qmin - 25 + gen * 7"),
        expr("1700000000L + l_orderkey * 100 + l_linenumber"),
        expr("qmin - 20 + gen * 7"),
        expr("1700000030L + l_orderkey * 100 + l_linenumber"))))
        .as("stops"))
    o.join(stops, col("o_orderkey") === col("l_orderkey"))
      .select(col("gen"), expr("o_orderkey div 100").as("feed"),
        struct(
          concat(lit("e"), lpad(col("o_orderkey"), 12, "0")),
          concat(lit("t"), col("o_orderkey")),
          concat(lit("R"), pmod(col("o_orderkey"), lit(11))),
          date_format(col("o_orderdate"), "yyyyMMdd"),
          pmod(col("o_orderkey"), lit(2)).cast("long"),
          col("stops")).as("ent"))
      .groupBy(col("gen"), col("feed"))
      .agg(sort_array(collect_list(col("ent"))).as("entities"))
      .withColumn("feed_ts", expr("1700000000L + gen * 3600 + feed"))
      .withColumn("blob", expr(
        "gtfsrt_write(named_struct('ts', feed_ts, " +
          "'entities', entities))"))
      .select(col("gen"), col("feed"), col("feed_ts"), col("blob"))
  }

  /** `.jsonl.zst` shard FILES: ~50-doc shards serialized as JSON
    * lines, zstd-framed (zstd-jni — the independent compressor),
    * written as real files from the executors (Spark has no raw-blob
    * sink; the per-partition file writer is the executor-side
    * equivalent of a cluster's FileSystem.create loop), then
    * re-ingested via binaryFile → OUR from-scratch zstd decode →
    * line split → JSON parse — the corpus_zst_ingest body, public
    * so ScaleProbe can ride it. Returns (doc_id, n_bytes,
    * text_out). */
  def zstIngest(docsDf: DataFrame): DataFrame = {
    val s = docsDf.sparkSession
    val shards = docsDf
      .withColumn("shard", expr("doc_id div 50"))
      .groupBy(col("shard"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("text"))))
        .as("ds"))
      .withColumn("blob", expr("zstd_write(CAST(aggregate(ds, '', " +
        "(acc, d) -> concat(acc, to_json(d), '\\n')) AS BINARY))"))
      .select(col("shard"), col("blob"))
    val outDir = graft.Engine.sharedDir(s,
      graft.Engine.planToken(docsDf, extra = "zst_ingest")) { d =>
      shards.foreachPartition {
        (it: Iterator[org.apache.spark.sql.Row]) =>
          it.foreach { r =>
            java.nio.file.Files.write(
              java.nio.file.Paths.get(d,
                f"shard-${r.getLong(0)}%06d.jsonl.zst"),
              r.getAs[Array[Byte]](1))
          }
      }
    }
    s.read.format("binaryFile")
      .option("pathGlobFilter", "*.jsonl.zst").load(outDir)
      .select(explode(split(expr(
        "CAST(zstd_read(content) AS STRING)"), "\n")).as("line"))
      .where(length(col("line")) > 0)
      .select(from_json(col("line"),
        org.apache.spark.sql.types.StructType.fromDDL(
          "doc_id BIGINT, text STRING")).as("j"))
      .select(col("j.doc_id").as("doc_id"),
        octet_length(col("j.text")).cast("long").as("n_bytes"),
        col("j.text").as("text_out"))
      .orderBy(col("doc_id"))
  }

  /** tukaani-xz compress (preset 6, CRC-64 — the reference Java
    * implementation as the in-plan adversary) → our from-scratch
    * XZ/LZMA2/LZMA decoder, per doc — the mm_xz_roundtrip body,
    * public so ScaleProbe can ride it. Returns (doc_id, n_bytes,
    * text_out). */
  def xzRoundtrip(docsDf: DataFrame): DataFrame = {
    // widenScan: the per-row codec work otherwise pipelines into the
    // 1-split local scan and runs single-core (Engine.widenScan)
    graft.Engine.widenScan(docsDf)
      .withColumn("fr", expr("xz_write(CAST(text AS BINARY))"))
      .withColumn("dec", expr("xz_read(fr)"))
      .select(col("doc_id"),
        octet_length(col("dec")).cast("long").as("n_bytes"),
        col("dec").cast("string").as("text_out"))
      .orderBy(col("doc_id"))
  }

  /** WebDataset-layout shards: ustar archives holding TWO members
    * per sample (`<id>.txt` payload + `<id>.json` sidecar built with
    * explicit concat so both engines agree byte-for-byte), walked
    * back by `tar_list` and RE-PAIRED by stem — the sample-grouping
    * operator every WebDataset loader runs — the corpus_webdataset
    * body, public so ScaleProbe can ride it. Returns (shard, doc_id,
    * n_members, txt_sum, json_size). */
  def webdatasetRoundtrip(docsDf: DataFrame): DataFrame = {
    docsDf
      .withColumn("shard", expr("doc_id div 50"))
      .groupBy(col("shard"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("text"))))
        .as("ds"))
      .withColumn("tar", expr("tar_write(flatten(transform(ds, " +
        "d -> array(" +
        "struct(concat(d.doc_id, '.txt') AS name, " +
        "CAST(d.text AS BINARY) AS payload), " +
        "struct(concat(d.doc_id, '.json') AS name, " +
        "CAST(concat('{\"id\":', d.doc_id, ',\"n\":', " +
        "octet_length(CAST(d.text AS BINARY)), '}') AS BINARY) " +
        "AS payload)))))"))
      .select(col("shard"),
        explode(expr("tar_list(tar)")).as("m"))
      .where(col("m.cksum_ok"))
      .withColumn("stem",
        expr("CAST(split(m.name, '\\\\.')[0] AS BIGINT)"))
      .withColumn("ext", expr("split(m.name, '\\\\.')[1]"))
      .withColumn("doc_id", col("stem"))
      .groupBy(col("shard"), col("doc_id"))
      .agg(count(lit(1)).as("n_members"),
        sum(when(col("ext") === "txt", col("m.payload_sum"))
          .otherwise(lit(0L))).as("txt_sum"),
        sum(when(col("ext") === "json", col("m.size"))
          .otherwise(lit(0L))).as("json_size"))
      .orderBy(col("shard"), col("doc_id"))
  }

  /** Per-doc MPEG1-Layer-III files synthesized IN SQL — an ID3v2.3
    * tag (syncsafe size, one TIT2 frame) plus 3-7 audio frames with
    * doc-varying bitrate/sample-rate indices and ALTERNATING padding
    * bits, so the frame-length formula genuinely binds — walked by
    * `mp3_frames` — the mm_mp3_frames body, public so ScaleProbe can
    * ride it. Returns (doc_id, id3_size, id3_frames, n_frames,
    * total_samples, sample_rate, sum_frame_bytes). */
  def mp3Walk(docsDf: DataFrame): DataFrame = {
    docsDf
      .withColumn("title", concat(lit("doc "), col("doc_id")))
      .withColumn("tlen", length(col("title")).cast("long"))
      .withColumn("brx", expr("1 + CAST(doc_id % 14 AS INT)"))
      .withColumn("srx", expr("CAST(doc_id % 3 AS INT)"))
      .withColumn("nf", expr("3 + CAST(doc_id % 5 AS INT)"))
      .withColumn("br", expr("element_at(array(32, 40, 48, 56, 64, " +
        "80, 96, 112, 128, 160, 192, 224, 256, 320), brx)"))
      .withColumn("sr", expr(
        "element_at(array(44100, 48000, 32000), srx + 1)"))
      .withColumn("base", expr("(144 * br * 1000) div sr"))
      .withColumn("tag", expr("concat('494433', '0300', '00', " +
        "'000000', lpad(hex(11 + tlen), 2, '0'), " +
        "'54495432', lpad(hex(1 + tlen), 8, '0'), '0000', '00', " +
        "hex(title))"))
      .withColumn("frames", expr("aggregate(sequence(0, nf - 1), " +
        "'', (acc, i) -> concat(acc, 'FFFB', " +
        "lpad(hex(brx * 16 + srx * 4 + (i % 2) * 2), 2, '0'), 'C0', " +
        "repeat('00', CAST(base + i % 2 AS INT) - 4)))"))
      .withColumn("m", expr("mp3_frames(unhex(concat(tag, frames)))"))
      .select(col("doc_id"),
        col("m.id3_size").as("id3_size"),
        col("m.id3_frames").as("id3_frames"),
        col("m.n_frames").as("n_frames"),
        col("m.total_samples").as("total_samples"),
        col("m.sample_rate").as("sample_rate"),
        col("m.sum_frame_bytes").as("sum_frame_bytes"))
      .orderBy(col("doc_id"))
  }

  /** Real FLAC ENCODE per doc (fixed predictors 0-2 chosen by
    * residual magnitude, exact-cost Rice parameters, CRC-8/16, MD5
    * in STREAMINFO; doc bytes as signed 8-bit mono PCM) → the full
    * `flac_decode` (every CRC and the whole-stream MD5 recomputed)
    * — the mm_flac_write body, public so ScaleProbe can ride it.
    * Returns (doc_id, ok, n_frames, n_samples, first_sample,
    * sum_samples, last_sample). */
  def flacWriteRoundtrip(docsDf: DataFrame): DataFrame = {
    // widenScan: the per-row codec work otherwise pipelines into the
    // 1-split local scan and runs single-core (Engine.widenScan)
    graft.Engine.widenScan(docsDf)
      .withColumn("n", octet_length(col("text")).cast("long"))
      .where(col("n") > 0)
      .withColumn("d", expr(
        "flac_decode(flac_write(CAST(text AS BINARY)))"))
      .select(col("doc_id"),
        element_at(col("d"), 1).as("ok"),
        element_at(col("d"), 2).as("n_frames"),
        element_at(col("d"), 3).as("n_samples"),
        element_at(col("d"), 7).as("first_sample"),
        element_at(col("d"), 8).as("sum_samples"),
        element_at(col("d"), 9).as("last_sample"))
      .orderBy(col("doc_id"))
  }

  /** Constant-subframe mono 8-bit FLAC per doc (CRC-16 via GF(2)
    * linearity against the decoder's own table) → full `flac_decode`
    * — the mm_decode_flac body, public so ScaleProbe can ride it.
    * Returns (doc_id, ok, n_frames, n_samples, channels, bps,
    * sample_rate, first_sample, sum_samples, last_sample). */
  def flacRoundtrip(docsDf: DataFrame): DataFrame = {
    import graft.functions.FlacDecode.{crc16, crc8}
    // frame header: sync+0+fixed-blocking, bs=1024 (code 10),
    // rate=44100 (code 9), mono, bps=8 (code 1), frame 0
    val hdr = Array(0xff, 0xf8, (10 << 4) | 9, 1 << 1, 0x00)
      .map(_.toByte)
    val framePre = hdr ++ Array(crc8(hdr, 0, hdr.length).toByte,
      0x00.toByte) // header CRC-8, then CONSTANT subframe header
    val k0 = crc16(framePre ++ Array(0x00.toByte), 0,
      framePre.length + 1)
    // STREAMINFO: min/max bs 1024, fs unknown, 44100/1ch/8bps,
    // total 1024 samples — and the MD5 of the decoded samples is
    // DECLARED (per-value 16-byte digest of 1024 copies of v,
    // precomputed into a 256-entry table), so the decoder's
    // whole-stream MD5 verification runs inside the gate too
    val siPre = Array(0x04, 0x00, 0x04, 0x00, 0, 0, 0, 0, 0, 0,
      0x0a, 0xc4, 0x40, 0x70, 0x00, 0x00, 0x04, 0x00)
    val md5Tab = (0 until 256).map { v =>
      val dig = java.security.MessageDigest.getInstance("MD5")
      dig.update(Array.fill(1024)(v.toByte))
      dig.digest().map(b => f"${b & 0xff}%02X").mkString
    }
    val preHex = ("fLaC".getBytes("US-ASCII").map(_.toInt) ++
      Array(0x80, 0, 0, 34) ++ siPre).map(b => f"${b & 0xff}%02X")
      .mkString
    val frameHex = framePre.map(b => f"${b & 0xff}%02X").mkString
    docsDf
      .withColumn("v", expr("pmod(doc_id * 37, 256)"))
      .withColumn("crc", expr(s"$k0 ^ element_at(" +
        s"${graft.functions.FlacDecode.crc16TabSql}, " +
        "CAST(v AS INT) + 1)"))
      .withColumn("d", expr(s"flac_decode(unhex(concat(" +
        s"'$preHex', " +
        md5Tab.mkString("element_at(array('", "', '", "'), " +
          "CAST(v AS INT) + 1), ") +
        s"'$frameHex', lpad(hex(v), 2, '0'), " +
        "lpad(hex(crc), 4, '0'))))"))
      .select(col("doc_id"),
        element_at(col("d"), 1).as("ok"),
        element_at(col("d"), 2).as("n_frames"),
        element_at(col("d"), 3).as("n_samples"),
        element_at(col("d"), 4).as("channels"),
        element_at(col("d"), 5).as("bps"),
        element_at(col("d"), 6).as("sample_rate"),
        element_at(col("d"), 7).as("first_sample"),
        element_at(col("d"), 8).as("sum_samples"),
        element_at(col("d"), 9).as("last_sample"))
      .orderBy(col("doc_id"))
  }

  /** The Rice/fixed-predictor sibling of [[flacRoundtrip]] — the
    * mm_decode_flac_rice body, public so ScaleProbe can ride it. A
    * mono 8-bit FIXED order-1 frame whose 191 residuals are all the
    * constant delta 1 (zigzag 2, Rice parameter 1 → the 3-bit pattern
    * 010 each), so the whole Rice-coded residual section is a
    * CONSTANT bit string and only the warm-up sample byte varies per
    * doc. Decoded samples are the closed form s_i = s0 + i. The
    * varying byte sits mid-frame, so its CRC-16 contribution is
    * precomputed per value as crc16([v] ++ zeros(tail)) — GF(2)
    * linearity again, now with a nonzero tail. The gate therefore
    * proves the REAL Rice decode loop (unary quotient + remainder +
    * zigzag) and the order-1 reconstruction, not just the constant
    * subframe path. Returns the same 10 columns as
    * [[flacRoundtrip]]. */
  def flacRiceRoundtrip(docsDf: DataFrame): DataFrame = {
    import graft.functions.FlacDecode.{crc16, crc8}
    // frame header: bs=192 (code 1), rate 44100 (code 9), mono,
    // bps 8 (code 1), frame 0
    val hdr = Array(0xff, 0xf8, (1 << 4) | 9, 1 << 1, 0x00)
      .map(_.toByte)
    val pre = hdr ++ Array(crc8(hdr, 0, hdr.length).toByte,
      0x12.toByte) // header CRC-8, subframe header: FIXED order 1
    // after the warm-up byte: method 00, partition order 0000,
    // rice param 0001, then 191 x "010", zero-padded to a byte edge
    val bits = new StringBuilder("0000000001")
    var i = 0
    while (i < 191) { bits.append("010"); i += 1 }
    while (bits.length % 8 != 0) bits.append('0')
    val tail = bits.toString.grouped(8)
      .map(s => Integer.parseInt(s, 2).toByte).toArray
    val k0 = crc16(pre ++ Array(0x00.toByte) ++ tail, 0,
      pre.length + 1 + tail.length)
    val contrib = (0 until 256).map { v =>
      crc16(Array(v.toByte) ++ new Array[Byte](tail.length), 0,
        1 + tail.length)
    }
    // STREAMINFO: min/max bs 192, fs unknown, 44100/1ch/8bps,
    // total 192 samples, md5 zeros
    val si = Array(0x00, 0xc0, 0x00, 0xc0, 0, 0, 0, 0, 0, 0,
      0x0a, 0xc4, 0x40, 0x70, 0x00, 0x00, 0x00, 0xc0) ++
      Array.fill(16)(0)
    val prefix = ("fLaC".getBytes("US-ASCII").map(_.toInt) ++
      Array(0x80, 0, 0, 34) ++ si).map(_.toByte) ++ pre
    val prefixHex = prefix.map(b => f"${b & 0xff}%02X").mkString
    val tailHex = tail.map(b => f"${b & 0xff}%02X").mkString
    docsDf
      .withColumn("v", expr("pmod(doc_id * 13, 64)"))
      .withColumn("crc", expr(s"$k0 ^ element_at(" +
        contrib.mkString("array(", ", ", ")") +
        ", CAST(v AS INT) + 128 + 1)"))
      .withColumn("d", expr("flac_decode(unhex(concat(" +
        s"'$prefixHex', lpad(hex(v + 128), 2, '0'), '$tailHex', " +
        "lpad(hex(crc), 4, '0'))))"))
      .select(col("doc_id"),
        element_at(col("d"), 1).as("ok"),
        element_at(col("d"), 2).as("n_frames"),
        element_at(col("d"), 3).as("n_samples"),
        element_at(col("d"), 4).as("channels"),
        element_at(col("d"), 5).as("bps"),
        element_at(col("d"), 6).as("sample_rate"),
        element_at(col("d"), 7).as("first_sample"),
        element_at(col("d"), 8).as("sum_samples"),
        element_at(col("d"), 9).as("last_sample"))
      .orderBy(col("doc_id"))
  }

  /** Synthesize a fully VALID GIF89a per document IN SQL (logical
    * screen descriptor, 128-entry global color table, a graphic-
    * control and a comment extension walked through their real
    * sub-block framing, image descriptor, LZW-coded pixel data split
    * across ≤3-byte sub-blocks) and decode it back through
    * [[graft.functions.GifDecode]] — the mm_decode_gif body, public
    * so ScaleProbe can ride it.
    *
    * The synthesized stream is the CLEAR-then-literals LZW form
    * (min-code 7 ⇒ every code is exactly one 8-bit byte for up to
    * 126 pixels — valid output any decoder must accept), which keeps
    * the synthesis pure hex-concat SQL; the decoder itself is the
    * full variable-width algorithm, and its dictionary/KwKwK/width-
    * growth paths are exercised in GifSpec against a real test-side
    * LZW compressor. Returns (doc_id, fmt_ok, width, height, gct_n,
    * palette_sum, n_px, sum_idx, first_idx, last_idx). */
  def gifRoundtrip(docsDf: DataFrame): DataFrame = {
    // palette entry i = (i, 255-i, 7i mod 256): readable back as a
    // pure-integer palette_sum, so the gate proves the color table
    // bytes were genuinely consumed
    val palette = "concat_ws('', transform(sequence(0, 127), i -> " +
      "concat(lpad(hex(i), 2, '0'), lpad(hex(255 - i), 2, '0'), " +
      "lpad(hex(i * 7 % 256), 2, '0'))))"
    val pxHex = "concat_ws('', transform(sequence(0, w * h - 1), j -> " +
      "lpad(hex(CAST(conv(substr(ph, 2 * j + 1, 2), 16, 10) AS BIGINT) " +
      "% 128), 2, '0')))"
    // widenScan: per-row synth+decode over a 1-split scan (Engine.widenScan)
    graft.Engine.widenScan(docsDf)
      .withColumn("w", col("doc_id") % 3 + 2)
      .withColumn("h", col("doc_id") % 2 + 2)
      .withColumn("ph", sha2(col("text"), 256))
      // codes: CLEAR(0x80), one literal byte per pixel, END(0x81) —
      // dict grows 130..141, far below the 256 width-bump threshold
      .withColumn("codehex", expr(s"concat('80', $pxHex, '81')"))
      .withColumn("cl", expr("w * h + 2"))
      // re-chunk into 3-byte sub-blocks: len byte + payload, then 0
      .withColumn("subbed", expr(
        "concat(concat_ws('', transform(sequence(0, (cl + 2) div 3 - 1), " +
          "k -> concat(lpad(hex(least(3, cl - 3 * k)), 2, '0'), " +
          "substr(codehex, 6 * k + 1, 6)))), '00')"))
      .withColumn("gif", expr(
        s"""concat('474946383961', ${leHex("w", 2)}, ${leHex("h", 2)},
           'F60000', $palette,
           '21F9040000000000', '21FE03676966' || '00',
           '2C', '00000000', ${leHex("w", 2)}, ${leHex("h", 2)}, '00',
           '07', subbed, '3B')""".stripMargin.replaceAll("\n\\s*", " ")))
      .withColumn("d", expr("gif_decode(unhex(gif))"))
      .select(col("doc_id"),
        element_at(col("d"), 1).as("fmt_ok"),
        element_at(col("d"), 2).as("width"),
        element_at(col("d"), 3).as("height"),
        element_at(col("d"), 4).as("gct_n"),
        element_at(col("d"), 5).as("palette_sum"),
        element_at(col("d"), 6).as("n_px"),
        element_at(col("d"), 7).as("sum_idx"),
        element_at(col("d"), 8).as("first_idx"),
        element_at(col("d"), 9).as("last_idx"))
  }

  /** Synthesize a fully VALID ANIMATED GIF89a per document IN SQL —
    * 2-3 frames, each a GCE (with a real per-frame delay) + image
    * descriptor (own left/top/w like a delta-encoded animation) +
    * LZW data in ≤3-byte sub-blocks over one global color table —
    * and walk every frame back through
    * [[graft.functions.GifFrames]]: the real-bytes frame-sampling
    * stage (the honest-fake mm_frames stands in for codec video;
    * this is genuine end-to-end). The mm_gif_frames body, public so
    * ScaleProbe can ride it. */
  def gifFramesRoundtrip(docsDf: DataFrame): DataFrame = {
    val palette = "concat_ws('', transform(sequence(0, 127), i -> " +
      "concat(lpad(hex(i), 2, '0'), lpad(hex(255 - i), 2, '0'), " +
      "lpad(hex(i * 7 % 256), 2, '0'))))"
    val wf = "((doc_id + f) % 2 + 2)" // per-frame width 2..3, height 2
    val npx = s"($wf * 2)"
    val pxj = "CAST(conv(substr(ph, 2 * ((f * 8 + j) % 32) + 1, 2), " +
      "16, 10) AS BIGINT) % 128"
    val code = s"concat('80', concat_ws('', transform(" +
      s"sequence(0, $npx - 1), j -> lpad(hex($pxj), 2, '0'))), '81')"
    val cl = s"($npx + 2)"
    val sub = s"concat(concat_ws('', transform(" +
      s"sequence(0, ($cl + 2) div 3 - 1), k2 -> concat(" +
      s"lpad(hex(least(3, $cl - 3 * k2)), 2, '0'), " +
      s"substr($code, 6 * k2 + 1, 6)))), '00')"
    val fb = s"concat('21F904', '00', ${leHex("f", 2)}, '00', '00', " +
      s"'2C', ${leHex("f", 2)}, ${leHex("f * 2", 2)}, " +
      s"${leHex(wf, 2)}, ${leHex("2", 2)}, '00', '07', $sub)"
    // widenScan: per-row synth+decode over a 1-split scan (Engine.widenScan)
    graft.Engine.widenScan(docsDf)
      .withColumn("nf", col("doc_id") % 2 + 2)
      .withColumn("ph", sha2(col("text"), 256))
      .withColumn("gif", expr(
        s"concat('474946383961', ${leHex("3", 2)}, ${leHex("2", 2)}, " +
          s"'F60000', $palette, " +
          s"concat_ws('', transform(sequence(0, nf - 1), f -> $fb)), " +
          "'3B')"))
      .withColumn("fr", explode(expr("gif_frames(unhex(gif))")))
      .select(col("doc_id"), col("fr.frame").as("frame"),
        col("fr.left").as("left_px"), col("fr.top").as("top_px"),
        col("fr.w").as("w"), col("fr.h").as("h"),
        col("fr.n_px").as("n_px"), col("fr.sum_idx").as("sum_idx"),
        col("fr.first_idx").as("first_idx"),
        col("fr.last_idx").as("last_idx"))
  }

  /** Synthesize a fully VALID 8x8 grayscale baseline JPEG per
    * document IN SQL (JFIF APP0, flat q=16 DQT, SOF0, custom
    * canonical Huffman tables making the DC-only block a FIXED
    * 2-byte scan) and decode it back through
    * [[graft.functions.JpegDecode]] — the mm_decode_jpeg body,
    * public so ScaleProbe can ride it (the gifRoundtrip/pdfRoundtrip
    * single-source pattern: probe and gate cannot desynchronize).
    * Returns (doc_id, ok, width, height, n_blocks, sum_px, first_px,
    * last_px); with q = 16 the DC-only IDCT output is the exact
    * closed form 128 + 2·dc. */
  def jpegRoundtrip(docsDf: DataFrame): DataFrame = {
    docsDf
      .withColumn("ph", sha2(col("text"), 256))
      .withColumn("dc", expr(
        "8 + CAST(conv(substr(ph, 1, 2), 16, 10) AS BIGINT) % 8"))
      .withColumn("jpg", expr(
        "concat('FFD8', " +
          "'FFE000104A46494600010100000100010000', " +
          "'FFDB004300', repeat('10', 64), " +
          "'FFC0000B080008000801011100', " +
          "'FFC4001F00', '0000000C', repeat('00', 12), " +
          "'000102030405060708090A0B', " +
          "'FFC4001410', '01', repeat('00', 15), '00', " +
          "'FFDA0008010100003F00', " +
          "lpad(hex(64 + dc), 2, '0'), '7F', 'FFD9')"))
      .withColumn("d", expr("jpeg_decode(unhex(jpg))"))
      .select(col("doc_id"),
        element_at(col("d"), 1).as("ok"),
        element_at(col("d"), 2).as("width"),
        element_at(col("d"), 3).as("height"),
        element_at(col("d"), 4).as("n_blocks"),
        element_at(col("d"), 5).as("sum_px"),
        element_at(col("d"), 6).as("first_px"),
        element_at(col("d"), 7).as("last_px"))
  }

  /** [[jpegRoundtrip]]'s COLOR sibling: a fully valid 8x8 YCbCr
    * 4:4:4 baseline JPEG per document (three DC-only components
    * sharing the q=16 table and the fixed-length Huffman tables, so
    * the whole 27-bit scan packs into a FIXED 4-byte pattern with no
    * 0xFF possible) decoded back through
    * [[graft.functions.JpegDecodeRgb]] — per-component DC
    * prediction, then the 16-bit fixed-point YCbCr→RGB conversion.
    * Channel DCs are chosen so chroma sits ABOVE neutral (samples
    * 144..158 ⇒ positive Cr−128/Cb−128 for R/B, a genuinely negative
    * G numerator that exercises the floor shift) and no channel
    * clamps, keeping the oracle pure integer arithmetic. Returns
    * (doc_id, ok, width, height, n_blocks, sum_r, sum_g, sum_b,
    * first_rgb, last_rgb). */
  def jpegColorRoundtrip(docsDf: DataFrame): DataFrame = {
    docsDf
      .withColumn("ph", sha2(col("text"), 256))
      .withColumn("dy", expr(
        "8 + CAST(conv(substr(ph, 1, 2), 16, 10) AS BIGINT) % 8"))
      .withColumn("db", expr(
        "8 + CAST(conv(substr(ph, 3, 2), 16, 10) AS BIGINT) % 8"))
      .withColumn("dr", expr(
        "8 + CAST(conv(substr(ph, 5, 2), 16, 10) AS BIGINT) % 8"))
      // 27-bit scan: [0100 yyyy 0][0100 bbbb 0][0100 rrrr 0] + 5 pad
      // 1s, laid out byte-exact (b1 = 0x20|cb>>1 etc. — see the
      // scaladoc derivation; no byte can be 0xFF, so no stuffing)
      .withColumn("scan", expr(
        "concat(lpad(hex(64 + dy), 2, '0'), " +
          "lpad(hex(32 + (db div 2)), 2, '0'), " +
          "lpad(hex((db % 2) * 128 + 16 + (dr div 4)), 2, '0'), " +
          "lpad(hex((dr % 4) * 64 + 31), 2, '0'))"))
      .withColumn("jpg", expr(
        "concat('FFD8', " +
          "'FFE000104A46494600010100000100010000', " +
          "'FFDB004300', repeat('10', 64), " +
          "'FFC00011', '08', '0008', '0008', '03', " +
          "'011100', '021100', '031100', " +
          "'FFC4001F00', '0000000C', repeat('00', 12), " +
          "'000102030405060708090A0B', " +
          "'FFC4001410', '01', repeat('00', 15), '00', " +
          "'FFDA000C03010002000300003F00', " +
          "scan, 'FFD9')"))
      .withColumn("d", expr("jpeg_decode_rgb(unhex(jpg))"))
      .select(col("doc_id"),
        element_at(col("d"), 1).as("ok"),
        element_at(col("d"), 2).as("width"),
        element_at(col("d"), 3).as("height"),
        element_at(col("d"), 4).as("n_blocks"),
        element_at(col("d"), 5).as("sum_r"),
        element_at(col("d"), 6).as("sum_g"),
        element_at(col("d"), 7).as("sum_b"),
        element_at(col("d"), 8).as("first_rgb"),
        element_at(col("d"), 9).as("last_rgb"))
  }

  /** Synthesize a fully VALID MJPEG AVI per document IN SQL — RIFF
    * header, a minimal-but-real hdrl LIST (avih chunk), a movi LIST
    * with 2-3 `00dc` frames each carrying a complete baseline JPEG
    * (the [[jpegRoundtrip]] container with a per-frame DC), every
    * odd-sized chunk followed by its REAL even-padding byte — and
    * decode it back through `explode(avi_frames(...))` →
    * `jpeg_decode(...)`: VIDEO decode made genuinely real for the
    * MJPEG codec by composing two native expressions (the
    * mm_decode_mjpeg body, public so ScaleProbe can ride it).
    * Returns (doc_id, frame, ok, width, height, sum_px, first_px,
    * last_px). */
  def mjpegRoundtrip(docsDf: DataFrame): DataFrame = {
    // the 171-byte fixed-layout grayscale JPEG, DC from sha byte f
    val jpegHex = "concat('FFD8', " +
      "'FFE000104A46494600010100000100010000', " +
      "'FFDB004300', repeat('10', 64), " +
      "'FFC0000B080008000801011100', " +
      "'FFC4001F00', '0000000C', repeat('00', 12), " +
      "'000102030405060708090A0B', " +
      "'FFC4001410', '01', repeat('00', 15), '00', " +
      "'FFDA0008010100003F00', " +
      "lpad(hex(72 + CAST(conv(substr(ph, 2 * f + 1, 2), 16, 10) " +
      "AS BIGINT) % 8), 2, '0'), '7F', 'FFD9')"
    docsDf
      .withColumn("nf", col("doc_id") % 2 + 2)
      .withColumn("ph", sha2(col("text"), 256))
      .withColumn("avi", expr(
        // RIFF size = 4 (AVI ) + 76 (hdrl LIST) + 12 + nf*180 (movi)
        s"concat('52494646', ${leHex("92 + nf * 180", 4)}, '41564920', " +
          // LIST(68) hdrl + avih(56 zero bytes)
          "'4C495354', '44000000', '6864726C', " +
          "'61766968', '38000000', repeat('00', 56), " +
          s"'4C495354', ${leHex("4 + nf * 180", 4)}, '6D6F7669', " +
          "concat_ws('', transform(sequence(0, nf - 1), f -> " +
          // 00dc chunk: size 171 (odd) + the real padding byte
          s"concat('30306463', 'AB000000', $jpegHex, '00'))))"))
      .select(col("doc_id"),
        posexplode(expr("avi_frames(unhex(avi))")))
      .withColumnRenamed("pos", "frame")
      .withColumn("d", expr("jpeg_decode(col)"))
      .select(col("doc_id"), col("frame").cast("long").as("frame"),
        element_at(col("d"), 1).as("ok"),
        element_at(col("d"), 2).as("width"),
        element_at(col("d"), 3).as("height"),
        element_at(col("d"), 5).as("sum_px"),
        element_at(col("d"), 6).as("first_px"),
        element_at(col("d"), 7).as("last_px"))
  }

  /** Synthesize a fully VALID classic-xref PDF per document IN SQL
    * (catalog/pages/page/content objects, a correct /Length, the
    * fixed 20-byte xref records with REAL byte offsets computed by
    * length arithmetic, trailer + startxref) and extract the text
    * back through [[graft.functions.PdfText]] — the mm_pdf_text
    * body, public so ScaleProbe can ride it. The document text rides
    * inside the content stream as a `(...) Tj` literal with the PDF
    * escapes applied ( \\ \( \) ), so the round trip exercises the
    * extractor's unescape path; FlateDecode, TJ arrays, nesting and
    * the malformed classes live in PdfSpec. Returns (doc_id, ok,
    * n_objs, n_streams, n_chars, text_out). */
  def pdfRoundtrip(docsDf: DataFrame): DataFrame = {
    docsDf
      .withColumn("esc", regexp_replace(regexp_replace(regexp_replace(
        col("text"), "\\\\", "\\\\\\\\"), "\\(", "\\\\("),
        "\\)", "\\\\)"))
      .withColumn("content", concat(lit("BT /F1 12 Tf ("), col("esc"),
        lit(") Tj ET")))
      .withColumn("o1",
        lit("1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"))
      .withColumn("o2",
        lit("2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n"))
      .withColumn("o3",
        lit("3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R >> " +
          "endobj\n"))
      .withColumn("o4", concat(lit("4 0 obj << /Length "),
        octet_length(col("content")).cast("string"),
        lit(" >> stream\n"), col("content"),
        lit("\nendstream endobj\n")))
      .withColumn("off1", lit(9L))
      .withColumn("off2", col("off1") + octet_length(col("o1")))
      .withColumn("off3", col("off2") + octet_length(col("o2")))
      .withColumn("off4", col("off3") + octet_length(col("o3")))
      .withColumn("off5", col("off4") + octet_length(col("o4")))
      .withColumn("xr", concat(
        lit("xref\n0 5\n0000000000 65535 f \n"),
        lpad(col("off1").cast("string"), 10, "0"), lit(" 00000 n \n"),
        lpad(col("off2").cast("string"), 10, "0"), lit(" 00000 n \n"),
        lpad(col("off3").cast("string"), 10, "0"), lit(" 00000 n \n"),
        lpad(col("off4").cast("string"), 10, "0"), lit(" 00000 n \n"),
        lit("trailer << /Size 5 /Root 1 0 R >>\nstartxref\n"),
        col("off5").cast("string"), lit("\n%%EOF")))
      .withColumn("pdf", concat(lit("%PDF-1.4\n"), col("o1"), col("o2"),
        col("o3"), col("o4"), col("xr")))
      .withColumn("d", expr("pdf_text(CAST(pdf AS BINARY))"))
      .select(col("doc_id"), col("d.ok").as("ok"),
        col("d.n_objs").as("n_objs"),
        col("d.n_streams").as("n_streams"),
        length(col("d.text")).cast("long").as("n_chars"),
        col("d.text").as("text_out"))
  }

  /** Synthesize a fully VALID PDF **1.5** per document IN SQL — the
    * catalog/pages/page dicts compressed into one `/Type /ObjStm`
    * object (type-2 entries), the content stream as a direct object,
    * and a `/Type /XRef` CROSS-REFERENCE STREAM whose `/W [1 3 1]`
    * binary records are built byte-exact via hex/unhex with REAL
    * offsets from length arithmetic — and extract the text back
    * through [[graft.functions.PdfText]]'s 1.5 path (the r15 verdict
    * gap #1: real crawl PDFs are majority xref-stream). The member
    * dicts and the ObjStm pair table are byte-identical constants
    * folded at plan time; only the content stream and the last xref
    * row vary per row. FlateDecode'd xref records, /Prev chains and
    * the malformed classes (truncated W row, bad /Prev, short pair
    * table) live in PdfSpec. Returns (doc_id, ok, n_objs, n_streams,
    * n_chars, text_out); n_objs = 3 direct + 3 compressed, n_streams
    * = ObjStm + content + XRef carriers. */
  def pdfXrefRoundtrip(docsDf: DataFrame): DataFrame = {
    val m2 = "<< /Type /Catalog /Pages 3 0 R >>"
    val m3 = "<< /Type /Pages /Kids [4 0 R] /Count 1 >>"
    val m4 = "<< /Type /Page /Parent 3 0 R /Contents 5 0 R >>"
    val pairs = s"2 0 3 ${m2.length + 1} 4 ${m2.length + m3.length + 2} "
    val payload = pairs + m2 + " " + m3 + " " + m4
    val o1 = s"1 0 obj << /Type /ObjStm /N 3 /First ${pairs.length} " +
      s"/Length ${payload.length} >> stream\n$payload\nendstream endobj\n"
    val off1 = 9L
    val off5 = off1 + o1.length
    val o5a = "5 0 obj << /Length "
    val o5b = " >> stream\n"
    val o5c = "\nendstream endobj\n"
    val o6dict = "6 0 obj << /Type /XRef /Size 7 /W [1 3 1] " +
      "/Root 2 0 R /Length 35 >> stream\n"
    def hex6(v: Long) = f"$v%06X"
    // rows obj0..obj5 are plan-time constants; obj6 self-references
    val rowsConstHex = "0000000000" + "01" + hex6(off1) + "00" +
      "0200000100" + "0200000101" + "0200000102" + "01" + hex6(off5) + "00"
    docsDf
      .withColumn("esc", regexp_replace(regexp_replace(regexp_replace(
        col("text"), "\\\\", "\\\\\\\\"), "\\(", "\\\\("),
        "\\)", "\\\\)"))
      .withColumn("content", concat(lit("BT /F1 12 Tf ("), col("esc"),
        lit(") Tj ET")))
      .withColumn("clen", octet_length(col("content")).cast("long"))
      .withColumn("off6", lit(off5) + lit(o5a.length.toLong) +
        length(col("clen").cast("string")).cast("long") +
        lit(o5b.length.toLong) + col("clen") + lit(o5c.length.toLong))
      .withColumn("pdf", concat(
        lit(("%PDF-1.5\n" + o1 + o5a).getBytes("ISO-8859-1")),
        col("clen").cast("string").cast("binary"),
        lit(o5b.getBytes("ISO-8859-1")),
        col("content").cast("binary"),
        lit((o5c + o6dict).getBytes("ISO-8859-1")),
        unhex(concat(lit(rowsConstHex + "01"),
          lpad(hex(col("off6")), 6, "0"), lit("00"))),
        lit((o5c + "startxref\n").getBytes("ISO-8859-1")),
        col("off6").cast("string").cast("binary"),
        lit("\n%%EOF".getBytes("ISO-8859-1"))))
      .withColumn("d", expr("pdf_text(pdf)"))
      .select(col("doc_id"), col("d.ok").as("ok"),
        col("d.n_objs").as("n_objs"),
        col("d.n_streams").as("n_streams"),
        length(col("d.text")).cast("long").as("n_chars"),
        col("d.text").as("text_out"))
  }

  /** [[pdfXrefRoundtrip]]'s INCREMENTAL-UPDATE sibling: the xref is
    * split across TWO cross-reference stream sections linked by
    * `/Prev` — the shape every edited/appended real-world PDF has.
    * The older section (object 7) addresses the content stream; the
    * newest (object 6, where startxref points) addresses the ObjStm
    * + its compressed members and chains to the older via /Prev, so
    * extraction exercises the multi-section merge (newest wins per
    * object number) end-to-end, not just in specs. All section
    * layouts are length arithmetic; /Prev and startxref are decimal
    * columns, the W-packed rows byte-exact hex. n_objs = 4 direct
    * (ObjStm, content, both XRef sections) + 3 compressed. */
  def pdfXrefPrevRoundtrip(docsDf: DataFrame): DataFrame = {
    val m2 = "<< /Type /Catalog /Pages 3 0 R >>"
    val m3 = "<< /Type /Pages /Kids [4 0 R] /Count 1 >>"
    val m4 = "<< /Type /Page /Parent 3 0 R /Contents 5 0 R >>"
    val pairs = s"2 0 3 ${m2.length + 1} 4 ${m2.length + m3.length + 2} "
    val payload = pairs + m2 + " " + m3 + " " + m4
    val o1 = s"1 0 obj << /Type /ObjStm /N 3 /First ${pairs.length} " +
      s"/Length ${payload.length} >> stream\n$payload\nendstream endobj\n"
    val off1 = 9L
    val off5 = off1 + o1.length // content stream offset — constant
    val o5a = "5 0 obj << /Length "
    val o5b = " >> stream\n"
    val tail = "\nendstream endobj\n"
    val o7dict = "7 0 obj << /Type /XRef /Size 8 /W [1 3 1] " +
      "/Root 2 0 R /Index [0 1 5 1 7 1] /Length 15 >> stream\n"
    val o7len = o7dict.length + 15 + tail.length // constant
    val o6pre = "6 0 obj << /Type /XRef /Size 8 /W [1 3 1] " +
      "/Root 2 0 R /Index [1 4 6 1] /Prev "
    val o6post = " /Length 25 >> stream\n"
    def hex6(v: Long) = f"$v%06X"
    docsDf
      .withColumn("esc", regexp_replace(regexp_replace(regexp_replace(
        col("text"), "\\\\", "\\\\\\\\"), "\\(", "\\\\("),
        "\\)", "\\\\)"))
      .withColumn("content", concat(lit("BT /F1 12 Tf ("), col("esc"),
        lit(") Tj ET")))
      .withColumn("clen", octet_length(col("content")).cast("long"))
      .withColumn("offB", lit(off5 + o5a.length) +
        length(col("clen").cast("string")).cast("long") +
        lit(o5b.length.toLong) + col("clen") + lit(tail.length.toLong))
      .withColumn("offA", col("offB") + lit(o7len.toLong))
      .withColumn("pdf", concat(
        lit(("%PDF-1.5\n" + o1 + o5a).getBytes("ISO-8859-1")),
        col("clen").cast("string").cast("binary"),
        lit(o5b.getBytes("ISO-8859-1")),
        col("content").cast("binary"),
        lit((tail + o7dict).getBytes("ISO-8859-1")),
        // older rows: obj0 free, obj5 (constant offset), obj7 self
        unhex(concat(lit("0000000000" + "01" + hex6(off5) + "00" + "01"),
          lpad(hex(col("offB")), 6, "0"), lit("00"))),
        lit((tail + o6pre).getBytes("ISO-8859-1")),
        col("offB").cast("string").cast("binary"),
        lit(o6post.getBytes("ISO-8859-1")),
        // newest rows: obj1 ObjStm, obj2-4 compressed, obj6 self
        unhex(concat(lit("01" + hex6(off1) + "00" +
          "0200000100" + "0200000101" + "0200000102" + "01"),
          lpad(hex(col("offA")), 6, "0"), lit("00"))),
        lit((tail + "startxref\n").getBytes("ISO-8859-1")),
        col("offA").cast("string").cast("binary"),
        lit("\n%%EOF".getBytes("ISO-8859-1"))))
      .withColumn("d", expr("pdf_text(pdf)"))
      .select(col("doc_id"), col("d.ok").as("ok"),
        col("d.n_objs").as("n_objs"),
        col("d.n_streams").as("n_streams"),
        length(col("d.text")).cast("long").as("n_chars"),
        col("d.text").as("text_out"))
  }

  /** Synthesize a valid single-member STORED zip per document IN SQL
    * (real little-endian fields via [[leHex]], real CRC-32 via the
    * crc32 built-in) and walk it back through
    * [[graft.functions.ZipList]] — the mm_zip_member body, public so
    * ScaleProbe can ride it. Returns (doc_id, name, method, size,
    * crc_ok, payload_sum). */
  def zipRoundtrip(docsDf: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, concat, explode,
      expr, length, lit, octet_length}
    docsDf
      .withColumn("nm", concat(lit("doc_"), col("doc_id"), lit(".txt")))
      .withColumn("n", octet_length(col("text")).cast("long"))
      .withColumn("nl", length(col("nm")).cast("long"))
      .withColumn("crc", expr("crc32(CAST(text AS BINARY))"))
      // LFH: sig, ver-needed 10, flags 0, method 0 (stored),
      // time/date 0, crc, csize, usize, nlen, xlen 0, name, data
      .withColumn("lfh", expr(
        "concat('504B0304', '0A00', '0000', '0000', " +
          "'0000', '0000', " +
          s"${leHex("crc", 4)}, ${leHex("n", 4)}, " +
          s"${leHex("n", 4)}, ${leHex("nl", 2)}, '0000', " +
          "hex(nm), hex(text))"))
      // CDFH: sig, made-by 20, ver-needed 10, flags, method, time,
      // date, crc, csize, usize, nlen, xlen, clen, disk, int-attr,
      // ext-attr, LFH offset 0, name
      .withColumn("cdfh", expr(
        "concat('504B0102', '1400', '0A00', '0000', '0000', " +
          "'0000', '0000', " +
          s"${leHex("crc", 4)}, ${leHex("n", 4)}, " +
          s"${leHex("n", 4)}, ${leHex("nl", 2)}, " +
          "'0000', '0000', '0000', '0000', '00000000', " +
          "'00000000', hex(nm))"))
      // EOCD: sig, disk 0, cd-disk 0, entries 1/1, cd size,
      // cd offset, comment len 0
      .withColumn("eocd", expr(
        "concat('504B0506', '0000', '0000', '0100', '0100', " +
          s"${leHex("46 + nl", 4)}, ${leHex("30 + nl + n", 4)}, " +
          "'0000')"))
      .withColumn("m", explode(expr(
        "zip_list(unhex(concat(lfh, cdfh, eocd)))")))
      .select(col("doc_id"), col("m.name").as("name"),
        col("m.method").as("method"), col("m.size").as("size"),
        col("m.crc_ok").as("crc_ok"),
        col("m.payload_sum").as("payload_sum"))
      .orderBy(col("doc_id"))
  }

  val queries: Map[String, Q] = Map(

    // ── decode-stub: bytes → typed metadata/features ────────────────
    // width/height from header bytes, mean byte value as the "feature"
    // (DETERMINISTIC FAKE decode — replace with a codec at deploy).
    "mm_decode" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        withBlob(docs(s, dir))
          .withColumn("h", hex($"img")) // 64 hex chars = 32 bytes
          .select(
            $"doc_id",
            length($"img").as("n_bytes"),
            // header-derived fake dimensions
            (expr("CAST(conv(substr(h, 1, 2), 16, 10) AS BIGINT)") % 8 + 1)
              .as("width"),
            (expr("CAST(conv(substr(h, 3, 2), 16, 10) AS BIGINT)") % 8 + 1)
              .as("height"),
            // mean byte value ×100 as exact integer (fake feature) —
            // native byte fold (ByteFoldSpec pins ≡ the hex HOF form)
            (expr("byte_window_fold(img, 32, 'sum')[0]") * 100 / 32)
              .cast("long").as("mean_byte_x100"),
            $"h".as("payload_hex"))
          .orderBy($"doc_id")
      },
      oracle = Some("""
        WITH b AS (SELECT doc_id, sha256(text) AS h FROM documents)
        SELECT doc_id,
               octet_length(unhex(h)) AS n_bytes,
               ('0x' || substr(h, 1, 2))::BIGINT % 8 + 1 AS width,
               ('0x' || substr(h, 3, 2))::BIGINT % 8 + 1 AS height,
               CAST(list_sum(list_transform(range(0, 32),
                 i -> ('0x' || substr(h, 2 * i + 1, 2))::BIGINT)) * 100 // 32
                 AS BIGINT) AS mean_byte_x100,
               upper(h) AS payload_hex
        FROM b ORDER BY doc_id"""),
      desc = "binary decode stub: blob → typed metadata + feature"),

    // ── resize: box-filter downsample of the payload ────────────────
    // The image-resize shape: the 32-byte payload is treated as a
    // 1×32 "image" and box-filtered down to 8 blocks, each block the
    // floored mean of its 4 bytes — exactly what a codec's
    // area-average resize does per channel. Per-block rows (like
    // mm_frames) keep the output scalar-typed for the oracle compare.
    "mm_resize" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        withBlob(docs(s, dir))
          .select($"doc_id",
            posexplode(expr("byte_window_fold(img, 4, 'sum')"))
              .as(Seq("block_idx", "bsum")))
          .select($"doc_id", $"block_idx", expr("bsum div 4").as("px"))
          .orderBy($"doc_id", $"block_idx")
      },
      oracle = Some("""
        WITH b AS (SELECT doc_id, upper(sha256(text)) AS h FROM documents)
        SELECT doc_id, r.b AS block_idx,
               (('0x' || substr(h, 8 * r.b + 1, 2))::BIGINT
              + ('0x' || substr(h, 8 * r.b + 3, 2))::BIGINT
              + ('0x' || substr(h, 8 * r.b + 5, 2))::BIGINT
              + ('0x' || substr(h, 8 * r.b + 7, 2))::BIGINT) // 4 AS px
        FROM b CROSS JOIN range(0, 8) r(b)
        ORDER BY doc_id, block_idx"""),
      desc = "resize: box-filter downsample (floored 4-byte block means)"),

    // ── frame sampling: split payload into fixed-size frames ────────
    // (video frame-sample shape: generator explode over byte ranges).
    "mm_frames" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        withBlob(docs(s, dir))
          .withColumn("h", hex($"img"))
          .select($"doc_id", $"h",
            posexplode(expr(
              "transform(sequence(0, 3), f -> substr(h, f * 16 + 1, 16))"))
              .as(Seq("frame_idx", "frame_hex")))
          .select(
            $"doc_id", $"frame_idx", $"frame_hex",
            // 48-bit frame checksum (12 hex chars — stays in BIGINT)
            expr("CAST(conv(substr(frame_hex, 1, 12), 16, 10) AS BIGINT)")
              .as("frame_checksum"))
          .orderBy($"doc_id", $"frame_idx")
      },
      oracle = Some("""
        WITH b AS (SELECT doc_id, upper(sha256(text)) AS h FROM documents),
        f AS (SELECT doc_id, unnest(range(0, 4)) AS frame_idx, h FROM b)
        SELECT doc_id, frame_idx,
               substr(h, frame_idx * 16 + 1, 16) AS frame_hex,
               ('0x' || substr(h, frame_idx * 16 + 1, 12))::BIGINT
                 AS frame_checksum
        FROM f ORDER BY doc_id, frame_idx"""),
      desc = "frame sampling: binary payload → per-frame rows + checksums"),

    // ── perceptual-hash image near-dup (the multimodal dedup axis) ──
    // Average-hash (the pHash family's portable member: bit i = byte i
    // ≥ mean byte) over the decoded payload, then a BANDED Hamming
    // join: 4 bands of 8 bits — by pigeonhole, hamming ≤ 2 leaves ≥ 2
    // bands identical, so equality on a PAIR of bands (6 pair keys,
    // 16 effective bits) is the candidate generator (never an
    // all-pairs image product) and bit_count(xor) ≤ 2 is the exact
    // verify. Each image also appears as a "re-encoded"
    // variant (first byte perturbed — the codec-jitter stand-in), so
    // nonzero hamming matches are genuinely exercised, not just
    // hash-equal payloads. A 1024-instance band-bucket flood cap
    // (the simhash rule) keeps identical-hash floods — blank images —
    // from going quadratic; exact dedup owns those upstream.
    "dedup_phash" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        val base = withBlob(docs(s, dir)).withColumn("h", hex($"img"))
        // two instances per image: original and the perturbed variant
        val inst = base.select($"doc_id", explode(array(
            struct((($"doc_id" * 2L)).as("img_id"), $"h".as("hh")),
            struct((($"doc_id" * 2L + 1L)).as("img_id"),
              concat(upper(expr(
                "lpad(conv(CAST(conv(substr(h, 1, 2), 16, 10) AS BIGINT)" +
                  " ^ 1, 10, 16), 2, '0')")),
                substring($"h", 3, 100000)).as("hh")))).as("x"))
          .select($"x.img_id".as("img_id"), $"x.hh".as("hh"))
        // materialized: the (img_id, ah) frame is two longs per image
        // while its LINEAGE is the hashing pipeline — the band explode
        // and the self-join both read it, and without the pin each
        // side of the join re-runs the hashing (measured ~2× on the
        // query, PERF.md round 7). The hash itself is the native
        // codegen AHash64 over the bytes: the composed form (two
        // 32-element HOF folds of conv(substr(hex)) per row) ran 64
        // interpreted lambda frames + string slices per instance and
        // dominated the query (PERF.md round 9; the HilbertD lesson
        // class — AHashSpec pins bit-identity with the composed form,
        // and the DuckDB oracle still replays the hex arithmetic).
        val hashed = graft.Engine.materialize(
          inst.select($"img_id", expr("ahash64(unhex(hh))").as("ah")),
          key = "img_id", name = "phash_hashed")
        // candidate key = a PAIR of identical bands (multi-index
        // Hamming, Norouzi et al.): hamming ≤ 2 leaves ≥ 2 of the 4
        // bands untouched, so some pair of bands matches exactly —
        // a 16-bit effective key, 256× fewer collisions than single
        // 8-bit bands (measured 5.7 → see PERF.md; single bands make
        // candidate volume ~n²/512, quadratic-by-stats)
        val banded = hashed.select($"img_id", $"ah",
            explode(expr(
              """transform(array(struct(0 AS k1, 1 AS k2),
                 struct(0 AS k1, 2 AS k2), struct(0 AS k1, 3 AS k2),
                 struct(1 AS k1, 2 AS k2), struct(1 AS k1, 3 AS k2),
                 struct(2 AS k1, 3 AS k2)), p ->
                 struct(p.k1 AS k1, p.k2 AS k2,
                        shiftright(ah, 8 * p.k1) & 255 AS v1,
                        shiftright(ah, 8 * p.k2) & 255 AS v2))"""))
              .as("b"))
          .select($"img_id", $"ah", $"b.k1".as("k1"), $"b.k2".as("k2"),
            $"b.v1".as("v1"), $"b.v2".as("v2"))
        val capped = banded.withColumn("bucket_n",
            count(lit(1)).over(org.apache.spark.sql.expressions.Window
              .partitionBy($"k1", $"k2", $"v1", $"v2")))
          .filter($"bucket_n" <= 1024)
        val pairs = capped.select($"k1", $"k2", $"v1", $"v2",
            $"img_id".as("img_a"), $"ah".as("ah_a"))
          .join(capped.select($"k1", $"k2", $"v1", $"v2",
            $"img_id".as("img_b"), $"ah".as("ah_b")),
            Seq("k1", "k2", "v1", "v2"))
          .filter($"img_a" < $"img_b")
          .select($"img_a", $"img_b", $"ah_a", $"ah_b").distinct()
          .withColumn("hamming",
            bit_count($"ah_a".bitwiseXOR($"ah_b")).cast("long"))
          .filter($"hamming" <= 2)
        pairs
          .select($"img_a", $"img_b", $"hamming",
            (expr("img_a div 2") === expr("img_b div 2")).as("same_doc"))
          .orderBy($"img_a", $"img_b")
      },
      oracle = Some("""
        WITH ph_b AS (
          SELECT doc_id, upper(sha256(text)) AS h FROM documents),
        ph_i AS (
          SELECT doc_id * 2 AS img_id, h AS hh FROM ph_b
          UNION ALL
          SELECT doc_id * 2 + 1,
                 upper(lpad(to_hex(xor(('0x' || substr(h, 1, 2))::BIGINT,
                   1)), 2, '0')) || substr(h, 3)
          FROM ph_b),
        ph_h AS (
          SELECT img_id,
                 list_sum(list_transform(range(0, 32), i ->
                   ('0x' || substr(hh, 2 * i + 1, 2))::BIGINT)) // 32
                   AS mean_b,
                 hh
          FROM ph_i),
        ph_a AS (
          SELECT img_id,
                 CAST(list_sum(list_transform(range(0, 32), i ->
                   CASE WHEN ('0x' || substr(hh, 2 * i + 1, 2))::BIGINT
                             >= mean_b
                        THEN 1::BIGINT << i ELSE 0 END)) AS BIGINT) AS ah
          FROM ph_h),
        ph_band AS (
          SELECT img_id, ah, p.k1, p.k2,
                 (ah >> (8 * p.k1)) & 255 AS v1,
                 (ah >> (8 * p.k2)) & 255 AS v2
          FROM ph_a CROSS JOIN (VALUES (0, 1), (0, 2), (0, 3),
            (1, 2), (1, 3), (2, 3)) p(k1, k2)),
        ph_cap AS (
          SELECT * FROM (
            SELECT *, count(*) OVER (PARTITION BY k1, k2, v1, v2)
              AS bucket_n
            FROM ph_band)
          WHERE bucket_n <= 1024),
        ph_pairs AS (
          SELECT DISTINCT a.img_id AS img_a, b.img_id AS img_b,
                 a.ah AS ah_a, b.ah AS ah_b
          FROM ph_cap a JOIN ph_cap b
            ON a.k1 = b.k1 AND a.k2 = b.k2 AND a.v1 = b.v1
           AND a.v2 = b.v2 AND a.img_id < b.img_id)
        SELECT img_a, img_b,
               CAST(bit_count(xor(ah_a, ah_b)) AS BIGINT) AS hamming,
               img_a // 2 = img_b // 2 AS same_doc
        FROM ph_pairs
        WHERE bit_count(xor(ah_a, ah_b)) <= 2
        ORDER BY img_a, img_b"""),
      desc = "image near-dup: average-hash + banded Hamming LSH + exact verify"),

    // ── audio: windowed energy + silence trim (the VAD shape) ───────
    // The audio member of the modality triplet (image = mm_decode/
    // mm_resize/dedup_phash, video = mm_frames): a 64-byte fake PCM
    // payload (two chained sha256 blocks — DuckDB ships no sha512)
    // framed into 8 windows of 8 unsigned samples; per window the
    // exact integer energy Σ(v−128)², with windows below the silence
    // threshold DROPPED — voice-activity trimming, the step an audio
    // pipeline runs before feature extraction. At 100 TB the payload
    // is a real PCM blob in the same BinaryType column, the window
    // math a codec/DSP call in the same per-partition batch shape;
    // the frame/filter/order plumbing here is the real engine work.
    "mm_audio_energy" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        docs(s, dir)
          .withColumn("h",
            concat(sha2($"text", 256), sha2(concat($"text", lit("x")), 256)))
          .select($"doc_id", posexplode(expr(
              "byte_window_fold(unhex(h), 8, 'sqdev128')"))
            .as(Seq("window_idx", "energy")))
          .filter($"energy" >= 40000L)
          .orderBy($"doc_id", $"window_idx")
      },
      oracle = Some("""
        WITH a AS (
          SELECT doc_id,
                 sha256(text) || sha256(text || 'x') AS h
          FROM documents),
        win AS (
          SELECT doc_id, w.w AS window_idx,
                 CAST(list_sum(list_transform(range(0, 8), i ->
                   (('0x' || substr(h, 16 * w.w + 2 * i + 1, 2))::BIGINT - 128)
                 * (('0x' || substr(h, 16 * w.w + 2 * i + 1, 2))::BIGINT - 128)))
                   AS BIGINT) AS energy
          FROM a CROSS JOIN range(0, 8) w(w))
        SELECT doc_id, window_idx, energy
        FROM win WHERE energy >= 40000
        ORDER BY doc_id, window_idx"""),
      desc = "audio windowed energy + silence trim over fake-PCM blobs"),

    // ── audio: speech-segment extraction (VAD → islands) ────────────
    // What a speech pipeline does with the mm_audio_energy gate: the
    // voiced windows of each clip coalesce into contiguous SEGMENTS
    // (the gaps-islands trick — window_idx minus voiced rank is
    // constant within a run), each rolled up to (start, end, length,
    // Σenergy) and numbered per clip. These segments are the units a
    // downstream ASR/embedding stage consumes — per-utterance, not
    // per-clip. Both windows partition by doc_id over ≤8 rows (frame
    // count per clip is bounded by the decode), so state is bounded
    // and everything rides ONE doc_id exchange; at 100 TB only the
    // energy column's producer changes (real DSP in the same batch
    // shape — see mm_audio_energy).
    "mm_speech_segments" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy($"doc_id").orderBy($"window_idx")
        val wSeg = org.apache.spark.sql.expressions.Window
          .partitionBy($"doc_id").orderBy($"start_w")
        docs(s, dir)
          .withColumn("h",
            concat(sha2($"text", 256), sha2(concat($"text", lit("x")), 256)))
          .select($"doc_id", posexplode(expr(
              "byte_window_fold(unhex(h), 8, 'sqdev128')"))
            .as(Seq("window_idx", "energy")))
          .filter($"energy" >= 40000L)
          .withColumn("grp", $"window_idx" - (row_number().over(w) - 1))
          .groupBy($"doc_id", $"grp")
          .agg(min($"window_idx").cast("long").as("start_w"),
            max($"window_idx").cast("long").as("end_w"),
            count(lit(1)).as("n_windows"),
            sum($"energy").as("sum_energy"))
          .withColumn("seg_id",
            (row_number().over(wSeg) - 1).cast("long"))
          .select($"doc_id", $"seg_id", $"start_w", $"end_w",
            $"n_windows", $"sum_energy")
          .orderBy($"doc_id", $"seg_id")
      },
      oracle = Some("""
        WITH sp_a AS (
          SELECT doc_id,
                 sha256(text) || sha256(text || 'x') AS h
          FROM documents),
        sp_w AS (
          SELECT doc_id, w.w AS window_idx,
                 CAST(list_sum(list_transform(range(0, 8), i ->
                   (('0x' || substr(h, 16 * w.w + 2 * i + 1, 2))::BIGINT - 128)
                 * (('0x' || substr(h, 16 * w.w + 2 * i + 1, 2))::BIGINT - 128)))
                   AS BIGINT) AS energy
          FROM sp_a CROSS JOIN range(0, 8) w(w)),
        sp_v AS (
          SELECT doc_id, window_idx, energy
          FROM sp_w WHERE energy >= 40000),
        sp_g AS (
          SELECT *, window_idx - (row_number() OVER (
                   PARTITION BY doc_id ORDER BY window_idx) - 1) AS grp
          FROM sp_v),
        sp_s AS (
          SELECT doc_id, grp,
                 min(window_idx) AS start_w, max(window_idx) AS end_w,
                 count(*) AS n_windows,
                 CAST(sum(energy) AS BIGINT) AS sum_energy
          FROM sp_g GROUP BY 1, 2)
        SELECT doc_id,
               CAST(row_number() OVER (PARTITION BY doc_id
                 ORDER BY start_w) - 1 AS BIGINT) AS seg_id,
               start_w, end_w, n_windows, sum_energy
        FROM sp_s ORDER BY doc_id, seg_id"""),
      desc = "speech segments: VAD energy gate + gaps-islands run rollup"),

    // ── audio: constellation fingerprinting (the Shazam scheme) ─────
    // Wang 2003's landmark hashing over the same fake-PCM energy
    // envelope as mm_audio_energy: PEAKS are windows whose energy
    // strictly beats both neighbors (boundary windows beat the
    // missing side by definition), each anchor peak pairs with every
    // later peak inside a 4-window target zone, and the landmark
    // hash packs (quantized-energy₁, quantized-energy₂, Δt) into one
    // BIGINT — the key a retrieval index inverts. Per-clip windows
    // are bounded (≤8 frames from the decode), so the lag/lead pass
    // and the peak-pair self-join both ride ONE doc_id exchange with
    // bounded fan-out; at 100 TB only the energy producer changes
    // (real spectrogram bins in the same batch shape).
    "mm_audio_fingerprint" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy($"doc_id").orderBy($"window_idx")
        val peaks = docs(s, dir)
          .withColumn("h",
            concat(sha2($"text", 256), sha2(concat($"text", lit("x")), 256)))
          .select($"doc_id", posexplode(expr(
              "byte_window_fold(unhex(h), 8, 'sqdev128')"))
            .as(Seq("window_idx", "energy")))
          .withColumn("prev_e", lag($"energy", 1).over(w))
          .withColumn("next_e", lead($"energy", 1).over(w))
          .filter($"energy" > coalesce($"prev_e", lit(-1L)) &&
            $"energy" > coalesce($"next_e", lit(-1L)))
          .select($"doc_id", $"window_idx".cast("long").as("t"),
            $"energy")
        peaks.select($"doc_id", $"t".as("t1"), $"energy".as("e1"))
          .join(peaks.select($"doc_id", $"t".as("t2"),
            $"energy".as("e2")), Seq("doc_id"))
          .filter($"t2" > $"t1" && $"t2" - $"t1" <= 4L)
          .select($"doc_id", $"t1", $"t2",
            expr("e1 div 4096 * 100000 + e2 div 4096 * 100 + (t2 - t1)")
              .as("fp"))
          .orderBy($"doc_id", $"t1", $"t2")
      },
      oracle = Some("""
        WITH fp_a AS (
          SELECT doc_id,
                 sha256(text) || sha256(text || 'x') AS h
          FROM documents),
        fp_w AS (
          SELECT doc_id, w.w AS window_idx,
                 CAST(list_sum(list_transform(range(0, 8), i ->
                   (('0x' || substr(h, 16 * w.w + 2 * i + 1, 2))::BIGINT - 128)
                 * (('0x' || substr(h, 16 * w.w + 2 * i + 1, 2))::BIGINT - 128)))
                   AS BIGINT) AS energy
          FROM fp_a CROSS JOIN range(0, 8) w(w)),
        fp_n AS (
          SELECT doc_id, window_idx, energy,
                 lag(energy) OVER (PARTITION BY doc_id
                   ORDER BY window_idx) AS prev_e,
                 lead(energy) OVER (PARTITION BY doc_id
                   ORDER BY window_idx) AS next_e
          FROM fp_w),
        fp_p AS (
          SELECT doc_id, CAST(window_idx AS BIGINT) AS t, energy
          FROM fp_n
          WHERE energy > COALESCE(prev_e, -1)
            AND energy > COALESCE(next_e, -1))
        SELECT a.doc_id, a.t AS t1, b.t AS t2,
               a.energy // 4096 * 100000 + b.energy // 4096 * 100
                 + (b.t - a.t) AS fp
        FROM fp_p a JOIN fp_p b ON a.doc_id = b.doc_id
        WHERE b.t > a.t AND b.t - a.t <= 4
        ORDER BY a.doc_id, t1, t2"""),
      desc = "audio constellation fingerprints: strict peaks + target-zone landmark hashes"),

    // ── audio: fingerprint MATCHING (the retrieval half of Shazam) ──
    // Two clips per doc from one 96-byte payload (three sha256
    // blocks): clip 2·doc reads bytes 0–63, clip 2·doc+1 reads bytes
    // 8–71 — the same signal shifted one window, the "same recording,
    // different start offset" case fingerprint matching exists for.
    // Landmarks build exactly as mm_audio_fingerprint; MATCHES are
    // equal landmark hashes across clips whose anchor-time DELTA is
    // consistent (Wang 2003's histogram peak: group by (a, b,
    // offset), keep pairs with ≥2 aligned landmarks). The landmark
    // join is an equi-join on the hash — at 100 TB real spectral
    // quantization makes the key space ~2^30 so per-hash fan-out
    // stays bounded; here the 8-window toy keys collide more, and
    // the ≥2-consistent-landmark gate is what keeps false pairs out.
    "mm_audio_match" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy($"clip_id").orderBy($"window_idx")
        val payload = docs(s, dir)
          .withColumn("h", concat(sha2($"text", 256),
            sha2(concat($"text", lit("x")), 256),
            sha2(concat($"text", lit("y")), 256)))
        val clips = payload
          .select(($"doc_id" * 2L).as("clip_id"),
            substring($"h", 1, 128).as("ph"))
          .unionByName(payload
            .select(($"doc_id" * 2L + 1L).as("clip_id"),
              substring($"h", 17, 128).as("ph")))
        val peaks = clips
          .select($"clip_id", posexplode(expr(
              "byte_window_fold(unhex(ph), 8, 'sqdev128')"))
            .as(Seq("window_idx", "energy")))
          .withColumn("prev_e", lag($"energy", 1).over(w))
          .withColumn("next_e", lead($"energy", 1).over(w))
          .filter($"energy" > coalesce($"prev_e", lit(-1L)) &&
            $"energy" > coalesce($"next_e", lit(-1L)))
          .select($"clip_id", $"window_idx".cast("long").as("t"),
            $"energy")
        val lm = peaks.as("p1")
          .join(peaks.as("p2"), $"p1.clip_id" === $"p2.clip_id" &&
            $"p2.t" > $"p1.t" && $"p2.t" - $"p1.t" <= 4L)
          .select($"p1.clip_id".as("clip_id"), $"p1.t".as("t1"),
            expr("p1.energy div 4096 * 100000 + " +
              "p2.energy div 4096 * 100 + (p2.t - p1.t)").as("fp"))
        lm.as("a")
          .join(lm.as("b"), $"a.fp" === $"b.fp" &&
            $"a.clip_id" < $"b.clip_id")
          .groupBy($"a.clip_id".as("clip_a"), $"b.clip_id".as("clip_b"),
            ($"a.t1" - $"b.t1").as("t_offset"))
          .agg(count(lit(1)).as("n_matches"))
          .filter($"n_matches" >= 2L)
          .withColumn("same_doc",
            expr("clip_a div 2") === expr("clip_b div 2"))
          .orderBy($"clip_a", $"clip_b", $"t_offset")
      },
      oracle = Some("""
        WITH am_h AS (
          SELECT doc_id, sha256(text) || sha256(text || 'x')
                 || sha256(text || 'y') AS h
          FROM documents),
        am_c AS (
          SELECT doc_id * 2 AS clip_id, substr(h, 1, 128) AS ph FROM am_h
          UNION ALL
          SELECT doc_id * 2 + 1, substr(h, 17, 128) FROM am_h),
        am_w AS (
          SELECT clip_id, w.w AS window_idx,
                 CAST(list_sum(list_transform(range(0, 8), i ->
                   (('0x' || substr(ph, 16 * w.w + 2 * i + 1, 2))::BIGINT - 128)
                 * (('0x' || substr(ph, 16 * w.w + 2 * i + 1, 2))::BIGINT - 128)))
                   AS BIGINT) AS energy
          FROM am_c CROSS JOIN range(0, 8) w(w)),
        am_n AS (
          SELECT clip_id, window_idx, energy,
                 lag(energy) OVER (PARTITION BY clip_id
                   ORDER BY window_idx) AS prev_e,
                 lead(energy) OVER (PARTITION BY clip_id
                   ORDER BY window_idx) AS next_e
          FROM am_w),
        am_p AS (
          SELECT clip_id, CAST(window_idx AS BIGINT) AS t, energy
          FROM am_n
          WHERE energy > COALESCE(prev_e, -1)
            AND energy > COALESCE(next_e, -1)),
        am_l AS (
          SELECT a.clip_id, a.t AS t1,
                 a.energy // 4096 * 100000 + b.energy // 4096 * 100
                   + (b.t - a.t) AS fp
          FROM am_p a JOIN am_p b ON a.clip_id = b.clip_id
          WHERE b.t > a.t AND b.t - a.t <= 4)
        SELECT a.clip_id AS clip_a, b.clip_id AS clip_b,
               a.t1 - b.t1 AS t_offset,
               CAST(count(*) AS BIGINT) AS n_matches,
               a.clip_id // 2 = b.clip_id // 2 AS same_doc
        FROM am_l a JOIN am_l b
          ON a.fp = b.fp AND a.clip_id < b.clip_id
        GROUP BY 1, 2, 3, 5 HAVING count(*) >= 2
        ORDER BY clip_a, clip_b, t_offset"""),
      desc = "audio fingerprint matching: offset-consistent landmark histogram peaks"),

    // ── video: scene-signature matching (near-dup detection) ────────
    // The video twin of mm_audio_match: a re-encoded/trimmed copy
    // keeps its INTERIOR scene structure, so consecutive scene-LENGTH
    // pairs are shift-invariant landmarks (the cut positions move
    // with trimming; the lengths between cuts do not). Two clips per
    // doc from one 160-byte payload — clip 2·doc reads frames 0–15,
    // clip 2·doc+1 reads the same signal trimmed 2 frames in — then
    // landmarks (len_i·100 + len_{i+1}, anchored at the left cut)
    // join across clips and an offset-consistent ≥2-landmark gate
    // confirms. Per-clip frame counts are bounded by the decode, so
    // everything rides doc-keyed windows + one landmark equi-join.
    "mm_video_match" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy($"clip_id").orderBy($"frame_idx")
        val wCum = w.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
        val payload = docs(s, dir)
          .withColumn("h", concat(
            sha2($"text", 256), sha2(concat($"text", lit("a")), 256),
            sha2(concat($"text", lit("b")), 256),
            sha2(concat($"text", lit("c")), 256),
            sha2(concat($"text", lit("d")), 256)))
        val clips = payload
          .select(($"doc_id" * 2L).as("clip_id"),
            substring($"h", 1, 256).as("ph"))
          .unionByName(payload
            .select(($"doc_id" * 2L + 1L).as("clip_id"),
              substring($"h", 33, 256).as("ph")))
        val scenes = clips
          .select($"clip_id", posexplode(expr(
              "byte_window_fold(unhex(ph), 8, 'sum')"))
            .as(Seq("frame_idx", "fsum")))
          .select($"clip_id", $"frame_idx", expr("fsum div 8").as("feat"))
          .withColumn("prev", lag($"feat", 1).over(w))
          .withColumn("cut",
            when($"prev".isNull || abs($"feat" - $"prev") > 64L, 1L)
              .otherwise(0L))
          .withColumn("scene_id", sum($"cut").over(wCum) - 1L)
          .groupBy($"clip_id", $"scene_id")
          .agg(min($"frame_idx").cast("long").as("start_frame"),
            count(lit(1)).as("len"), sum($"feat").as("sf"))
          // fq: the scene's mean feature quantized to 3 bits — length
          // alone collides massively (values 1..16); (len, fq) pairs
          // carry enough content to separate true trims from chance
          .withColumn("fq", expr("sf div len div 32"))
        val wS = org.apache.spark.sql.expressions.Window
          .partitionBy($"clip_id").orderBy($"scene_id")
        val lm = scenes
          .withColumn("next_len", lead($"len", 1).over(wS))
          .withColumn("next_fq", lead($"fq", 1).over(wS))
          .filter($"next_len".isNotNull)
          .select($"clip_id", $"start_frame".as("anchor"),
            ($"len" * 1000000L + $"fq" * 10000L +
              $"next_len" * 100L + $"next_fq").as("sig"))
        lm.as("a")
          .join(lm.as("b"), $"a.sig" === $"b.sig" &&
            $"a.clip_id" < $"b.clip_id")
          .groupBy($"a.clip_id".as("clip_a"), $"b.clip_id".as("clip_b"),
            ($"a.anchor" - $"b.anchor").as("f_offset"))
          .agg(count(lit(1)).as("n_matches"))
          .filter($"n_matches" >= 2L)
          .withColumn("same_doc",
            expr("clip_a div 2") === expr("clip_b div 2"))
          .orderBy($"clip_a", $"clip_b", $"f_offset")
      },
      oracle = Some("""
        WITH vm_h AS (
          SELECT doc_id, sha256(text) || sha256(text || 'a')
                 || sha256(text || 'b') || sha256(text || 'c')
                 || sha256(text || 'd') AS h
          FROM documents),
        vm_c AS (
          SELECT doc_id * 2 AS clip_id, substr(h, 1, 256) AS ph FROM vm_h
          UNION ALL
          SELECT doc_id * 2 + 1, substr(h, 33, 256) FROM vm_h),
        vm_f AS (
          SELECT clip_id, f.f AS frame_idx,
                 CAST(list_sum(list_transform(range(0, 8), i ->
                   ('0x' || substr(ph, 16 * f.f + 2 * i + 1, 2))::BIGINT))
                   // 8 AS BIGINT) AS feat
          FROM vm_c CROSS JOIN range(0, 16) f(f)),
        vm_ct AS (
          SELECT clip_id, frame_idx, feat,
                 CASE WHEN lag(feat) OVER (PARTITION BY clip_id
                        ORDER BY frame_idx) IS NULL
                      OR abs(feat - lag(feat) OVER (PARTITION BY clip_id
                        ORDER BY frame_idx)) > 64
                 THEN 1 ELSE 0 END AS cut
          FROM vm_f),
        vm_s AS (
          SELECT clip_id, frame_idx, feat,
                 CAST(sum(cut) OVER (PARTITION BY clip_id
                   ORDER BY frame_idx ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW) AS BIGINT) - 1 AS scene_id
          FROM vm_ct),
        vm_g AS (
          SELECT clip_id, scene_id,
                 CAST(min(frame_idx) AS BIGINT) AS start_frame,
                 CAST(count(*) AS BIGINT) AS len,
                 CAST(sum(feat) AS BIGINT) // count(*) // 32 AS fq
          FROM vm_s GROUP BY 1, 2),
        vm_l AS (
          SELECT clip_id, start_frame AS anchor,
                 len * 1000000 + fq * 10000
                   + lead(len) OVER (PARTITION BY clip_id
                       ORDER BY scene_id) * 100
                   + lead(fq) OVER (PARTITION BY clip_id
                       ORDER BY scene_id) AS sig
          FROM vm_g
          QUALIFY lead(len) OVER (PARTITION BY clip_id
            ORDER BY scene_id) IS NOT NULL)
        SELECT a.clip_id AS clip_a, b.clip_id AS clip_b,
               a.anchor - b.anchor AS f_offset,
               CAST(count(*) AS BIGINT) AS n_matches,
               a.clip_id // 2 = b.clip_id // 2 AS same_doc
        FROM vm_l a JOIN vm_l b
          ON a.sig = b.sig AND a.clip_id < b.clip_id
        GROUP BY 1, 2, 3, 5 HAVING count(*) >= 2
        ORDER BY clip_a, clip_b, f_offset"""),
      desc = "video near-dup: shift-invariant scene-length landmarks, offset-consistent gate"),

    // ── video: scene-change detection over the frame sequence ───────
    // The shot-segmentation step a video pipeline runs before frame
    // dedup/captioning: a 128-byte fake video (four chained sha256
    // blocks) decodes to 16 frames; per frame one integer feature
    // (mean byte — the luma-mean stand-in), a CUT where the feature
    // jumps > 64 vs the previous frame, and scenes as cut-runs
    // (cumulative cut count), rolled up to (start, end, length,
    // Σfeat) per scene. Frame count per video is bounded, so the
    // lag + running-sum windows per doc_id carry bounded state and
    // ride ONE doc_id exchange; at 100 TB the feature column comes
    // from a real codec in the same batch shape and the
    // window/rollup plumbing is unchanged.
    "mm_scene_detect" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy($"doc_id").orderBy($"frame_idx")
        docs(s, dir)
          .withColumn("h", concat(
            sha2($"text", 256), sha2(concat($"text", lit("a")), 256),
            sha2(concat($"text", lit("b")), 256),
            sha2(concat($"text", lit("c")), 256)))
          .select($"doc_id", posexplode(expr(
              "byte_window_fold(unhex(h), 8, 'sum')"))
            .as(Seq("frame_idx", "fsum")))
          .select($"doc_id", $"frame_idx", expr("fsum div 8").as("feat"))
          .withColumn("prev", lag($"feat", 1).over(w))
          .withColumn("cut",
            when($"prev".isNull || abs($"feat" - $"prev") > 64L, 1L)
              .otherwise(0L))
          .withColumn("scene_id",
            sum($"cut").over(w.rowsBetween(
              org.apache.spark.sql.expressions.Window.unboundedPreceding,
              org.apache.spark.sql.expressions.Window.currentRow)) - 1L)
          .groupBy($"doc_id", $"scene_id")
          .agg(min($"frame_idx").cast("long").as("start_frame"),
            max($"frame_idx").cast("long").as("end_frame"),
            count(lit(1)).as("n_frames"),
            sum($"feat").as("sum_feat"))
          .orderBy($"doc_id", $"scene_id")
      },
      oracle = Some("""
        WITH v AS (
          SELECT doc_id,
                 sha256(text) || sha256(text || 'a')
                   || sha256(text || 'b') || sha256(text || 'c') AS h
          FROM documents),
        fr AS (
          SELECT doc_id, f.f AS frame_idx,
                 CAST(list_sum(list_transform(range(0, 8), i ->
                   ('0x' || substr(h, 16 * f.f + 2 * i + 1, 2))::BIGINT))
                   // 8 AS BIGINT) AS feat
          FROM v CROSS JOIN range(0, 16) f(f)),
        ct AS (
          SELECT doc_id, frame_idx, feat,
                 CASE WHEN lag(feat) OVER w IS NULL
                        OR abs(feat - lag(feat) OVER w) > 64
                      THEN 1 ELSE 0 END AS cut
          FROM fr WINDOW w AS (PARTITION BY doc_id ORDER BY frame_idx)),
        sc AS (
          SELECT doc_id, frame_idx, feat,
                 CAST(sum(cut) OVER (PARTITION BY doc_id
                   ORDER BY frame_idx) - 1 AS BIGINT) AS scene_id
          FROM ct)
        SELECT doc_id, scene_id,
               min(frame_idx) AS start_frame, max(frame_idx) AS end_frame,
               count(*) AS n_frames,
               CAST(sum(feat) AS BIGINT) AS sum_feat
        FROM sc GROUP BY 1, 2 ORDER BY doc_id, scene_id"""),
      desc = "video scene cuts: frame-feature jumps → run-length scene rollup"),

    // ── cross-modal pair alignment (the CLIP-filter seam) ───────────
    // The image-text pair filtering step (LAION-style curation):
    // every document's fake image embedding (decoded payload bytes,
    // centered — REPLACE with a real vision encoder at deploy) is
    // scored against its OWN text embedding and against a mismatched
    // hard negative ((doc+7) mod N); a pair survives when the true
    // dot beats the negative. Integer dots via the codegen'd
    // long_dot; the negative-partner id comes from a broadcast 1-row
    // count frame, never a driver collect. Both embedding joins are
    // doc_id equi-joins — at 100 TB this is two co-partitioned joins
    // plus pure per-row math.
    "mm_pair_align" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        val img = withBlob(docs(s, dir)).withColumn("hh", hex($"img"))
          .select($"doc_id", expr("""transform(sequence(0, 31),
            i -> CAST(conv(substr(hh, 2 * i + 1, 2), 16, 10) AS BIGINT)
                 - 128L)""").as("iv"))
        val txt = Vectors.quantize(Sources.table(s, dir, "embeddings"))
          .select($"vec_id".as("doc_id"), expr("slice(sv, 1, 32)").as("tv"))
        val nRow = img.agg(count(lit(1)).as("n_docs"))
        img.crossJoin(broadcast(nRow))
          .withColumn("neg_id", ($"doc_id" + 7L) % $"n_docs")
          .join(txt, Seq("doc_id"))
          .join(txt.select($"doc_id".as("neg_id"), $"tv".as("nv")),
            Seq("neg_id"))
          .withColumn("dot_true", expr("long_dot(iv, tv)"))
          .withColumn("dot_neg", expr("long_dot(iv, nv)"))
          .select($"doc_id", $"neg_id", $"dot_true", $"dot_neg",
            ($"dot_true" - $"dot_neg").as("margin"),
            ($"dot_true" > $"dot_neg").as("aligned"))
          .orderBy($"doc_id")
      },
      oracle = Some("""
        WITH img AS (
          SELECT doc_id,
                 list_transform(range(0, 32), i ->
                   ('0x' || substr(sha256(text), 2 * i + 1, 2))::BIGINT
                   - 128) AS iv
          FROM documents),
        txt AS (
          SELECT vec_id AS doc_id,
                 (list_transform(embedding::DOUBLE[],
                   x -> CAST(round(x * 100000.0) AS BIGINT)))[1:32] AS tv
          FROM embeddings),
        n AS (SELECT count(*) AS n_docs FROM img),
        pr AS (
          SELECT i.doc_id, (i.doc_id + 7) % n.n_docs AS neg_id, i.iv
          FROM img i CROSS JOIN n),
        sc AS (
          SELECT p.doc_id, p.neg_id,
                 CAST(list_sum(list_transform(list_zip(p.iv, t.tv),
                   x -> x[1] * x[2])) AS BIGINT) AS dot_true,
                 CAST(list_sum(list_transform(list_zip(p.iv, tn.tv),
                   x -> x[1] * x[2])) AS BIGINT) AS dot_neg
          FROM pr p
          JOIN txt t ON t.doc_id = p.doc_id
          JOIN txt tn ON tn.doc_id = p.neg_id)
        SELECT doc_id, neg_id, dot_true, dot_neg,
               dot_true - dot_neg AS margin,
               dot_true > dot_neg AS aligned
        FROM sc ORDER BY doc_id"""),
      desc = "image-text pair alignment filter: true vs hard-negative dot margin"),

    // ── REAL WAV decode: RIFF header parse + exact PCM energy ───────
    // The one modality decode that needs no codec library (r13
    // verdict ask #5): the fn synthesizes VALID little-endian
    // RIFF/WAVE PCM files — real 44-byte headers with per-doc
    // channels/rate/bit-depth and 64 bytes of PCM — and `wav_decode`
    // (a native codegen expression) parses them back the way any
    // decoder would: chunk walk, magic + PCM-format validation, LE
    // field reads, Σ(v−128)² / Σ s² integer energy. The oracle does
    // NOT decode: it recomputes every expected field independently
    // from (doc_id, text), so the hash gate proves the encode→parse
    // round trip against an independent derivation. MultimodalSpec
    // covers the paths the gate can't reach (unknown-chunk skip,
    // malformed rejects).
    "mm_decode_wav" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        def le(e: String, n: Int): String = leHex(e, n)
        val hdr = Seq(
          "'52494646'", le("100", 4), "'57415645'",       // RIFF…WAVE
          "'666d7420'", le("16", 4), le("1", 2), le("c", 2), // fmt PCM
          le("r", 4), le("r * ba", 4), le("ba", 2), le("bb", 2),
          "'64617461'", le("64", 4), "pcm"                // data
        ).mkString("concat(", ", ", ")")
        docs(s, dir)
          .withColumn("c", $"doc_id" % 2 + 1)
          .withColumn("r", expr(
            "CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000 " +
              "ELSE 44100 END"))
          .withColumn("bb", expr(
            "CASE WHEN (doc_id div 2) % 2 = 0 THEN 8 ELSE 16 END"))
          .withColumn("ba", expr("c * bb div 8"))
          .withColumn("pcm",
            concat(sha2($"text", 256), sha2(concat($"text", lit("x")), 256)))
          .withColumn("d", expr(s"wav_decode(unhex($hdr))"))
          .select($"doc_id",
            element_at($"d", 1).as("fmt_ok"),
            element_at($"d", 2).as("channels"),
            element_at($"d", 3).as("sample_rate"),
            element_at($"d", 4).as("bits"),
            element_at($"d", 5).as("data_bytes"),
            element_at($"d", 6).as("n_frames"),
            element_at($"d", 7).as("energy"))
          .orderBy($"doc_id")
      },
      oracle = Some("""
        WITH wv AS (
          SELECT doc_id,
                 doc_id % 2 + 1 AS channels,
                 CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                      ELSE 44100 END AS sample_rate,
                 CASE WHEN (doc_id // 2) % 2 = 0 THEN 8 ELSE 16 END AS bits,
                 sha256(text) || sha256(text || 'x') AS h
          FROM documents)
        SELECT doc_id,
               CAST(1 AS BIGINT) AS fmt_ok,
               CAST(channels AS BIGINT) AS channels,
               CAST(sample_rate AS BIGINT) AS sample_rate,
               CAST(bits AS BIGINT) AS bits,
               CAST(64 AS BIGINT) AS data_bytes,
               CAST(64 // (channels * bits // 8) AS BIGINT) AS n_frames,
               CAST(CASE WHEN bits = 8 THEN
                 list_sum(list_transform(list_transform(range(0, 64), i ->
                   ('0x' || substr(h, 2*i+1, 2))::BIGINT - 128),
                   x -> x * x))
               ELSE
                 list_sum(list_transform(list_transform(range(0, 32), i ->
                   ('0x' || substr(h, 4*i+3, 2)
                         || substr(h, 4*i+1, 2))::BIGINT),
                   x -> (x - 65536 * (x // 32768))
                      * (x - 65536 * (x // 32768))))
               END AS BIGINT) AS energy
        FROM wv ORDER BY doc_id"""),
      desc = "REAL WAV decode: RIFF chunk-walk header parse + exact integer PCM energy"),

    // ── REAL BMP decode: header parse + padded-row pixel walk ───────
    // The image sibling of mm_decode_wav: the fn synthesizes VALID
    // 24-bit uncompressed BMPs — real 54-byte headers with per-doc
    // width/height and sha256-derived pixels, rows PADDED to 4-byte
    // boundaries exactly as the format requires (widths 1..3 make the
    // padding 1..3 bytes, so it always binds) — and `bmp_decode`
    // parses them back: magic/bpp/compression validation, LE signed
    // dimension reads, stride arithmetic, padding-excluded pixel
    // sums, and the bottom-up top-left-pixel readout. The oracle
    // recomputes every field from (doc_id, text) without decoding.
    "mm_decode_bmp" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        val pixels = "array_join(transform(sequence(0, h - 1), r -> " +
          "concat(substr(ph, r * 6 * w + 1, 6 * w), " +
          "repeat('00', st - 3 * w))), '')"
        val hex = Seq(
          "'424D'", leHex("54 + st * h", 4), "'00000000'",
          leHex("54", 4),                                  // file header
          leHex("40", 4), leHex("w", 4), leHex("h", 4),
          leHex("1", 2), leHex("24", 2), leHex("0", 4),
          leHex("st * h", 4), leHex("0", 4), leHex("0", 4),
          leHex("0", 4), leHex("0", 4),                    // info header
          pixels
        ).mkString("concat(", ", ", ")")
        docs(s, dir)
          .withColumn("w", $"doc_id" % 3 + 1)
          .withColumn("h", $"doc_id" % 2 + 2)
          .withColumn("st", expr("(3 * w + 3) div 4 * 4"))
          .withColumn("ph", sha2($"text", 256))
          .withColumn("d", expr(s"bmp_decode(unhex($hex))"))
          .select($"doc_id",
            element_at($"d", 1).as("fmt_ok"),
            element_at($"d", 2).as("width"),
            element_at($"d", 3).as("height"),
            element_at($"d", 4).as("bpp"),
            element_at($"d", 5).as("stride"),
            element_at($"d", 6).as("sum_rgb"),
            element_at($"d", 7).as("sum_blue"),
            element_at($"d", 8).as("topleft_bgr"))
          .orderBy($"doc_id")
      },
      oracle = Some("""
        WITH bm AS (
          SELECT doc_id,
                 doc_id % 3 + 1 AS w,
                 doc_id % 2 + 2 AS h,
                 sha256(text) AS ph
          FROM documents),
        bd AS (
          SELECT doc_id, w, h, (3 * w + 3) // 4 * 4 AS stride, ph
          FROM bm)
        SELECT doc_id,
               CAST(1 AS BIGINT) AS fmt_ok,
               CAST(w AS BIGINT) AS width,
               CAST(h AS BIGINT) AS height,
               CAST(24 AS BIGINT) AS bpp,
               CAST(stride AS BIGINT) AS stride,
               CAST(list_sum(list_transform(range(0, 3 * w * h), i ->
                 ('0x' || substr(ph, 2 * i + 1, 2))::BIGINT))
                 AS BIGINT) AS sum_rgb,
               CAST(list_sum(list_transform(range(0, w * h), i ->
                 ('0x' || substr(ph, 6 * i + 1, 2))::BIGINT))
                 AS BIGINT) AS sum_blue,
               CAST(('0x' || substr(ph, 6 * w * (h - 1) + 1, 2))::BIGINT
                      * 65536
                  + ('0x' || substr(ph, 6 * w * (h - 1) + 3, 2))::BIGINT
                      * 256
                  + ('0x' || substr(ph, 6 * w * (h - 1) + 5, 2))::BIGINT
                 AS BIGINT) AS topleft_bgr
        FROM bd ORDER BY doc_id"""),
      desc = "REAL BMP decode: padded-row pixel walk + bottom-up top-left readout"),

    // ── REAL PNG decode: CRC'd chunk walk + zlib inflate + unfilter ─
    // The deepest codec-free decode: the fn synthesizes fully VALID
    // PNGs in SQL — real chunk CRC-32s (Spark's crc32 built-in), a
    // real zlib stream (stored-block DEFLATE framing + computed
    // Adler-32), Sub-filtered scanlines (raw bytes are per-row DELTAS
    // of the sha-derived pixels, so unfiltering is real work) — and
    // `png_decode` decodes them the way any conformant reader would:
    // signature, CRC verification of every chunk, java.util.zip
    // Inflater (full DEFLATE + Adler check), and the five-filter
    // reconstruction. The oracle recomputes the expected PIXELS from
    // (doc_id, text) without touching the container — the hash proves
    // filter-encode → CRC/deflate-container → full-decode lands back
    // on the source pixels. PngSpec covers what the gate can't: real
    // Deflater-compressed streams, multi-IDAT splits, filters
    // 0/2/3/4 (Paeth), CRC-flip rejection.
    "mm_decode_png" -> Q(
      fn = (s, dir) =>
        // the public API IS the implementation (ScaleProbe rides it)
        pngRoundtrip(docs(s, dir)).orderBy(col("doc_id")),
      oracle = Some("""
        WITH pg AS (
          SELECT doc_id,
                 doc_id % 3 + 2 AS w,
                 doc_id % 2 + 2 AS h,
                 sha256(text) AS ph
          FROM documents)
        SELECT doc_id,
               CAST(1 AS BIGINT) AS fmt_ok,
               CAST(w AS BIGINT) AS width,
               CAST(h AS BIGINT) AS height,
               CAST(8 AS BIGINT) AS bit_depth,
               CAST((w + 1) * h AS BIGINT) AS n_raw,
               CAST(list_sum(list_transform(range(0, w * h), i ->
                 ('0x' || substr(ph, 2 * i + 1, 2))::BIGINT))
                 AS BIGINT) AS sum_px,
               ('0x' || substr(ph, 1, 2))::BIGINT AS first_px,
               ('0x' || substr(ph, 2 * (w * h - 1) + 1, 2))::BIGINT
                 AS last_px
        FROM pg ORDER BY doc_id"""),
      desc = "REAL PNG decode: CRC-verified chunk walk + zlib inflate + Sub-filter reconstruction"),

    // ── REAL GIF decode: LZW + palette, the codec trio's third leg ──
    // gifRoundtrip synthesizes a fully valid GIF89a per doc (global
    // color table, two extensions, 3-byte sub-block framing) and
    // decodes through the native full-LZW expression; the oracle
    // recomputes every field container-free from the sha pixels and
    // the palette arithmetic — the hash proves the encode→decode
    // round trip including the color-table readout. Dictionary-
    // growth/KwKwK/width-bump decoding and 9 malformed classes live
    // in GifSpec (a real LZW compressor is test-side only).
    "mm_decode_gif" -> Q(
      fn = (s, dir) =>
        gifRoundtrip(docs(s, dir)).orderBy(col("doc_id")),
      oracle = Some("""
        WITH pg AS (
          SELECT doc_id,
                 doc_id % 3 + 2 AS w,
                 doc_id % 2 + 2 AS h,
                 sha256(text) AS ph
          FROM documents)
        SELECT doc_id,
               CAST(1 AS BIGINT) AS fmt_ok,
               CAST(w AS BIGINT) AS width,
               CAST(h AS BIGINT) AS height,
               CAST(128 AS BIGINT) AS gct_n,
               CAST(list_sum(list_transform(range(0, 128), i ->
                 255 + (i * 7) % 256)) AS BIGINT) AS palette_sum,
               CAST(w * h AS BIGINT) AS n_px,
               CAST(list_sum(list_transform(range(0, w * h), j ->
                 ('0x' || substr(ph, 2 * j + 1, 2))::BIGINT % 128))
                 AS BIGINT) AS sum_idx,
               ('0x' || substr(ph, 1, 2))::BIGINT % 128 AS first_idx,
               ('0x' || substr(ph, 2 * (w * h - 1) + 1, 2))::BIGINT % 128
                 AS last_idx
        FROM pg ORDER BY doc_id"""),
      desc = "REAL GIF decode: header/color-table walk + full variable-width LZW, round-tripped"),

    // ── REAL animated-GIF frame walk: frame sampling on real bytes ──
    // gifFramesRoundtrip synthesizes a 2-3 frame GIF89a animation per
    // doc (per-frame GCE delays, delta-style per-frame geometry, one
    // global color table) and gif_frames decodes EVERY frame's LZW
    // stream — the multi-image path mm_decode_gif's single-frame gate
    // does not reach. The oracle recomputes each frame row from the
    // sha arithmetic container-free.
    "mm_gif_frames" -> Q(
      fn = (s, dir) =>
        gifFramesRoundtrip(docs(s, dir))
          .orderBy(col("doc_id"), col("frame")),
      oracle = Some("""
        WITH pg AS (
          SELECT doc_id, doc_id % 2 + 2 AS nf, sha256(text) AS ph
          FROM documents),
        fr AS (
          SELECT doc_id, ph,
                 unnest(generate_series(0, CAST(nf - 1 AS BIGINT))) AS f
          FROM pg),
        g AS (
          SELECT doc_id, f,
                 (doc_id + f) % 2 + 2 AS w,
                 ph
          FROM fr)
        SELECT doc_id,
               f AS frame,
               f AS left_px,
               f * 2 AS top_px,
               CAST(w AS BIGINT) AS w,
               CAST(2 AS BIGINT) AS h,
               CAST(w * 2 AS BIGINT) AS n_px,
               CAST(list_sum(list_transform(range(0, CAST(w * 2 AS BIGINT)),
                 j -> ('0x' || substr(ph,
                   CAST(2 * ((f * 8 + j) % 32) + 1 AS BIGINT), 2))::BIGINT
                   % 128)) AS BIGINT) AS sum_idx,
               ('0x' || substr(ph, CAST(2 * ((f * 8) % 32) + 1 AS BIGINT),
                 2))::BIGINT % 128 AS first_idx,
               ('0x' || substr(ph,
                 CAST(2 * ((f * 8 + w * 2 - 1) % 32) + 1 AS BIGINT),
                 2))::BIGINT % 128 AS last_idx
        FROM g ORDER BY doc_id, frame"""),
      desc = "REAL animated-GIF frame walk: every frame's LZW stream decoded, per-frame geometry"),

    // ── REAL baseline JPEG decode: the last image format made real ──
    // The fn synthesizes a fully valid 8x8 grayscale baseline JPEG
    // per doc — JFIF APP0, a flat q=16 DQT, SOF0, custom canonical
    // Huffman tables chosen so the single DC-only block encodes in a
    // FIXED 2-byte scan (DC category 4 at code length 4, a 1-bit AC
    // EOB; dc = 8 + shaByte%8 keeps the category constant), and
    // jpeg_decode runs the real pipeline back: marker walk, canonical
    // Huffman decode, receive/extend, dequant, fixed-point integer
    // IDCT. With q=16 the DC-only IDCT output is the exact closed
    // form 128 + 2*dc (divisible — no rounding in the oracle), so the
    // hash proves the whole container + entropy + transform path.
    // AC coefficients, byte stuffing, negative DC diffs and
    // multi-block prediction live in JpegSpec's real entropy encoder.
    "mm_decode_jpeg" -> Q(
      fn = (s, dir) =>
        // the public API IS the implementation (ScaleProbe rides it)
        jpegRoundtrip(docs(s, dir)).orderBy(col("doc_id")),
      oracle = Some("""
        WITH j AS (
          SELECT doc_id,
                 144 + 2 * (('0x' || substr(sha256(text), 1, 2))::BIGINT
                   % 8) AS v
          FROM documents)
        SELECT doc_id,
               CAST(1 AS BIGINT) AS ok,
               CAST(8 AS BIGINT) AS width,
               CAST(8 AS BIGINT) AS height,
               CAST(1 AS BIGINT) AS n_blocks,
               CAST(64 * v AS BIGINT) AS sum_px,
               CAST(v AS BIGINT) AS first_px,
               CAST(v AS BIGINT) AS last_px
        FROM j ORDER BY doc_id"""),
      desc = "REAL baseline JPEG decode: Huffman + dequant + integer IDCT, closed-form DC oracle"),

    // ── REAL color JPEG decode: YCbCr 4:4:4 + fixed-point to RGB ────
    // jpegColorRoundtrip's three DC-only components decode through
    // the same baseline core (per-component prediction and tables)
    // and the 16-bit fixed-point JFIF conversion; every constant is
    // an integer, so the oracle recomputes R/G/B exactly — including
    // the G channel's FLOOR shift of a negative numerator, spelled
    // out as exact floor division (DuckDB // truncates toward zero,
    // the documented sign trap). Chroma subsampling is rejected, not
    // misdecoded (spec-pinned).
    "mm_decode_jpeg_rgb" -> Q(
      fn = (s, dir) =>
        jpegColorRoundtrip(docs(s, dir)).orderBy(col("doc_id")),
      oracle = Some("""
        WITH j AS (
          SELECT doc_id,
                 144 + 2 * (('0x' || substr(sha256(text), 1, 2))::BIGINT
                   % 8) AS yv,
                 144 + 2 * (('0x' || substr(sha256(text), 3, 2))::BIGINT
                   % 8) AS cbv,
                 144 + 2 * (('0x' || substr(sha256(text), 5, 2))::BIGINT
                   % 8) AS crv
          FROM documents),
        c AS (
          SELECT doc_id, yv, cbv, crv,
                 yv + (91881 * (crv - 128) + 32768) // 65536 AS r,
                 yv + (gn - (((gn % 65536) + 65536) % 65536)) // 65536
                   AS g,
                 yv + (116130 * (cbv - 128) + 32768) // 65536 AS b
          FROM (SELECT *, 32768 - 22554 * (cbv - 128)
                  - 46802 * (crv - 128) AS gn FROM j))
        SELECT doc_id,
               CAST(1 AS BIGINT) AS ok,
               CAST(8 AS BIGINT) AS width,
               CAST(8 AS BIGINT) AS height,
               CAST(1 AS BIGINT) AS n_blocks,
               CAST(64 * r AS BIGINT) AS sum_r,
               CAST(64 * g AS BIGINT) AS sum_g,
               CAST(64 * b AS BIGINT) AS sum_b,
               CAST(r * 65536 + g * 256 + b AS BIGINT) AS first_rgb,
               CAST(r * 65536 + g * 256 + b AS BIGINT) AS last_rgb
        FROM c ORDER BY doc_id"""),
      desc = "REAL color JPEG decode: 3-component baseline + fixed-point YCbCr-to-RGB, integer oracle"),

    // ── REAL compressed-audio decode: IMA ADPCM ─────────────────────
    // Audio's compressed-codec member beside PCM WAV: the fn wraps a
    // valid mono IMA ADPCM WAV per doc (fmt tag 0x0011 with the
    // cbSize/samplesPerBlock extension, one 12-byte block: sha-seeded
    // predictor + step index, all-zero nibbles) and adpcm_decode runs
    // the real state machine back. With zero nibbles each sample
    // steps by step(idx)>>3 while idx walks down — the closed-form
    // table walk the oracle recomputes from the SAME rendered
    // 89-entry step table (AdpcmDecode.stepsSql; single source, the
    // DdBuckets pattern). Nonzero/sign nibbles, clamps and
    // multi-block state live in AdpcmSpec's real encoder.
    "mm_decode_adpcm" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        docs(s, dir)
          .withColumn("ph", sha2($"text", 256))
          .withColumn("idx0", expr(
            "CAST(conv(substr(ph, 1, 2), 16, 10) AS BIGINT) % 40"))
          .withColumn("pred0", expr(
            "(CAST(conv(substr(ph, 3, 2), 16, 10) AS BIGINT) - 128) " +
              "* 100"))
          .withColumn("wav", expr(
            s"concat('52494646', ${leHex("52", 4)}, '57415645', " +
              s"'666D7420', ${leHex("20", 4)}, " +
              s"${leHex("17", 2)}, ${leHex("1", 2)}, " +      // 0x11, mono
              s"${leHex("8000", 4)}, ${leHex("4000", 4)}, " + // rate, brate
              s"${leHex("12", 2)}, ${leHex("4", 2)}, " +      // align, bits
              s"${leHex("2", 2)}, ${leHex("17", 2)}, " +      // cb, spb
              s"'64617461', ${leHex("12", 4)}, " +
              s"${leHex("(pred0 + 65536) % 65536", 2)}, " +
              "lpad(hex(idx0), 2, '0'), '00', repeat('00', 8))"))
          .withColumn("d", expr("adpcm_decode(unhex(wav))"))
          .select($"doc_id",
            element_at($"d", 1).as("ok"),
            element_at($"d", 2).as("sample_rate"),
            element_at($"d", 3).as("samples_per_block"),
            element_at($"d", 4).as("n_blocks"),
            element_at($"d", 5).as("n_samples"),
            element_at($"d", 6).as("sum_samples"),
            element_at($"d", 7).as("first_sample"),
            element_at($"d", 8).as("last_sample"))
          .orderBy($"doc_id")
      },
      oracle = Some(s"""
        WITH a AS (
          SELECT doc_id,
                 ('0x' || substr(sha256(text), 1, 2))::BIGINT % 40
                   AS idx0,
                 (('0x' || substr(sha256(text), 3, 2))::BIGINT - 128)
                   * 100 AS pred0
          FROM documents),
        jj AS (
          SELECT doc_id, idx0, pred0,
                 unnest(generate_series(1, 16)) AS j
          FROM a),
        d AS (
          SELECT jj.doc_id, jj.pred0, jj.j, s.step // 8 AS delta
          FROM jj JOIN (${graft.functions.AdpcmDecode.stepsSql}) s
            ON s.i = greatest(0, jj.idx0 - jj.j + 1)),
        g AS (
          SELECT doc_id, pred0,
                 CAST(sum((17 - j) * delta) AS BIGINT) AS wsum,
                 CAST(sum(delta) AS BIGINT) AS dsum
          FROM d GROUP BY doc_id, pred0)
        SELECT doc_id,
               CAST(1 AS BIGINT) AS ok,
               CAST(8000 AS BIGINT) AS sample_rate,
               CAST(17 AS BIGINT) AS samples_per_block,
               CAST(1 AS BIGINT) AS n_blocks,
               CAST(17 AS BIGINT) AS n_samples,
               CAST(pred0 * 17 + wsum AS BIGINT) AS sum_samples,
               CAST(pred0 AS BIGINT) AS first_sample,
               CAST(pred0 + dsum AS BIGINT) AS last_sample
        FROM g ORDER BY doc_id"""),
      desc = "REAL IMA ADPCM decode: step-table state machine, closed-form zero-nibble oracle"),

    // ── REAL video decode: MJPEG frames out of a real AVI walk ──────
    // The video family's honest-fake finally has a real-codec member:
    // avi_frames walks the RIFF container (LIST descent, movi frame
    // collection, even-byte padding) and each 00dc payload decodes
    // through the REAL baseline JPEG pipeline — two native
    // expressions composed with explode, the Spark-first shape. The
    // oracle recomputes every frame's closed-form DC stats
    // container-free. Malformed/edge container classes live in
    // AviSpec.
    "mm_decode_mjpeg" -> Q(
      fn = (s, dir) =>
        mjpegRoundtrip(docs(s, dir))
          .orderBy(col("doc_id"), col("frame")),
      oracle = Some("""
        WITH fr AS (
          SELECT doc_id, sha256(text) AS ph,
                 unnest(generate_series(0,
                   CAST(doc_id % 2 + 1 AS BIGINT))) AS f
          FROM documents),
        v AS (
          SELECT doc_id, f,
                 144 + 2 * (('0x' || substr(ph,
                   CAST(2 * f + 1 AS BIGINT), 2))::BIGINT % 8) AS v
          FROM fr)
        SELECT doc_id, f AS frame,
               CAST(1 AS BIGINT) AS ok,
               CAST(8 AS BIGINT) AS width,
               CAST(8 AS BIGINT) AS height,
               CAST(64 * v AS BIGINT) AS sum_px,
               CAST(v AS BIGINT) AS first_px,
               CAST(v AS BIGINT) AS last_px
        FROM v ORDER BY doc_id, frame"""),
      desc = "REAL MJPEG video decode: RIFF/AVI container walk composed with the real JPEG decoder"),

    // ── strict UTF-8 validation: the byte-level ingest front gate ───
    // Every crawl blob must pass byte-level UTF-8 validation before
    // it may become a string column. The fn appends a doc_id%4-keyed
    // byte tail to each doc's (ASCII, spec-pinned) bytes — a dead
    // 0xFF, a real 2-byte é, a 3-byte €, or a 4-byte emoji followed
    // by the classic C0 AF overlong attack (2 invalid bytes under the
    // one-per-bad-byte policy) — and utf8_stats walks the whole blob
    // with the strict RFC 3629 rules. The oracle recomputes every
    // count from the construction arithmetic; surrogate/overlong/cap
    // edges live in Utf8Spec.
    "mm_utf8_stats" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        docs(s, dir)
          .withColumn("tail", expr(
            "CASE doc_id % 4 WHEN 0 THEN 'FF' WHEN 1 THEN 'C3A9' " +
              "WHEN 2 THEN 'E282AC' ELSE 'F09F9880C0AF' END"))
          .withColumn("u", expr(
            "utf8_stats(concat(CAST(text AS BINARY), unhex(tail)))"))
          .select($"doc_id", $"u.n_bytes".as("n_bytes"),
            $"u.n_ascii".as("n_ascii"), $"u.n_2byte".as("n_2byte"),
            $"u.n_3byte".as("n_3byte"), $"u.n_4byte".as("n_4byte"),
            $"u.n_invalid".as("n_invalid"), $"u.valid".as("valid"))
          .orderBy($"doc_id")
      },
      oracle = Some("""
        SELECT doc_id,
               CAST(octet_length(encode(text)) +
                 CASE doc_id % 4 WHEN 0 THEN 1 WHEN 1 THEN 2
                   WHEN 2 THEN 3 ELSE 6 END AS BIGINT) AS n_bytes,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_ascii,
               CAST(CASE doc_id % 4 WHEN 1 THEN 1 ELSE 0 END
                 AS BIGINT) AS n_2byte,
               CAST(CASE doc_id % 4 WHEN 2 THEN 1 ELSE 0 END
                 AS BIGINT) AS n_3byte,
               CAST(CASE doc_id % 4 WHEN 3 THEN 1 ELSE 0 END
                 AS BIGINT) AS n_4byte,
               CAST(CASE doc_id % 4 WHEN 0 THEN 1 WHEN 3 THEN 2
                 ELSE 0 END AS BIGINT) AS n_invalid,
               doc_id % 4 IN (1, 2) AS valid
        FROM documents ORDER BY doc_id"""),
      desc = "strict UTF-8 validation: RFC 3629 sequence walk incl. overlong/surrogate rejection"),

    // ── REAL PDF text extraction: the crawl's document container ────
    // pdfRoundtrip synthesizes a valid classic-xref PDF per doc
    // (objects addressed by REAL byte offsets in the xref table) and
    // extracts the text back via the native expression — startxref
    // tail scan, xref record walk, /Length-addressed stream pull,
    // string-literal unescape, Tj draw. The oracle emits the source
    // fields: the hash proves wrap → xref-address → extract lands
    // back on the original text byte-for-byte. FlateDecode streams,
    // TJ arrays and 9 malformed classes live in PdfSpec.
    "mm_pdf_text" -> Q(
      fn = (s, dir) =>
        pdfRoundtrip(docs(s, dir)).orderBy(col("doc_id")),
      oracle = Some("""
        SELECT doc_id, true AS ok,
               CAST(4 AS BIGINT) AS n_objs,
               CAST(1 AS BIGINT) AS n_streams,
               CAST(length(text) AS BIGINT) AS n_chars,
               text AS text_out
        FROM documents ORDER BY doc_id"""),
      desc = "REAL PDF text extraction: startxref tail scan + xref walk + Tj literal parse, round-tripped"),

    // ── PDF 1.5: xref STREAM + /ObjStm compressed objects ───────────
    // pdfXrefRoundtrip synthesizes the modern-crawl PDF shape per doc
    // (W-packed binary xref records with REAL byte offsets, the page
    // tree compressed into an object stream) and extracts the text
    // back through the native 1.5 path — type-2 resolution, ObjStm
    // pair-table validation, binary record decode. The oracle emits
    // the source fields with the structural constants: the hash
    // proves wrap → xref-stream-address → extract lands back on the
    // original text byte-for-byte AND that the entry/stream counts
    // see through the compression (6 objects, only 3 headers).
    "mm_pdf_xref" -> Q(
      fn = (s, dir) =>
        pdfXrefRoundtrip(docs(s, dir)).orderBy(col("doc_id")),
      oracle = Some("""
        SELECT doc_id, true AS ok,
               CAST(6 AS BIGINT) AS n_objs,
               CAST(3 AS BIGINT) AS n_streams,
               CAST(length(text) AS BIGINT) AS n_chars,
               text AS text_out
        FROM documents ORDER BY doc_id"""),
      desc = "PDF 1.5 extraction: cross-reference stream decode + ObjStm member resolution, round-tripped"),

    // ── PDF 1.5 incremental update: /Prev-chained xref sections ─────
    // Every edited real-world PDF appends a new xref section chained
    // to the old one by /Prev; pdfXrefPrevRoundtrip synthesizes that
    // two-section shape per doc (content stream only reachable via
    // the OLDER section, page tree only via the newest) so the hash
    // gates the multi-section merge — a /Prev hop skipped, an object
    // resolved from the wrong section, or a loop mis-guard all break
    // the counts or the text.
    "mm_pdf_xref_prev" -> Q(
      fn = (s, dir) =>
        pdfXrefPrevRoundtrip(docs(s, dir)).orderBy(col("doc_id")),
      oracle = Some("""
        SELECT doc_id, true AS ok,
               CAST(7 AS BIGINT) AS n_objs,
               CAST(4 AS BIGINT) AS n_streams,
               CAST(length(text) AS BIGINT) AS n_chars,
               text AS text_out
        FROM documents ORDER BY doc_id"""),
      desc = "PDF 1.5 incremental update: /Prev-chained xref sections merged newest-first, round-tripped"),

    // ── REAL FLAC decode: lossless compressed audio ─────────────────
    // The decoder (functions/FlacDecode) is the complete format —
    // Rice-partitioned residuals over fixed and LPC predictors,
    // stereo decorrelation, wasted bits, CRC-8/16 and STREAMINFO MD5
    // all verified; FlacSpec drives a real test-side encoder through
    // those paths. The gate rides the degenerate-stream lever (the
    // GIF/ADPCM/JPEG pattern): a CONSTANT-subframe mono 8-bit frame
    // whose decoded output has a closed form, synthesized per doc IN
    // SQL. Everything in the fixture is a Scala-computed constant
    // except the one sample byte v — and the frame CRC-16, which the
    // SQL computes exactly via GF(2) LINEARITY: crc16(prefix ++ [v])
    // = crc16(prefix ++ [0]) XOR table[v] because the FLAC CRC has
    // zero init/xorout and v is the final byte. The table is rendered
    // from the SAME Scala array the decoder checks against (the
    // DdBuckets shared-constant rule), and the tables themselves are
    // anchored to the public spec by FlacSpec's textbook check
    // vectors ("123456789" -> 0xF4/0xFEE8) — so the gate proves the
    // real decoder (header walk, subframe decode, both CRCs, total-
    // samples accounting) lands on the oracle's arithmetic.
    // Rice/fixed-path sibling: s0 varies per doc, s_i = s0 + i via a
    // REAL Rice-decoded residual stream (see flacRiceRoundtrip).
    "mm_decode_flac_rice" -> Q(
      fn = (s, dir) => flacRiceRoundtrip(docs(s, dir)),
      oracle = Some("""
        WITH a AS (
          SELECT doc_id, (doc_id * 13) % 64 - 128 AS s0 FROM documents)
        SELECT doc_id,
               CAST(1 AS BIGINT) AS ok,
               CAST(1 AS BIGINT) AS n_frames,
               CAST(192 AS BIGINT) AS n_samples,
               CAST(1 AS BIGINT) AS channels,
               CAST(8 AS BIGINT) AS bps,
               CAST(44100 AS BIGINT) AS sample_rate,
               CAST(s0 AS BIGINT) AS first_sample,
               CAST(192 * s0 + 18336 AS BIGINT) AS sum_samples,
               CAST(s0 + 191 AS BIGINT) AS last_sample
        FROM a ORDER BY doc_id"""),
      desc = "REAL FLAC Rice decode: unary+remainder+zigzag residuals, order-1 fixed prediction"),

    "mm_decode_flac" -> Q(
      fn = (s, dir) => flacRoundtrip(docs(s, dir)),
      oracle = Some("""
        WITH a AS (
          SELECT doc_id, (doc_id * 37) % 256 AS v FROM documents),
        b AS (
          SELECT doc_id,
                 CASE WHEN v < 128 THEN v ELSE v - 256 END AS smp
          FROM a)
        SELECT doc_id,
               CAST(1 AS BIGINT) AS ok,
               CAST(1 AS BIGINT) AS n_frames,
               CAST(1024 AS BIGINT) AS n_samples,
               CAST(1 AS BIGINT) AS channels,
               CAST(8 AS BIGINT) AS bps,
               CAST(44100 AS BIGINT) AS sample_rate,
               CAST(smp AS BIGINT) AS first_sample,
               CAST(1024 * smp AS BIGINT) AS sum_samples,
               CAST(smp AS BIGINT) AS last_sample
        FROM b ORDER BY doc_id"""),
      desc = "REAL FLAC decode: frame walk + CRC-8/16 + declared MD5 verified, constant-subframe closed form"),

    // ── REAL gzip decode: the decompress-on-ingest operator ─────────
    // At 100 TB the corpus ARRIVES gzip-compressed; `gunzip` is the
    // first per-row operator of the ingest pipeline. The fn gzip-
    // wraps each document's UTF-8 bytes as a valid RFC 1952 member
    // (stored-deflate framing; CRC-32 + ISIZE trailer via the crc32
    // built-in) and decodes it back through the native expression —
    // header-flag walk, real Inflater, RECOMPUTED trailer checks.
    // The oracle emits the original text: the hash proves the
    // compress→decompress round trip byte-for-byte. Corrupt-blob
    // semantics (NULL, never a throw) live in MultimodalSpec, where
    // real GZIPOutputStream bytes and FNAME/FHCRC variants are fed.
    "mm_gunzip" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        docs(s, dir)
          .withColumn("n", octet_length($"text").cast("long"))
          .withColumn("gz", expr("concat('1F8B08000000000000FF', " +
            s"'01', ${leHex("n", 2)}, ${leHex("65535 - n", 2)}, " +
            "hex(text), " +
            s"${leHex("crc32(CAST(text AS BINARY))", 4)}, " +
            s"${leHex("n", 4)})"))
          .withColumn("dec", expr("gunzip(unhex(gz))"))
          .select($"doc_id", octet_length($"dec").cast("long")
              .as("n_bytes"),
            $"dec".cast("string").as("text_out"))
          .orderBy($"doc_id")
      },
      oracle = Some("""
        SELECT doc_id,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               text AS text_out
        FROM documents ORDER BY doc_id"""),
      desc = "REAL gzip decode: header-flag walk + inflate + recomputed CRC/ISIZE trailer, round-tripped"),

    // ── WARC record ingest: the Common-Crawl shape end-to-end ───────
    // Web corpora arrive as .warc.gz — one gzip MEMBER per WARC
    // record (that layout is what makes the file seekable per
    // record). The fn builds exactly that per doc: a WARC/1.0
    // response record (named headers + Content-Length + the
    // double-CRLF header terminator + payload) wrapped as a valid
    // gzip member; ingest then runs the real pipeline — `gunzip`
    // (native, CRC-verified), header-field extraction, and the
    // CONTENT-LENGTH-ADDRESSED payload slice (the field is
    // authoritative in WARC; the trailing CRLFCRLF is framing, not
    // payload). The oracle emits the source fields directly, so the
    // hash proves wrap → compress → decompress → parse lands back on
    // the original record byte-for-byte. Text here is ASCII (char =
    // byte; a non-ASCII corpus would slice the decoded BYTES — the
    // Content-Length arithmetic is byte-based already).
    "corpus_warc_ingest" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        docs(s, dir)
          .withColumn("warc", concat(
            lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Record-ID: " +
              "<urn:graft:"), $"doc_id",
            lit(">\r\nWARC-Target-URI: https://example.com/doc/"),
            $"doc_id", lit("\r\nContent-Length: "),
            octet_length($"text"), lit("\r\n\r\n"), $"text",
            lit("\r\n\r\n")))
          .withColumn("n", octet_length($"warc").cast("long"))
          .withColumn("gz", expr("concat('1F8B08000000000000FF', " +
            s"'01', ${leHex("n", 2)}, ${leHex("65535 - n", 2)}, " +
            "hex(warc), " +
            s"${leHex("crc32(CAST(warc AS BINARY))", 4)}, " +
            s"${leHex("n", 4)})"))
          .withColumn("rec", expr("CAST(gunzip(unhex(gz)) AS STRING)"))
          .withColumn("content_length", expr(
            "CAST(regexp_extract(rec, 'Content-Length: ([0-9]+)', 1) " +
              "AS BIGINT)"))
          .select($"doc_id",
            expr("regexp_extract(rec, '^WARC/([0-9.]+)', 1)")
              .as("warc_version"),
            expr("regexp_extract(rec, 'WARC-Type: ([^\\r\\n]+)', 1)")
              .as("rec_type"),
            expr("regexp_extract(rec, 'WARC-Target-URI: ([^\\r\\n]+)', 1)")
              .as("target_uri"),
            $"content_length",
            expr("substr(rec, instr(rec, '\\r\\n\\r\\n') + 4, " +
              "content_length)").as("payload"))
          .orderBy($"doc_id")
      },
      oracle = Some("""
        SELECT doc_id,
               '1.0' AS warc_version,
               'response' AS rec_type,
               'https://example.com/doc/' || CAST(doc_id AS VARCHAR)
                 AS target_uri,
               CAST(octet_length(encode(text)) AS BIGINT)
                 AS content_length,
               text AS payload
        FROM documents ORDER BY doc_id"""),
      desc = "WARC ingest: per-record gzip member -> header parse -> content-length-addressed payload"),

    // ── ustar member listing: the shard-archive container ───────────
    // Document shards ship as .tar in the wild (WebDataset is exactly
    // this layout), and tar is the third container format whose
    // decode is pure byte arithmetic: OCTAL size/checksum fields,
    // 512-byte blocking, zero-block termination. The fn writes a
    // valid single-member ustar archive per doc IN SQL — octal size
    // via conv(n, 10, 8), the header checksum computed as the real
    // byte sum (fixed-field mass precomputed + name/size-field sums
    // folded at construction) — and `tar_list` walks it back the way
    // any tar reader does, RECOMPUTING the checksum over the header
    // with the checksum field as spaces. The oracle emits the source
    // fields (name, byte size, exact payload byte sum), so the hash
    // proves write → block → walk round-trips; MultimodalSpec covers
    // multi-member archives, checksum corruption, payload truncation,
    // and the space-padded octal forms real writers emit.
    "mm_tar_member" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        def ahex(str: String): String =
          str.getBytes("US-ASCII").map("%02x".format(_)).mkString
        // fixed-field checksum mass: mode+uid+gid ("0000644\0",
        // 2×"0000000\0"), mtime "00000000000\0", chksum-as-spaces,
        // typeflag '0', magic "ustar\0", version "00"
        val fixed = "0000644".sum.toInt + "0000000".sum.toInt * 2 +
          "00000000000".sum.toInt + 32 * 8 + '0'.toInt +
          "ustar".sum.toInt + "00".sum.toInt
        docs(s, dir)
          .withColumn("nm", concat(lit("doc_"), $"doc_id", lit(".txt")))
          .withColumn("n", octet_length($"text").cast("long"))
          .withColumn("nmsum", expr("aggregate(transform(" +
            "sequence(1, length(nm)), i -> CAST(ascii(substr(nm, i, 1)) " +
            "AS BIGINT)), 0L, (a, x) -> a + x)"))
          .withColumn("szoct", expr("lpad(conv(n, 10, 8), 11, '0')"))
          .withColumn("szsum", expr("aggregate(transform(" +
            "sequence(1, 11), i -> CAST(ascii(substr(szoct, i, 1)) " +
            "AS BIGINT)), 0L, (a, x) -> a + x)"))
          .withColumn("chk", expr(s"nmsum + szsum + $fixed"))
          .withColumn("hdr", expr(
            "concat(rpad(hex(nm), 200, '0'), " +
              s"'${ahex("0000644")}00', '${ahex("0000000")}00', " +
              s"'${ahex("0000000")}00', " +
              "hex(szoct), '00', " +
              s"'${ahex("00000000000")}00', " +
              "hex(lpad(conv(chk, 10, 8), 6, '0')), '0020', '30', " +
              "repeat('00', 100), " +
              s"'${ahex("ustar")}00${ahex("00")}', " +
              "repeat('00', 247))"))
          .withColumn("tar", expr("concat(hdr, " +
            "rpad(hex(text), CAST(((n + 511) div 512) * 1024 AS INT), " +
            "'0'), repeat('00', 1024))"))
          .withColumn("m", explode(expr("tar_list(unhex(tar))")))
          .select($"doc_id", $"m.name".as("name"), $"m.size".as("size"),
            $"m.typeflag".as("typeflag"), $"m.cksum_ok".as("cksum_ok"),
            $"m.payload_sum".as("payload_sum"))
          .orderBy($"doc_id")
      },
      oracle = Some("""
        SELECT doc_id,
               'doc_' || CAST(doc_id AS VARCHAR) || '.txt' AS name,
               CAST(octet_length(encode(text)) AS BIGINT) AS size,
               CAST(48 AS BIGINT) AS typeflag,
               true AS cksum_ok,
               CAST(list_sum(list_transform(
                 range(0, octet_length(encode(text))),
                 i -> ('0x' || substr(hex(encode(text)),
                   CAST(2 * i + 1 AS INT), 2))::BIGINT))
                 AS BIGINT) AS payload_sum
        FROM documents ORDER BY doc_id"""),
      desc = "ustar member walk: octal fields + recomputed header checksum, round-tripped"),

    // ── MIME sniffing: magic-byte content-type detection ─────────────
    // The FIRST operator a crawl ingest runs on every fetched payload:
    // Content-Type headers lie, so the type is sniffed from leading
    // magic bytes (the WHATWG-sniff / libmagic shape). The fn wraps
    // each doc's bytes in one of 8 containers by doc_id arithmetic —
    // PNG / JPEG / GIF / PDF / gzip / ZIP / RIFF-WAVE (a TWO-offset
    // magic: 'RIFF' at 0 AND 'WAVE' at 8) / bare text — and sniffs the
    // BinaryType blob back. Unmatched blobs fall to the printable-ASCII
    // probe ('text/plain' vs 'application/octet-stream'). The oracle
    // recomputes the expected type from the same arithmetic, with the
    // bare-text branch REPLAYING the textual magics (GIF/PDF/RIFF/ZIP
    // can legitimately appear as leading text — ZIP's PK\x03\x04 is
    // all valid UTF-8 code points; PNG/JPEG/gzip lead-byte sequences
    // are invalid UTF-8 and cannot occur in a parquet string), so the
    // hash stays honest even if a document's text itself starts with
    // a magic string. The TWO-offset RIFF/WAVE replay probes
    // hex(encode(text)) pairs — byte offsets, like the Spark side —
    // because substr(text, 9, 4) counts CHARS and a non-ASCII char
    // among the first 8 would shift it (the r14 byte-vs-char lesson;
    // the single-offset magics are prefix checks, where char prefix
    // equality IS byte prefix equality).
    "mm_sniff_magic" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        val magic = expr(
          "CASE WHEN substring(blob, 1, 8) = X'89504E470D0A1A0A' " +
            "THEN 'image/png' " +
            "WHEN substring(blob, 1, 3) = X'FFD8FF' THEN 'image/jpeg' " +
            "WHEN substring(blob, 1, 6) = X'474946383961' " +
            "OR substring(blob, 1, 6) = X'474946383761' " +
            "THEN 'image/gif' " +
            "WHEN substring(blob, 1, 5) = X'255044462D' " +
            "THEN 'application/pdf' " +
            "WHEN substring(blob, 1, 3) = X'1F8B08' " +
            "THEN 'application/gzip' " +
            "WHEN substring(blob, 1, 4) = X'504B0304' " +
            "THEN 'application/zip' " +
            "WHEN substring(blob, 1, 4) = X'52494646' " +
            "AND substring(blob, 9, 4) = X'57415645' THEN 'audio/wav' " +
            "ELSE NULL END")
        docs(s, dir)
          .withColumn("blob", expr(
            "CASE doc_id % 8 " +
              "WHEN 0 THEN concat(X'89504E470D0A1A0A', " +
              "CAST(text AS BINARY)) " +
              "WHEN 1 THEN concat(X'FFD8FFE0', CAST(text AS BINARY)) " +
              "WHEN 2 THEN concat(X'474946383961', " +
              "CAST(text AS BINARY)) " +
              "WHEN 3 THEN concat(X'255044462D312E37', " +
              "CAST(text AS BINARY)) " +
              "WHEN 4 THEN concat(X'1F8B08', CAST(text AS BINARY)) " +
              "WHEN 5 THEN concat(X'504B0304', CAST(text AS BINARY)) " +
              "WHEN 6 THEN concat(X'52494646', " +
              s"unhex(${leHex("octet_length(text) + 4", 4)}), " +
              "X'57415645', CAST(text AS BINARY)) " +
              "ELSE CAST(text AS BINARY) END"))
          .withColumn("mime", coalesce(magic,
            when($"blob".cast("string")
              .rlike("^[ -~\\t\\r\\n]*$"), "text/plain")
              .otherwise("application/octet-stream")))
          .select($"doc_id", $"mime",
            octet_length($"blob").cast("long").as("n_bytes"))
          .orderBy($"doc_id")
      },
      oracle = Some("""
        SELECT doc_id,
               CASE doc_id % 8
                 WHEN 0 THEN 'image/png'
                 WHEN 1 THEN 'image/jpeg'
                 WHEN 2 THEN 'image/gif'
                 WHEN 3 THEN 'application/pdf'
                 WHEN 4 THEN 'application/gzip'
                 WHEN 5 THEN 'application/zip'
                 WHEN 6 THEN 'audio/wav'
                 ELSE CASE
                   WHEN substr(text, 1, 6) IN ('GIF89a', 'GIF87a')
                     THEN 'image/gif'
                   WHEN substr(text, 1, 5) = '%PDF-'
                     THEN 'application/pdf'
                   WHEN substr(text, 1, 4) = 'PK' || chr(3) || chr(4)
                     THEN 'application/zip'
                   WHEN substr(hex(encode(text)), 1, 8) = '52494646'
                     AND substr(hex(encode(text)), 17, 8) = '57415645'
                     THEN 'audio/wav'
                   WHEN regexp_matches(text, '^[ -~\t\r\n]*$')
                     THEN 'text/plain'
                   ELSE 'application/octet-stream' END
               END AS mime,
               CAST(octet_length(encode(text)) +
                 CASE doc_id % 8 WHEN 0 THEN 8 WHEN 1 THEN 4
                   WHEN 2 THEN 6 WHEN 3 THEN 8 WHEN 4 THEN 3
                   WHEN 5 THEN 4 WHEN 6 THEN 12 ELSE 0 END
                 AS BIGINT) AS n_bytes
        FROM documents ORDER BY doc_id"""),
      desc = "MIME sniff: magic-byte detection over 8 container shapes incl. two-offset RIFF/WAVE"),

    // ── ZIP member walk: the backwards-read container ────────────────
    // ZIP completes the container quartet (gzip, WARC, tar, zip) and
    // is the one read BACK-TO-FRONT: EOCD found by tail scan, central
    // directory jumped to, each member's LFH followed to its payload.
    // The fn writes a valid single-member STORED zip per doc IN SQL —
    // real little-endian fields via leHex, real CRC-32 via the crc32
    // built-in — and `zip_list` walks it back the conformant way,
    // RECOMPUTING the CRC over the payload. The oracle emits the
    // source fields (name, size, exact payload byte sum), so the hash
    // proves LFH+CDFH+EOCD construction → backwards walk → CRC verify
    // round-trips. ZipSpec covers what SQL can't synthesize: real
    // multi-member DEFLATED archives from java.util.zip
    // .ZipOutputStream, comment-bearing EOCDs, and corruption
    // (bit-flips in payload/CRC/signatures).
    "mm_zip_member" -> Q(
      fn = (s, dir) => zipRoundtrip(docs(s, dir)),
      oracle = Some("""
        SELECT doc_id,
               'doc_' || CAST(doc_id AS VARCHAR) || '.txt' AS name,
               CAST(0 AS BIGINT) AS method,
               CAST(octet_length(encode(text)) AS BIGINT) AS size,
               true AS crc_ok,
               CAST(list_sum(list_transform(
                 range(0, octet_length(encode(text))),
                 i -> ('0x' || substr(hex(encode(text)),
                   CAST(2 * i + 1 AS INT), 2))::BIGINT))
                 AS BIGINT) AS payload_sum
        FROM documents ORDER BY doc_id"""),
      desc = "ZIP member walk: EOCD tail scan + central directory + recomputed CRC-32, round-tripped"),

    // ── REAL deflate ENCODE: the write side of the shard pipeline ────
    // Every container gate above DECODES; a 100 TB pipeline also
    // WRITES its releases, compressed. gzip_write runs a real LZ77 +
    // fixed-Huffman DEFLATE encoder (functions/Deflate — hash-chain
    // match finder, 32 KiB window, back-references verified against
    // the JDK Inflater in DeflateSpec) and wraps it as an RFC 1952
    // member; the gate decodes it back through `gunzip` (real
    // Inflater + recomputed CRC-32/ISIZE trailer), so the hash proves
    // encode → decode lands on the original text byte-for-byte over
    // the whole corpus — the inflater is the format adversary, and a
    // single wrong bit in any emitted Huffman code or distance pair
    // fails the member's CRC.
    "mm_deflate_roundtrip" -> Q(
      fn = (s, dir) => deflateRoundtrip(docs(s, dir)),
      oracle = Some("""
        SELECT doc_id,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               text AS text_out
        FROM documents ORDER BY doc_id"""),
      desc = "REAL deflate encode (LZ77 + fixed Huffman) -> gunzip decode, round-tripped"),

    // ── ZIP WRITE: the archive write side ───────────────────────────
    // mm_zip_member proved the backwards read walk; this gate proves
    // the WRITE side: `zip_write` builds complete multi-member
    // archives (~50 docs per shard) with DEFLATED bodies from the
    // real LZ77+fixed-Huffman encoder, full central directory and
    // EOCD — and the conformant `zip_list` walks each archive back
    // (EOCD tail scan → CD → LFH), re-INFLATES every body with the
    // JDK Inflater and RECOMPUTES every CRC-32. The oracle emits the
    // member table from first principles (rank within shard by
    // doc_id, method 8, exact payload byte sum), so the hash proves
    // archive write → backwards walk → inflate → CRC verify is
    // exactly-once and order-preserving. ZipWriteSpec adds the
    // independent adversary: java.util.zip's own ZipInputStream and
    // ZipFile read our archives byte-for-byte.
    "mm_zip_write" -> Q(
      fn = (s, dir) => zipWriteRoundtrip(docs(s, dir)),
      oracle = Some("""
        SELECT doc_id // 50 AS shard,
               CAST(row_number() OVER (PARTITION BY doc_id // 50
                 ORDER BY doc_id) - 1 AS BIGINT) AS member_idx,
               'doc_' || CAST(doc_id AS VARCHAR) || '.txt' AS name,
               CAST(8 AS BIGINT) AS method,
               CAST(octet_length(encode(text)) AS BIGINT) AS size,
               true AS crc_ok,
               CAST(list_sum(list_transform(
                 range(0, octet_length(encode(text))),
                 i -> ('0x' || substr(hex(encode(text)),
                   CAST(2 * i + 1 AS INT), 2))::BIGINT))
                 AS BIGINT) AS payload_sum
        FROM documents ORDER BY shard, member_idx"""),
      desc = "zip_write archive (deflated members + CD + EOCD) -> zip_list walk, exactly-once"),

    // ── TAR WRITE: the ustar write side ─────────────────────────────
    // The tar twin of mm_zip_write: `tar_write` emits POSIX ustar
    // streams (octal fields, checksum-over-spaces, 512 padding, two
    // zero EOF blocks) per ~50-doc shard, and `tar_list` walks them
    // back with the header checksum RECOMPUTED. commons-compress's
    // TarArchiveInputStream is the independent adversary in
    // TarWriteSpec (both directions).
    "mm_tar_write" -> Q(
      fn = (s, dir) => tarWriteRoundtrip(docs(s, dir)),
      oracle = Some("""
        SELECT doc_id // 50 AS shard,
               CAST(row_number() OVER (PARTITION BY doc_id // 50
                 ORDER BY doc_id) - 1 AS BIGINT) AS member_idx,
               'doc_' || CAST(doc_id AS VARCHAR) || '.txt' AS name,
               CAST(octet_length(encode(text)) AS BIGINT) AS size,
               CAST(48 AS BIGINT) AS typeflag,
               true AS cksum_ok,
               CAST(list_sum(list_transform(
                 range(0, octet_length(encode(text))),
                 i -> ('0x' || substr(hex(encode(text)),
                   CAST(2 * i + 1 AS INT), 2))::BIGINT))
                 AS BIGINT) AS payload_sum
        FROM documents ORDER BY shard, member_idx"""),
      desc = "tar_write ustar stream -> tar_list walk with recomputed checksums, exactly-once"),

    // ── PNG WRITE: the image write side ─────────────────────────────
    // mm_decode_png proved the decoder against Deflater-compressed
    // real streams; this gate proves the ENCODER: `png_write` runs
    // per-scanline adaptive filtering (libpng's min-sum-of-absolute
    // heuristic over None/Sub/Up), compresses the filtered stream
    // with the in-repo DEFLATE encoder wrapped as zlib (Adler-32
    // trailer), and emits CRC-32-stamped IHDR/IDAT/IEND. The plan
    // decodes every file back through the full `png_decode` (chunk
    // CRC recompute, real inflate, unfilter) — pixels are the doc's
    // bytes as 3 identical scanlines, so rows 1-2 exercise the Up
    // filter and row 0 Sub/None. The oracle recomputes the expected
    // stats container-free (byte sums over hex pairs — the r14
    // byte-vs-char lesson), so the hash proves encode → decode is
    // pixel-exact over the corpus. PngWriteSpec adds the independent
    // adversary: the JDK's ImageIO PNG plugin reads our files and we
    // read ImageIO's, both pixel-compared.
    "mm_png_write" -> Q(
      fn = (s, dir) => pngWriteRoundtrip(docs(s, dir)),
      oracle = Some("""
        SELECT doc_id,
               CAST(1 AS BIGINT) AS fmt_ok,
               CAST(octet_length(encode(text)) AS BIGINT) AS width,
               CAST(3 AS BIGINT) AS height,
               CAST(8 AS BIGINT) AS bit_depth,
               CAST((octet_length(encode(text)) + 1) * 3 AS BIGINT)
                 AS n_raw,
               CAST(3 * list_sum(list_transform(
                 range(0, octet_length(encode(text))),
                 i -> ('0x' || substr(hex(encode(text)),
                   CAST(2 * i + 1 AS INT), 2))::BIGINT))
                 AS BIGINT) AS sum_px,
               ('0x' || substr(hex(encode(text)), 1, 2))::BIGINT
                 AS first_px,
               ('0x' || substr(hex(encode(text)),
                 2 * octet_length(encode(text)) - 1, 2))::BIGINT
                 AS last_px
        FROM documents
        WHERE octet_length(encode(text)) > 0
        ORDER BY doc_id"""),
      desc = "png_write (adaptive filters + zlib over real deflate) -> png_decode, pixel-exact"),

    // ── LZ4: the low-latency codec, decoder from scratch ────────────
    // gzip/bzip2 cover the ratio end of the shard-codec family; LZ4
    // is the decode-bandwidth end (lake shards, streaming ingest).
    // The fn compresses each doc with lz4-java's FRAME writer on
    // Spark's classpath — an INDEPENDENT implementation — and decodes
    // it back with OUR from-scratch frame+block decoder (header
    // XXH32 verified, per-block walk, token/literal/match execution,
    // EndMark, declared content size AND content XXH32 re-validated;
    // the XXH32 itself is from scratch, cross-anchored in Lz4Spec).
    // The oracle emits the source text, so the hash proves a foreign
    // compressor's output decodes byte-for-byte inside the plan —
    // the corpus_bz2_ingest adversary posture, third codec.
    "mm_lz4_roundtrip" -> Q(
      fn = (s, dir) => lz4Roundtrip(docs(s, dir)),
      oracle = Some("""
        SELECT doc_id,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               text AS text_out
        FROM documents ORDER BY doc_id"""),
      desc = "lz4-java frame compress -> from-scratch LZ4 frame/block decode with XXH32 verify"),

    // ── Snappy: the parquet-page codec, decoder from scratch ────────
    // Snappy raw blocks are what parquet/ORC pages and Hadoop's
    // block codec actually embed — the fourth codec family member.
    // snappy-java (classpath) compresses each doc; OUR from-scratch
    // decoder walks the varint preamble + 2-bit tag stream (extended
    // literals, 1/2/4-byte-offset copies, overlapping copies) with
    // every bound checked and the declared length required to land
    // exactly. Foreign-compressor output validated inside the plan.
    "mm_snappy_roundtrip" -> Q(
      fn = (s, dir) => snappyRoundtrip(docs(s, dir)),
      oracle = Some("""
        SELECT doc_id,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               text AS text_out
        FROM documents ORDER BY doc_id"""),
      desc = "snappy-java compress -> from-scratch raw-block tag-walk decode, exact-length gated"),

    // ── ZSTD: the corpus-release format, decoded from scratch ───────
    // Public LLM corpora ship as `.jsonl.zst`; this gate runs the
    // REFERENCE implementation (zstd-jni, level 3, content checksum
    // ON) as the in-plan compressor and OUR from-scratch RFC 8878
    // decoder — FSE table descriptions, huff0 trees (direct and
    // FSE-compressed weights), four-stream literals, the three-state
    // backward sequence bitstream, repeat offsets, and the XXH64
    // content checksum (itself from scratch) — as the read side. The
    // oracle emits the source text: the hash proves the reference
    // compressor's real output decodes byte-for-byte over the whole
    // corpus. Entropy-shape coverage (levels 1-19, multi-block
    // streaming frames, treeless literals, dictionary rejection,
    // 300-point bit-flip fuzz) lives in ZstdSpec.
    "mm_zstd_roundtrip" -> Q(
      fn = (s, dir) => zstdRoundtrip(docs(s, dir)),
      oracle = Some("""
        SELECT doc_id,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               text AS text_out
        FROM documents ORDER BY doc_id"""),
      desc = "zstd-jni compress -> from-scratch RFC 8878 decode (FSE+huff0+XXH64), per doc"),

    // ── ZSTD shards: the multi-frame .jsonl.zst layout ──────────────
    // Release shards concatenate one frame per record so the file
    // stays seekable per record (the gzip_members story, zstd
    // edition). The fn builds each ~50-doc shard as concatenated
    // zstd-jni frames and decodes the WHOLE shard through our
    // multi-frame walk; the oracle rebuilds the expected
    // concatenation with string_agg in doc order, so the hash proves
    // frame boundaries are walked exactly-once and in order.
    "corpus_zstd_shard" -> Q(
      fn = (s, dir) => zstdShardRoundtrip(docs(s, dir)),
      oracle = Some("""
        SELECT doc_id // 50 AS shard,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(octet_length(encode(text))) AS BIGINT)
                 AS n_bytes,
               string_agg(text, '' ORDER BY doc_id) AS text_out
        FROM documents GROUP BY shard ORDER BY shard"""),
      desc = "concatenated per-doc zstd frames -> multi-frame walk, exactly-once in order"),

    // ── FLAC WRITE: the lossless-audio write side ───────────────────
    // mm_decode_flac proved the decoder on closed-form fixtures;
    // this gate proves a REAL ENCODER: per doc, the bytes (as signed
    // 8-bit mono PCM) go through fixed-predictor selection (orders
    // 0-2 by residual magnitude), exact-cost Rice parameter choice,
    // UTF-8 frame numbers, CRC-8/16, and a STREAMINFO carrying the
    // PCM's MD5 — then the full decoder re-verifies every CRC AND
    // the whole-stream MD5 while decoding. The oracle recomputes the
    // sample stats from hex pairs with the unsigned→signed fold, so
    // the hash proves encode → decode is sample-exact and the
    // declared MD5 genuinely matches. FlacSpec's independent anchors
    // (textbook CRC vectors, closed forms) pin the decoder, so the
    // pair cannot drift together.
    "mm_flac_write" -> Q(
      fn = (s, dir) => flacWriteRoundtrip(docs(s, dir)),
      oracle = Some("""
        SELECT doc_id,
               CAST(1 AS BIGINT) AS ok,
               CAST((octet_length(encode(text)) + 4095) // 4096
                 AS BIGINT) AS n_frames,
               CAST(octet_length(encode(text)) AS BIGINT)
                 AS n_samples,
               CAST(CASE WHEN ('0x' || substr(hex(encode(text)), 1,
                   2))::BIGINT > 127
                 THEN ('0x' || substr(hex(encode(text)), 1,
                   2))::BIGINT - 256
                 ELSE ('0x' || substr(hex(encode(text)), 1,
                   2))::BIGINT END AS BIGINT) AS first_sample,
               CAST(list_sum(list_transform(
                 range(0, octet_length(encode(text))),
                 i -> CASE WHEN ('0x' || substr(hex(encode(text)),
                     CAST(2 * i + 1 AS INT), 2))::BIGINT > 127
                   THEN ('0x' || substr(hex(encode(text)),
                     CAST(2 * i + 1 AS INT), 2))::BIGINT - 256
                   ELSE ('0x' || substr(hex(encode(text)),
                     CAST(2 * i + 1 AS INT), 2))::BIGINT END))
                 AS BIGINT) AS sum_samples,
               CAST(CASE WHEN ('0x' || substr(hex(encode(text)),
                   2 * octet_length(encode(text)) - 1, 2))::BIGINT
                   > 127
                 THEN ('0x' || substr(hex(encode(text)),
                   2 * octet_length(encode(text)) - 1, 2))::BIGINT
                   - 256
                 ELSE ('0x' || substr(hex(encode(text)),
                   2 * octet_length(encode(text)) - 1, 2))::BIGINT
                 END AS BIGINT) AS last_sample
        FROM documents
        WHERE octet_length(encode(text)) > 0
        ORDER BY doc_id"""),
      desc = "REAL FLAC encode (fixed predictors + exact-cost Rice) -> full decode, MD5-gated"),

    // ── MP3 frame walk + ID3v2: the audio container level ───────────
    // Layer III entropy decode stays an honest fake (no codec deps,
    // the labeled r14 limitation) — but everything a pipeline runs
    // BEFORE decode is real: the ID3v2 tag with its syncsafe 28-bit
    // size and v2.3 frame walk, and the MPEG frame walk with the
    // bitrate/sample-rate tables and the padding-sensitive
    // frame-length formula, frames required to tile the file exactly
    // to EOF. The fn synthesizes per-doc files in SQL (bitrate and
    // rate indices vary by doc, padding alternates per frame); the
    // oracle recomputes every field from the same arithmetic, so the
    // hash proves the walker's tables and formulas bit-for-bit.
    "mm_mp3_frames" -> Q(
      fn = (s, dir) => mp3Walk(docs(s, dir)),
      oracle = Some("""
        SELECT doc_id,
               CAST(11 + length('doc ' || CAST(doc_id AS VARCHAR))
                 AS BIGINT) AS id3_size,
               CAST(1 AS BIGINT) AS id3_frames,
               CAST(3 + doc_id % 5 AS BIGINT) AS n_frames,
               CAST((3 + doc_id % 5) * 1152 AS BIGINT)
                 AS total_samples,
               CAST(list_extract(list_value(44100, 48000, 32000),
                 CAST(doc_id % 3 AS INT) + 1) AS BIGINT)
                 AS sample_rate,
               CAST((3 + doc_id % 5) *
                 ((144 * 1000 * list_extract(list_value(32, 40, 48,
                   56, 64, 80, 96, 112, 128, 160, 192, 224, 256,
                   320), CAST(1 + doc_id % 14 AS INT)))
                  // list_extract(list_value(44100, 48000, 32000),
                   CAST(doc_id % 3 AS INT) + 1))
                 + (3 + doc_id % 5) // 2 AS BIGINT)
                 AS sum_frame_bytes
        FROM documents ORDER BY doc_id"""),
      desc = "MP3 container walk: ID3v2 syncsafe tag + frame-length formula, tiled to EOF"),

    // ── WebDataset: the multimodal training-shard layout ────────────
    // WebDataset — tar shards whose members pair up by stem
    // (`000123.txt` + `000123.json` [+ `.jpg` ...] = one sample) —
    // is the de-facto loader format for multimodal training. The fn
    // writes the layout with our own tar_write (two members per
    // sample, sidecar JSON via explicit concat so both engines agree
    // on bytes), walks it back with tar_list (checksums recomputed),
    // and re-pairs members by stem — the sample-grouping operator
    // itself. The oracle recomputes members-per-sample, text byte
    // sums and sidecar sizes from first principles: the hash proves
    // shard write → walk → regroup is exactly-once per sample.
    "corpus_webdataset" -> Q(
      fn = (s, dir) => webdatasetRoundtrip(docs(s, dir)),
      oracle = Some("""
        SELECT doc_id // 50 AS shard, doc_id,
               CAST(2 AS BIGINT) AS n_members,
               CAST(list_sum(list_transform(
                 range(0, octet_length(encode(text))),
                 i -> ('0x' || substr(hex(encode(text)),
                   CAST(2 * i + 1 AS INT), 2))::BIGINT))
                 AS BIGINT) AS txt_sum,
               CAST(octet_length(encode('{"id":'
                 || CAST(doc_id AS VARCHAR) || ',"n":'
                 || CAST(octet_length(encode(text)) AS VARCHAR)
                 || '}')) AS BIGINT) AS json_size
        FROM documents ORDER BY shard, doc_id"""),
      desc = "WebDataset tar shards: paired .txt/.json members re-grouped by stem, exactly-once"),

    // ── XZ: the archival codec, decoded from scratch ────────────────
    // Wikipedia dumps and long-term archives ship as `.xz`; with
    // this gate every major shard codec (DEFLATE, bzip2, LZ4,
    // snappy, zstd, XZ/LZMA) is decoded from scratch. The fn
    // compresses each doc with org.tukaani.xz — the REFERENCE Java
    // implementation, preset 6, CRC-64 check — and decodes with OUR
    // decoder: the full LZMA range coder and state machine, the
    // LZMA2 chunk layer with exact pack/unpack accounting, and the
    // XZ container with header/index/footer CRC-32s, the CRC-64
    // (table from scratch) over the decompressed block, and the
    // index re-validated against what the blocks produced. The
    // oracle emits the source text: a single wrong probability
    // adaptation anywhere in the range coder diverges the stream
    // and fails the hash.
    "mm_xz_roundtrip" -> Q(
      fn = (s, dir) => xzRoundtrip(docs(s, dir)),
      oracle = Some("""
        SELECT doc_id,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               text AS text_out
        FROM documents ORDER BY doc_id"""),
      desc = "tukaani-xz compress -> from-scratch XZ/LZMA2/LZMA decode with CRC-64 verified"),

    // ── .jsonl.zst files: the public-corpus release shape ───────────
    // RedPajama-class corpora ship EXACTLY this: JSON-lines shards,
    // zstd-framed, one file per shard. The fn writes real files
    // (executor-side writer; the lake analog is FileSystem.create)
    // with zstd-jni as the independent compressor and re-ingests
    // through binaryFile → our FROM-SCRATCH zstd decoder → line
    // split → schema'd JSON parse. The oracle emits the source rows:
    // the hash proves file write → foreign-compressed frame decode →
    // line framing → JSON parse is exactly-once over the corpus
    // (to_json escapes embedded newlines, so line framing is safe
    // for arbitrary text).
    "corpus_zst_ingest" -> Q(
      fn = (s, dir) => zstIngest(docs(s, dir)),
      oracle = Some("""
        SELECT doc_id,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               text AS text_out
        FROM documents ORDER BY doc_id"""),
      desc = ".jsonl.zst shard files: binaryFile ingest -> from-scratch zstd decode -> JSON parse"),

    // ── .tar.gz: the composed release layout ────────────────────────
    // The most common release shape of all is the two formats
    // COMPOSED: a ustar archive inside a gzip member. The fn stacks
    // the engine's own writers (tar_write → gzip_write with the real
    // LZ77+fixed-Huffman deflate) and unstacks with the conformant
    // readers (gunzip re-verifies CRC-32/ISIZE; tar_list recomputes
    // every header checksum). A single wrong bit anywhere in either
    // layer fails the member CRC or the header checksum — the hash
    // proves the full two-layer compose/decompose round trip.
    "corpus_targz_shard" -> Q(
      fn = (s, dir) => targzShardRoundtrip(docs(s, dir)),
      oracle = Some("""
        SELECT doc_id // 50 AS shard,
               CAST(row_number() OVER (PARTITION BY doc_id // 50
                 ORDER BY doc_id) - 1 AS BIGINT) AS member_idx,
               'doc_' || CAST(doc_id AS VARCHAR) || '.txt' AS name,
               CAST(octet_length(encode(text)) AS BIGINT) AS size,
               true AS cksum_ok,
               CAST(list_sum(list_transform(
                 range(0, octet_length(encode(text))),
                 i -> ('0x' || substr(hex(encode(text)),
                   CAST(2 * i + 1 AS INT), 2))::BIGINT))
                 AS BIGINT) AS payload_sum
        FROM documents ORDER BY shard, member_idx"""),
      desc = ".tar.gz compose: tar_write -> gzip_write -> gunzip -> tar_list, two-layer round trip"),

    // ── GTFS-RT protobuf: the reference domain's wire format ────────
    // The reference models dlt-flattened TripUpdate rows
    // (models/fact_trips_stops.sql:1 — trip_update__trip__trip_id,
    // stop_time_update__*); the upstream MTA feed is a GTFS-realtime
    // FeedMessage PROTOBUF. This gate synthesizes feeds from
    // orders × lineitem (entities = orders, stop_time_updates =
    // lineitems, arrival delays NEGATIVE for quantities < 25 so the
    // wire format's 10-byte sign-extended int32 varints genuinely
    // occur), packs them with the SHADED PROTOBUF runtime's
    // CodedOutputStream — protobuf's own encoder, the independent
    // adversary — and decodes with OUR from-scratch wire walker (tag
    // dispatch, nested length-delimited messages, unknown-field
    // skipping). The oracle recomputes every flattened row from the
    // source tables, so the hash proves protobuf-encode →
    // from-scratch-decode lands field-for-field across ~60k
    // stop_time_updates.
    "mta_rt_feed" -> Q(
      fn = (s, dir) => gtfsRtRoundtrip(
        Sources.table(s, dir, "orders"),
        Sources.table(s, dir, "lineitem")),
      oracle = Some("""
        SELECT 1700000000 + o_orderkey // 100 AS feed_ts,
               'e' || lpad(CAST(o_orderkey AS VARCHAR), 12, '0')
                 AS entity_id,
               't' || CAST(o_orderkey AS VARCHAR) AS trip_id,
               'R' || CAST(o_orderkey % 11 AS VARCHAR) AS route_id,
               strftime(o_orderdate, '%Y%m%d') AS start_date,
               CAST(o_orderkey % 2 AS BIGINT) AS direction_id,
               CAST(l_linenumber AS BIGINT) AS stop_sequence,
               'S' || CAST(l_partkey % 100 AS VARCHAR) AS stop_id,
               CAST(l_quantity AS BIGINT) - 25 AS arr_delay,
               1700000000 + o_orderkey * 100 + l_linenumber
                 AS arr_time,
               CAST(l_quantity AS BIGINT) - 20 AS dep_delay,
               1700000030 + o_orderkey * 100 + l_linenumber
                 AS dep_time
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        WHERE o_orderkey % 4 = 0
        ORDER BY entity_id, stop_sequence, arr_delay, stop_id"""),
      desc = "GTFS-RT protobuf: CodedOutputStream packs feeds -> from-scratch wire decode"),

    // ── Avro OCF: the row-format ingest container ───────────────────
    // Kafka archives and warehouse dumps arrive as `.avro`; the fn
    // writes each ~50-doc shard with the REAL Avro library (the
    // independent writer, deterministic sync marker, codec rotating
    // null/deflate/snappy/zstandard by shard) and OUR from-scratch
    // walker reads it back: OCF metadata map, writer schema via a
    // from-scratch JSON parse, per-block sync verification, block
    // codecs routed through the JDK Inflater and OUR snappy/zstd
    // decoders (with avro-snappy's big-endian CRC-32 recomputed),
    // and Avro binary row decode (zigzag varints, length-prefixed
    // strings). The oracle rebuilds the long-form rows from first
    // principles, so the hash proves library write → from-scratch
    // walk is exactly-once per row and field across all four codecs.
    "mm_avro_ingest" -> Q(
      fn = (s, dir) => avroIngest(docs(s, dir)),
      oracle = Some("""
        WITH ranked AS (
          SELECT doc_id // 50 AS shard,
                 CAST(row_number() OVER (PARTITION BY doc_id // 50
                   ORDER BY doc_id) - 1 AS BIGINT) AS row,
                 doc_id, text
          FROM documents)
        SELECT shard, row, field, value FROM (
          SELECT shard, row, 'doc_id' AS field,
                 CAST(doc_id AS VARCHAR) AS value FROM ranked
          UNION ALL
          SELECT shard, row, 'text' AS field, text AS value
          FROM ranked)
        ORDER BY shard, row, field"""),
      desc = "Avro library writes OCF shards (4 codecs) -> from-scratch walk + binary row decode"),

    // ── REAL bzip2 round trip: the block-sorting compressor class ────
    // The big public text dumps (Wikipedia among them) ship as .bz2;
    // this gate runs the full from-scratch codec pair per doc —
    // RLE1 → prefix-doubling BWT → MTF → RUNA/RUNB zero runs → real
    // per-block Huffman on the write side; Huffman → MTF⁻¹ →
    // counting-sort BWT⁻¹ → RLE1⁻¹ with the block CRC-32 RECOMPUTED
    // and the rotating combined CRC verified on the read side. The
    // oracle emits the original text: the hash proves the whole
    // transform stack inverts byte-for-byte over the corpus.
    // Format validity against an independent implementation
    // (commons-compress, both directions) lives in Bzip2Spec.
    "mm_bzip2_roundtrip" -> Q(
      fn = (s, dir) => bzip2Roundtrip(docs(s, dir)),
      oracle = Some("""
        SELECT doc_id,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               text AS text_out
        FROM documents ORDER BY doc_id"""),
      desc = "REAL bzip2 round trip: RLE1+BWT+MTF+Huffman encode, full decode with CRCs recomputed"),

    // ── .bz2 FILE ingest: Hadoop-compressed shards → our decoder ────
    // The file-level shape of the bzip2 story: Spark's text sink
    // writes the corpus as .txt.bz2 shard files through the HADOOP
    // BZip2 codec (the stock lake writer), and the read side loads
    // the raw files through the binaryFile source and decompresses
    // them with OUR bzip2_read — so every gate run validates our
    // decoder against an independent compressor's output INSIDE the
    // plan (third adversary direction; Bzip2Spec covers the other
    // two). Lines are doc_id\thex(text) so arbitrary text bytes
    // survive line framing; the oracle emits the source rows, so the
    // hash proves file write → codec → member decode → line parse is
    // exactly-once. Also exercises the binaryFile source (whole-file
    // bytes as rows — the ingest shape for any opaque blob format).
    "corpus_bz2_ingest" -> Q(
      fn = (s, dir) => {
        val src = docs(s, dir)
          .select(concat(col("doc_id").cast("string"), lit("\t"),
            hex(col("text").cast("binary"))).as("value"))
        val outDir = graft.Engine.sharedDir(s,
          graft.Engine.planToken(src, extra = "bz2_ingest")) { d =>
          src.coalesce(2).write.mode("overwrite")
            .option("compression", "bzip2").text(d)
        }
        s.read.format("binaryFile")
          .option("pathGlobFilter", "*.bz2").load(outDir)
          .select(expr("bzip2_read(content)").cast("string").as("raw"))
          .select(explode(split(col("raw"), "\n")).as("line"))
          .where(length(col("line")) > 0)
          .select(
            split(col("line"), "\t").getItem(0).cast("long")
              .as("doc_id"),
            unhex(split(col("line"), "\t").getItem(1)).cast("string")
              .as("text_out"))
          .orderBy(col("doc_id"))
      },
      oracle = Some("""
        SELECT doc_id, text AS text_out
        FROM documents ORDER BY doc_id"""),
      desc = ".bz2 shard ingest: Hadoop-codec-written files decoded by our bzip2_read via binaryFile"),

    // ── .gz FILE ingest: the gzip sibling of corpus_bz2_ingest ──────
    // Hadoop's GzipCodec writes REAL dynamic-Huffman deflate members
    // (zlib-class output — unlike mm_gunzip's SQL fixture, which is
    // stored-framing by construction), so this gate runs arbitrary
    // real deflate streams through `gunzip`'s Inflater + recomputed
    // trailer path on every run, file-level, inside the plan.
    "corpus_gz_ingest" -> Q(
      fn = (s, dir) => {
        val src = docs(s, dir)
          .select(concat(col("doc_id").cast("string"), lit("\t"),
            hex(col("text").cast("binary"))).as("value"))
        val outDir = graft.Engine.sharedDir(s,
          graft.Engine.planToken(src, extra = "gz_ingest")) { d =>
          src.coalesce(2).write.mode("overwrite")
            .option("compression", "gzip").text(d)
        }
        s.read.format("binaryFile")
          .option("pathGlobFilter", "*.gz").load(outDir)
          .select(expr("gunzip(content)").cast("string").as("raw"))
          .select(explode(split(col("raw"), "\n")).as("line"))
          .where(length(col("line")) > 0)
          .select(
            split(col("line"), "\t").getItem(0).cast("long")
              .as("doc_id"),
            unhex(split(col("line"), "\t").getItem(1)).cast("string")
              .as("text_out"))
          .orderBy(col("doc_id"))
      },
      oracle = Some("""
        SELECT doc_id, text AS text_out
        FROM documents ORDER BY doc_id"""),
      desc = ".gz shard ingest: Hadoop-codec real-deflate files decoded by gunzip via binaryFile"),

    // ── Shard write → member walk: the .warc.gz release layout ──────
    // Release shards ship as CONCATENATED gzip members (one per
    // record — that layout is what keeps a .warc.gz seekable per
    // record). The fn builds each shard the way a release writer
    // would: docs grouped ~50 per shard, each record compressed with
    // the REAL deflate encoder, members concatenated into one blob —
    // then re-ingests the blob through `gzip_members` (every header,
    // CRC-32 and ISIZE re-validated) and explodes the payloads back
    // out in member order. The oracle ranks each doc within its shard
    // from first principles (no contiguous-doc_id assumption — the
    // stream_web_ingest scale lesson), so the hash proves shard
    // write → multi-member walk → explode is exactly-once and
    // order-preserving over the whole corpus.
    "corpus_shard_roundtrip" -> Q(
      fn = (s, dir) => shardRoundtrip(docs(s, dir)),
      oracle = Some("""
        SELECT doc_id // 50 AS shard,
               CAST(row_number() OVER (PARTITION BY doc_id // 50
                 ORDER BY doc_id) - 1 AS BIGINT) AS member_idx,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               text AS text_out
        FROM documents ORDER BY shard, member_idx"""),
      desc = "shard write (real deflate members) -> gzip_members walk -> explode, exactly-once")
  )
}
