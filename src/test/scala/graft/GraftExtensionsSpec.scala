package graft

import org.apache.spark.sql.GraftBridge

/** GraftExtensions must wire the custom strategy, rules and every SQL
  * function into a session built with withExtensions — the suite
  * session is one (SparkSuite), so nothing here registers by hand. */
class GraftExtensionsSpec extends SparkSuite {

  /** The functions the table must carry, pinned by name: dropping or
    * renaming a row fails here, not in whichever query used it. */
  private val expectedNames = Set(
    "adpcm_decode", "ahash64", "avi_frames", "avro_read", "avro_write",
    "bmp_decode", "bpe_merge", "byte_window_fold", "bzip2_read",
    "bzip2_write", "draw_mod64", "flac_decode", "flac_write",
    "gif_decode", "gif_frames", "gtfsrt_decode", "gtfsrt_write",
    "gunzip", "gzip_members", "gzip_write", "hilbert_d",
    "hll_reg_merge", "hll_reg_update", "jpeg_decode", "jpeg_decode_rgb",
    "kmv_min", "long_dot", "lz4_read", "lz4_write", "md5_prefix_long",
    "mp3_frames", "parquet_footer", "pdf_text", "png_decode",
    "png_write", "snappy_read", "snappy_write", "tar_list", "tar_write",
    "topk_min", "topk_min_distinct", "utf8_stats", "wav_decode",
    "xz_read", "xz_write", "zip_list", "zip_write", "zstd_read",
    "zstd_write")

  test("the function table holds exactly the pinned names, once each") {
    val names = GraftExtensions.functions.map(_._1.funcName)
    assert(expectedNames.size === 49)
    assert(names.size === names.distinct.size, "duplicate table rows")
    assert(names.toSet === expectedNames)
  }

  test("every table row resolves in the session, from SQL too") {
    val registry = spark.sessionState.functionRegistry
    GraftExtensions.functions.foreach { case (id, info, _) =>
      assert(registry.functionExists(id), s"${id.funcName} not injected")
      val desc = spark.sql(s"DESCRIBE FUNCTION ${id.funcName}")
        .collect().map(_.getString(0))
      assert(desc.contains(s"Function: ${id.funcName}"), desc.mkString("\n"))
      assert(desc.contains(s"Class: ${info.getClassName}"),
        desc.mkString("\n"))
    }
  }

  test("the codec family is SQL-callable without manual registration") {
    val r = spark.sql(
      "SELECT CAST(gunzip(gzip_write(CAST('ab ab ab' AS BINARY))) " +
        "AS STRING) AS g, " +
        "CAST(bzip2_read(bzip2_write(CAST('cd cd cd' AS BINARY))) " +
        "AS STRING) AS b, " +
        "size(gzip_members(concat(gzip_write(CAST('x' AS BINARY)), " +
        "gzip_write(CAST('y' AS BINARY))))) AS m, " +
        "flac_decode(CAST('nope' AS BINARY))[0] AS f")
      .collect().head
    assert(r.getString(0) == "ab ab ab")
    assert(r.getString(1) == "cd cd cd")
    assert(r.getInt(2) == 2)
    assert(r.getLong(3) == 0L) // malformed -> ok=0 row
  }

  test("long_dot is SQL-callable without manual registration") {
    val d = spark.sql("SELECT long_dot(array(1L, 2L), array(3L, 4L)) AS d")
      .collect().head.getLong(0)
    assert(d === 11L)
  }

  test("hilbert_d is SQL-callable and matches the reference walk") {
    // xy2d(8, 1, 2) = 13 per the canonical reference implementation
    val d = spark.sql("SELECT hilbert_d(1L, 2L, 3) AS d")
      .collect().head.getLong(0)
    assert(d === 13L)
  }

  test("ahash64 is SQL-callable without manual registration") {
    val d = spark.sql(
      "SELECT ahash64(unhex(sha2('doc0', 256))) AS h").collect().head
    assert(!d.isNullAt(0))
  }

  test("hilbert_d accepts a bigint bits literal (shared builder parity)") {
    // the table row is HilbertD.fromExprs, which narrows a bigint bits
    // literal exactly like an int one
    val d = spark.sql("SELECT hilbert_d(1L, 2L, 3L) AS d")
      .collect().head.getLong(0)
    assert(d === 13L)
  }

  test("topk_min is SQL-callable without manual registration") {
    val rows = spark.sql("""
      SELECT g, topk_min(struct(v, id), 2) AS tk FROM VALUES
        (1, 30L, 1L), (1, 10L, 2L), (1, 20L, 3L), (2, 5L, 4L)
        AS t(g, v, id)
      GROUP BY g ORDER BY g""").collect()
    val g1 = rows(0).getSeq[org.apache.spark.sql.Row](1)
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(g1 == Seq((10L, 2L), (20L, 3L)))
    val g2 = rows(1).getSeq[org.apache.spark.sql.Row](1)
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(g2 == Seq((5L, 4L)))
  }

  test("AsOfJoin plans through the injected strategy (no fallback)") {
    val s = spark
    import s.implicits._
    val l = Seq((1L, 10L, "p"), (2L, 20L, "q")).toDF("k", "t", "name")
    val r = Seq((1L, 5L, "c")).toDF("rk", "rt", "rname")
    def attr(df: org.apache.spark.sql.DataFrame, n: String) =
      df.queryExecution.analyzed.output.find(_.name == n).get
    val node = graft.plans.AsOfJoin(
      l.queryExecution.analyzed, r.queryExecution.analyzed,
      Seq(attr(l, "k")), Seq(attr(r, "rk")),
      attr(l, "t"), attr(r, "rt"))
    val out = GraftBridge.ofRows(s, node)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin "), s"strategy not injected:\n$plan")
    val rows = out.collect().map(x => x.getString(2) -> x.getString(5)).toMap
    assert(rows("p") === "c")   // match at-or-before
    assert(rows("q") === null)  // no right rows for key 2
  }
}
