package graft

/** Driver benchmark: one JSON line with per-query wall seconds at
  * SPARK_GRAFT_SF_DIR. A small warmup query first absorbs session /
  * codegen / parquet-footer warmup so per-query numbers reflect the
  * operators, not JVM startup; queries run in sorted name order for
  * run-to-run comparability. */
object Bench {

  /** Per-query seconds from a prior run's bench_full.json — the
    * spike guard's trailing history. Reads ONLY the `"queries"`
    * object (out_rows/gc_ms share the same key names with integer
    * values and must not shadow the timings); tolerant of absent or
    * truncated files (empty map). Unit-tested in BenchHistorySpec. */
  private[graft] def parseHistory(txt: String): Map[String, Double] = {
    val m = java.util.regex.Pattern
      .compile("\"([A-Za-z0-9_]+)\":([0-9]+\\.?[0-9]*)")
    val qSec = txt.indexOf("\"queries\":")
    val qEnd = if (qSec >= 0) txt.indexOf("}", qSec) else -1
    if (qSec < 0 || qEnd < 0) Map.empty
    else {
      val it = m.matcher(txt.substring(qSec, qEnd + 1))
      val b = Map.newBuilder[String, Double]
      while (it.find()) b += (it.group(1) -> it.group(2).toDouble)
      b.result()
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Engine.localSession(defaultCpus = 4)

    // warmup: touch every source table + run one small aggregation
    graft.sources.Sources.testTables.foreach { t =>
      graft.sources.Sources.table(spark, sfDir, t).count()
    }

    val failed = scala.collection.mutable.ListBuffer.empty[String]
    val flaky = scala.collection.mutable.ListBuffer.empty[String]
    // SPARK_GRAFT_QUERIES=a,b,c — iterate-locally subset filter; the
    // driver sets no filter, so its runs cover every query. Subset
    // runs skip upstream shared-frame builders, so a rider query
    // measured alone pays the full build — only same-set comparisons
    // are meaningful.
    val only = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // trailing history for the spike guard: the PREVIOUS run's
    // bench_full.json (the driver benches in the repo cwd, so it is
    // normally present). Per-query spikes that ROTATE at unchanged
    // code (corpus_release 14.8 s one-off in r15; 28.8 s
    // stream_conversions_outer in one sweep) are one-off JVM/host
    // events — when min-of-two still exceeds history by >2x, ONE
    // bounded extra sample adjudicates spike-vs-regression inside the
    // run instead of costing a cross-round investigation. A real
    // regression slows all three samples, so it still reads true.
    val history: Map[String, Double] =
      try parseHistory(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("bench_full.json")), "UTF-8"))
      catch { case _: Throwable => Map.empty }
    val resampled = scala.collection.mutable.ListBuffer.empty[String]
    val gcBeans = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory
        .getGarbageCollectorMXBeans.asScala
    }
    def gcMs(): Long = gcBeans.map(_.getCollectionTime).sum
    val results = selected.map { case (name, fn) =>
      // toRdd.foreach materializes every output row with all its
      // expressions evaluated — count() would let Catalyst prune
      // projections/sorts under it and understate expression-heavy
      // queries. Failures are recorded, not swallowed: a crashing
      // query must not read as a near-zero success.
      //
      // min of two back-to-back runs: a GC pause or another process
      // stealing the box mid-query shows up in ONE wall-clock sample,
      // almost never both — the min is the contention-resistant
      // estimate of what the plan costs (a real regression slows both
      // runs, so it still shows).
      // shared-frame honesty: a query that BUILDS an Engine
      // .materializeShared frame must pay the build in BOTH samples —
      // otherwise sample 2 hits the cache and min() discards the build
      // cost entirely. Snapshot the cache before sample 1 and roll
      // back what the sample added; the LAST sample rebuilds and its
      // entries stay, so later queries that merely reuse the frame
      // ride it (their cheap samples are the honest pipeline cost).
      var outRows = -1L // from the last successful sample — output-
                        // bound queries get adjudicated in s/row
      val snap0 = Engine.sharedKeys()
      val gc0 = gcMs()
      def sample(rollback: Boolean): (Boolean, Double) = {
        val t0 = System.nanoTime()
        val ok =
          try {
            // RDD-level count(): same full materialization as foreach
            // (no Catalyst pruning below toRdd), and the size is the
            // honest output row count for bench_full.json
            outRows = fn(spark, sfDir).queryExecution.toRdd.count()
            true
          }
          catch {
            case e: Throwable =>
              if (!failed.contains(name) && !flaky.contains(name)) {
                failed += name
                System.err.println(s"BENCH FAIL $name: $e")
              }
              false
          }
        val dt = (System.nanoTime() - t0) / 1e9
        // roll back this sample's shared frames AND release dead
        // checkpoint blocks (outside the timer): without the sweep,
        // 96 queries of accumulated localCheckpoints slow late
        // queries ~2x.
        if (rollback) { Engine.retainShared(snap0); Engine.unpersistStale(spark) }
        (ok, dt)
      }
      var samples = Seq(sample(rollback = true), sample(rollback = false))
      // spike guard: bounded third sample only when this run's
      // min-of-two exceeds the previous run's reading by >2x (and the
      // query is big enough for the spike to matter)
      val min2 = samples.filter(_._1).map(_._2).sorted.headOption
      history.get(name).foreach { prev =>
        if (min2.exists(m => m > 2 * prev && m > 1.0)) {
          resampled += name
          Engine.retainShared(snap0); Engine.unpersistStale(spark)
          System.gc()
          samples = samples :+ sample(rollback = false)
        }
      }
      val gcDelta = gcMs() - gc0
      // age out idle shared artifacts and release dead checkpoint
      // blocks (families are name-adjacent, so riders stay warm)
      Engine.endQuery(spark)
      // force a GC outside the timers: at 130 queries the async
      // ContextCleaner/codegen-cache churn otherwise accumulates and
      // inflates LATER queries' minimums (measured: corpus_clean
      // 5.6 s isolated vs 9.1 s late in a full run)
      System.gc()
      // only SUCCESSFUL runs are timing samples — a fast crash must
      // not min() a real measurement down to its throw time. A query
      // with no successful run reports its slowest attempt (it is
      // also in `failed`, so it cannot read as a success). A query
      // that crashed once but succeeded later is FLAKY, not failed —
      // its reported time is the successful sample, and the name moves
      // to `flaky` so the JSON never shows a query as both failed and
      // normally timed.
      val good = samples.filter(_._1).map(_._2)
      if (good.nonEmpty && failed.contains(name)) {
        failed -= name
        flaky += name
      }
      val rt = Runtime.getRuntime
      val heapMb = (rt.totalMemory - rt.freeMemory) / 1048576
      (name, (if (good.nonEmpty) good.min else samples.map(_._2).max),
        outRows, gcDelta, heapMb)
    }
    val qs = results.map { case (k, v, _, _, _) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val rowsJson = results.map { case (k, _, n, _, _) => "\"" + k + "\":" + n }
      .mkString("{", ",", "}")
    val gcJson = results.map { case (k, _, _, g, _) => "\"" + k + "\":" + g }
      .mkString("{", ",", "}")
    val heapJson = results.map { case (k, _, _, _, h) => "\"" + k + "\":" + h }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val flakyJson = flaky.map("\"" + _ + "\"").mkString("[", ",", "]")
    val resampledJson = resampled.map("\"" + _ + "\"").mkString("[", ",", "]")
    val fullLine = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"out_rows":$rowsJson,"gc_ms":$gcJson,"heap_mb":$heapJson,"failed":$failedJson,"flaky":$flakyJson,"spike_resampled":$resampledJson,"runs_per_query":2,"agg":"min","sf":"$sfDir"}"""
    println(fullLine)
    // the driver keeps only the LAST ~2000 chars of stdout and parses
    // the JSON it finds there; the full line above is ~4 KB at 150+
    // queries, so it never parsed (BENCH_r*.json carried
    // "parsed": null every round). Persist the full map to a file and
    // END stdout with a compact line that fits the tail window:
    // slowest queries first (the ones worth reading), truncated to a
    // strict char budget.
    try java.nio.file.Files.write(java.nio.file.Paths.get("bench_full.json"),
      (fullLine + "\n").getBytes("UTF-8"))
    catch { case _: Throwable => () } // bench output must not die on a read-only cwd
    val budget = 1800
    val prefix = s"""{"metric":"total","value":${"%.3f".format(total)},"unit":"sec","n_queries":${results.size},"failed":$failedJson,"flaky":$flakyJson,"runs_per_query":2,"agg":"min","sf":"$sfDir","queries_full":"bench_full.json","queries":{"""
    val suffixLen = "},\"queries_truncated\":false}".length
    val entries = results.sortBy(-_._2)
      .map { case (k, v, _, _, _) => "\"" + k + "\":" + "%.3f".format(v) }
    val kept = scala.collection.mutable.ListBuffer.empty[String]
    var len = prefix.length + suffixLen
    entries.foreach { e =>
      if (len + e.length + 1 <= budget) { kept += e; len += e.length + 1 }
    }
    val truncated = kept.size < entries.size
    println(prefix + kept.mkString(",") + s"""},"queries_truncated":$truncated}""")
    spark.stop()
  }
}
