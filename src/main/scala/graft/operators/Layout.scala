package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Space-filling-curve data layout: Morton (Z-order) interleaving of
  * two integer dimensions, the clustered-write primitive built on it,
  * and the SQL-text twin the DuckDB oracle runs.
  *
  * Why this is an engine operator and not an app concern: at 100 TB
  * the dominant cost of a selective query is the files it CANNOT
  * skip. Sorting by one column gives perfect min/max pruning on that
  * column and none on any other; interleaving the bits of two
  * columns gives near-sqrt pruning on BOTH (a bucket of 1/k of the
  * z-range spans ~1/sqrt(k) of each dimension's range), which is the
  * layout every lakehouse engine (Delta OPTIMIZE ZORDER, Iceberg
  * sort orders) converges on. The reference's BigQuery tables get
  * this implicitly from clustering keys (dbt_project.yml cluster_by);
  * here it is explicit and auditable from parquet footer stats.
  *
  * The interleave is pure bit arithmetic (`shiftright & 1` →
  * `shiftleft`), so it stays inside whole-stage codegen and — unlike
  * a hash — is ORDER-PRESERVING per dimension at every bit prefix,
  * which is what makes min/max file stats useful after clustering.
  */
object Layout {

  /** Morton key: interleave the low `bits` bits of `x` (even
    * positions) and `y` (odd positions). Inputs must be non-negative
    * and < 2^bits (caller contract; `bits` ≤ 31 keeps the result in
    * a positive long). */
  def mortonKey(x: Column, y: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in 1..31, got $bits")
    (0 until bits).map { i =>
      shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(y, i).bitwiseAND(lit(1L)), 2 * i + 1)
    }.reduce(_ + _)
  }

  /** The same interleave as DuckDB SQL text (oracle twin of
    * [[mortonKey]] — keep expression-for-expression in sync). */
  def mortonSqlDuck(x: String, y: String, bits: Int): String =
    (0 until bits).map { i =>
      s"((($x >> $i) & 1) << ${2 * i}) + ((($y >> $i) & 1) << ${2 * i + 1})"
    }.mkString("(", " + ", ")")

  /** N-dimension Morton interleave: bit `i` of dimension `j` lands at
    * key position `i·n + j` (the 2-D [[mortonKey]] is the n = 2
    * case, dimension order preserved). Real warehouse clustering
    * routinely z-orders 3–4 columns (Delta `OPTIMIZE ZORDER BY
    * (a, b, c)`); each added dimension costs pruning power
    * (~n-th-root per dimension) but every listed column gets SOME
    * skip benefit. Inputs must be non-negative and < 2^bits;
    * n·bits ≤ 63 keeps the key a positive long. */
  def mortonKeyN(dims: Seq[Column], bits: Int): Column = {
    val n = dims.length
    require(n >= 2 && bits >= 1 && n * bits <= 63,
      s"mortonKeyN: need >=2 dims and dims*bits <= 63, got $n x $bits")
    (0 until bits).flatMap { i =>
      dims.zipWithIndex.map { case (d, j) =>
        shiftleft(shiftright(d, i).bitwiseAND(lit(1L)), i * n + j)
      }
    }.reduce(_ + _)
  }

  /** [[mortonKeyN]] as DuckDB SQL text (keep in sync). */
  def mortonSqlDuckN(cols: Seq[String], bits: Int): String = {
    val n = cols.length
    (0 until bits).flatMap { i =>
      cols.zipWithIndex.map { case (c, j) =>
        s"((($c >> $i) & 1) << ${i * n + j})"
      }
    }.mkString("(", " + ", ")")
  }

  /** Min-max scale a dimension onto the full `bits`-wide range.
    * Raw interleave is useless when one dimension's value range is
    * much narrower than the other's (its high bits are constant 0,
    * so the wide dimension alone decides the curve order and only it
    * prunes — the exact failure LayoutSpec first caught at sf0.001
    * where suppkey spans 0..10 against partkey's 0..200). Every real
    * Z-order implementation (Delta OPTIMIZE ZORDER, Iceberg) runs a
    * stats pass and normalizes each column to equal bit width first;
    * this is that normalization: (v−lo)·(2^bits−1) div (hi−lo).
    * Double division + truncating cast IS integer division here:
    * (v−lo)·m < 2^47 is exact in a double, and a non-integral true
    * quotient sits ≥ 1/(hi−lo) from the next integer — far beyond
    * one ulp — so the rounded double never crosses the boundary.
    * The DuckDB twin uses `//` on the same non-negative operands. */
  def scaleDim(v: Column, lo: Column, hi: Column, bits: Int): Column = {
    val m = (1L << bits) - 1
    ((v - lo) * m / greatest(hi - lo, lit(1L))).cast("long")
  }

  /** [[scaleDim]] as DuckDB SQL text. */
  def scaleDimSqlDuck(v: String, lo: String, hi: String, bits: Int): String =
    s"((($v) - ($lo)) * ${(1L << bits) - 1} // greatest(($hi) - ($lo), 1))"

  /** Largest per-dimension extent for which [[scaleDim]]'s
    * double-division-is-integer-division argument holds:
    * (v−lo)·(2^bits−1) must stay < 2^53 (exact in a double) — see the
    * scaleDim scaladoc. Enforced on the 1-row extent frame in
    * [[withMortonKey]] (bounds are data-dependent columns there — and
    * a guard around the per-row key would break CSE) and on the
    * driver in [[frozenKey]] / [[zorderWrite]] (bounds are known
    * longs). */
  private def maxExactExtent(bits: Int): Long =
    ((1L << 53) - 1) / ((1L << bits) - 1)

  private def requireExact(m: ZorderMeta): Unit = {
    val lim = maxExactExtent(m.bits)
    require(m.xHi - m.xLo <= lim && m.yHi - m.yLo <= lim,
      s"zorder: dimension extent exceeds the exactness contract " +
        s"(hi-lo)*(2^bits-1) < 2^53 — extents (${m.xHi - m.xLo}, " +
        s"${m.yHi - m.yLo}), limit $lim at bits=${m.bits}; lower bits")
  }

  /** Add a normalized Morton key column: one stats aggregate (4
    * numbers, broadcast back onto the rows), scale both dimensions to
    * `bits` width, interleave. This is the whole "analyze + cluster"
    * front half of OPTIMIZE ZORDER as a single declarative frame.
    * The key expression guards the [[scaleDim]] exactness contract at
    * runtime (the bounds are data-dependent columns here, so a driver
    * `require` cannot see them): an extent wide enough to break
    * (hi−lo)·(2^bits−1) < 2^53 raises instead of silently minting
    * keys that diverge from the integer-division oracle. */
  def withMortonKey(df: DataFrame, x: Column, y: Column, bits: Int,
                    keyCol: String = "_zkey"): DataFrame = {
    val lim = maxExactExtent(bits)
    // the contract check rides the 1-ROW extent frame (each _lo is
    // gated on its dimension's extent), NOT the per-row key: a
    // conditional around the key expression would disable
    // subexpression elimination of the 32 scaleDim subtrees the
    // interleave duplicates — measured 7× slower on the registered
    // layout_zorder query
    // null-safe: on EMPTY input the extent agg yields nulls and the
    // crossJoin produces zero rows — the guard must not raise there
    // (round-7 behavior: an empty frame in, an empty frame out), so a
    // null comparison passes through
    def checked(lo: Column, hi: Column): Column =
      when(coalesce(hi - lo <= lim, lit(true)), lo)
        .otherwise(raise_error(lit(
          s"zorder: dimension extent exceeds the exactness contract " +
            s"(hi-lo)*(2^bits-1) < 2^53 at bits=$bits; lower bits")))
    val ext = df.agg(
        min(x).as("_xl"), max(x).as("_xh"),
        min(y).as("_yl"), max(y).as("_yh"))
      .select(
        checked(col("_xl"), col("_xh")).as("_x_lo"),
        col("_xh").as("_x_hi"),
        checked(col("_yl"), col("_yh")).as("_y_lo"),
        col("_yh").as("_y_hi"))
    df.crossJoin(broadcast(ext))
      .withColumn(keyCol, mortonKey(
        scaleDim(x, col("_x_lo"), col("_x_hi"), bits),
        scaleDim(y, col("_y_lo"), col("_y_hi"), bits), bits))
      .drop("_x_lo", "_x_hi", "_y_lo", "_y_hi")
  }

  /** [[withMortonKey]] generalized to N dimensions: one 2N-number
    * stats pass, every dimension min-max scaled to `bits` width
    * (same exactness contract, guarded on the 1-row extent frame),
    * then the [[mortonKeyN]] interleave. The scaleDim subtrees are
    * shared by subexpression elimination exactly as in the 2-D form —
    * the guard stays OFF the per-row key (the withMortonKey CSE
    * rule). */
  def withMortonKeyN(df: DataFrame, dims: Seq[Column], bits: Int,
                     keyCol: String = "_zkey"): DataFrame = {
    val n = dims.length
    require(n >= 2 && n * bits <= 63,
      s"withMortonKeyN: need >=2 dims and dims*bits <= 63, got $n x $bits")
    val lim = maxExactExtent(bits)
    def checked(lo: Column, hi: Column): Column =
      when(coalesce(hi - lo <= lim, lit(true)), lo)
        .otherwise(raise_error(lit(
          s"zorder: dimension extent exceeds the exactness contract " +
            s"(hi-lo)*(2^bits-1) < 2^53 at bits=$bits; lower bits")))
    val aggs = dims.zipWithIndex.flatMap { case (d, j) =>
      Seq(min(d).as(s"_l$j"), max(d).as(s"_h$j")) }
    val ext = df.agg(aggs.head, aggs.tail: _*)
      .select(dims.indices.flatMap(j => Seq(
        checked(col(s"_l$j"), col(s"_h$j")).as(s"_lo$j"),
        col(s"_h$j").as(s"_hi$j"))): _*)
    df.crossJoin(broadcast(ext))
      .withColumn(keyCol, mortonKeyN(
        dims.zipWithIndex.map { case (d, j) =>
          scaleDim(d, col(s"_lo$j"), col(s"_hi$j"), bits) }, bits))
      .drop(dims.indices.flatMap(j => Seq(s"_lo$j", s"_hi$j")): _*)
  }

  /** Hilbert key: map scaled (x, y) onto the `bits`-level Hilbert
    * curve (the canonical xy2d rotate/flip walk). The per-level state
    * update is SEQUENTIAL, so it runs as the native codegen
    * [[graft.functions.HilbertD]] expression — one tight generated
    * loop per row. (A chained-Project unrolling was tried first and
    * abandoned: ~100 stacked expression nodes push the generated
    * method past the JVM JIT's 8 KB compile limit and the stage
    * silently runs interpreted — 5.5 s vs 0.23 s on 600k rows; see
    * the CLAUDE.md invariant.) The DuckDB twin
    * unrolls the same walk as chained CTEs ([[hilbertSqlDuckCtes]]):
    * a lambda fold was NOT usable — DuckDB 1.0's list_reduce
    * mis-evaluates struct-accumulator folds under vectorization
    * (verified: 16 of 64 grid points wrong in a full scan, correct
    * when evaluated row-at-a-time), so both engines run the loop-free
    * form, expression-for-expression.
    *
    * Hilbert vs Morton: both near-sqrt-prune each dimension, but the
    * Hilbert walk has no diagonal jumps — consecutive keys are always
    * grid-adjacent (LayoutSpec pins the adjacency bijection on a full
    * grid), so equal-width key ranges span tighter per-dimension
    * extents and skip more footers on the same data. */
  def withHilbertKey(df: DataFrame, x: Column, y: Column, bits: Int,
                     keyCol: String = "_hkey"): DataFrame = {
    require(bits >= 1 && bits <= 26,
      s"bits must be in 1..26 (4^bits stays a positive long), got $bits")
    val lim = maxExactExtent(bits)
    def checked(lo: Column, hi: Column): Column =
      when(coalesce(hi - lo <= lim, lit(true)), lo)
        .otherwise(raise_error(lit(
          s"hilbert: dimension extent exceeds the exactness contract " +
            s"(hi-lo)*(2^bits-1) < 2^53 at bits=$bits; lower bits")))
    val ext = df.agg(
        min(x).as("_xl"), max(x).as("_xh"),
        min(y).as("_yl"), max(y).as("_yh"))
      .select(
        checked(col("_xl"), col("_xh")).as("_x_lo"),
        col("_xh").as("_x_hi"),
        checked(col("_yl"), col("_yh")).as("_y_lo"),
        col("_yh").as("_y_hi"))
    // the walk itself runs as the native codegen'd
    // [[graft.functions.HilbertD]] expression — a 16-iteration
    // primitive loop. Chained column formulations (one Project per
    // level, CASE or branchless) stack ~100 expression nodes into a
    // generated method past the JVM JIT's 8 KB compile limit and run
    // as interpreted bytecode: measured 5–13 s vs scan-speed for
    // 600k rows at local[32].
    val carry = df.columns
    df.crossJoin(broadcast(ext)).select(
      carry.map(col) :+
        scaleDim(x, col("_x_lo"), col("_x_hi"), bits).as("_hsx") :+
        scaleDim(y, col("_y_lo"), col("_y_hi"), bits).as("_hsy"): _*)
      .select(carry.map(col) :+
        expr(s"hilbert_d(_hsx, _hsy, $bits)").as(keyCol): _*)
  }

  /** The Hilbert walk as DuckDB CTE text (oracle twin of
    * [[withHilbertKey]]'s unroll — keep level-for-level in sync):
    * starts from `$from` (which must expose columns `hx`, `hy` as the
    * SCALED dimensions plus any carry columns named in `carry`), emits
    * chained CTEs `hil_0 .. hil_$bits`, where `hil_$bits` carries the
    * final key as `hd`. */
  def hilbertSqlDuckCtes(from: String, bits: Int,
                         carry: Seq[String]): String = {
    val n1 = (1L << bits) - 1
    val cols = carry.mkString(", ")
    val steps = ((bits - 1) to 0 by -1).zipWithIndex.map { case (i, r) =>
      val s = 1L << i
      // branchless twin of the Spark side: rx/ry as 0/1, flip/swap
      // as weighted sums — keep arithmetic-for-arithmetic in sync
      s"""
        hil_${r + 1} AS (
          SELECT $cols,
            ((hy >> $i) & 1) * hx + (1 - ((hy >> $i) & 1)) *
              (((hx >> $i) & 1) * ($n1 - hy)
               + (1 - ((hx >> $i) & 1)) * hy) AS hx,
            ((hy >> $i) & 1) * hy + (1 - ((hy >> $i) & 1)) *
              (((hx >> $i) & 1) * ($n1 - hx)
               + (1 - ((hx >> $i) & 1)) * hx) AS hy,
            hd + ${s * s}::BIGINT
              * xor(((hx >> $i) & 1) * 3, (hy >> $i) & 1) AS hd
          FROM hil_$r)"""
    }.mkString(",")
    s"""
        hil_0 AS (
          SELECT $cols, hx, hy, 0::BIGINT AS hd FROM $from),$steps"""
  }

  /** Z-order clustered write: range-partition on the normalized
    * Morton key (the cluster analog of the fixed-range buckets the
    * registered query uses for its bounded oracle), sort within each
    * partition, write one file per range. RangePartitioner samples
    * boundaries — a full sort is never materialized, so this scales
    * to arbitrary input: the only global structure is the sampled
    * boundary array on the driver (plus the 4-number stats row).
    *
    * The key is PERSISTED as a `_zkey` column: parquet footer min/max
    * of `_zkey` is then the per-file curve range, which is what lets
    * [[zorderCompact]] plan a rewrite from O(files) footer METADATA
    * instead of re-keying the table (the lakehouse formats carry the
    * same stats in their manifest/log). Per-file footer stats of both
    * dimensions prune selective scans (LayoutSpec reads them back and
    * asserts the skip rate); [[read]] drops the key for consumers.
    *
    * One data pass: the 4-number extent is aggregated once, frozen
    * into literal bounds (no per-row join), and shared with the
    * sidecar metadata. Empty input writes an empty dataset with a
    * sentinel zero-extent sidecar. */
  def zorderWrite(df: DataFrame, x: Column, y: Column, bits: Int,
                  numFiles: Int, path: String,
                  curve: String = "morton"): Unit = {
    val ext = df.agg(min(x), max(x), min(y), max(y), count(lit(1))).head()
    if (ext.isNullAt(0)) {
      // distinguish 'no rows' (write the empty table + sentinel meta)
      // from 'rows but the dimension is all null' (min/max ignore
      // nulls) — silently dropping rows from a persistence operator
      // is never acceptable, so the latter fails loudly
      require(ext.getLong(4) == 0L,
        "zorderWrite: clustering dimensions are entirely null on a " +
          "non-empty input — z-order needs non-null x and y (coalesce " +
          "or filter upstream)")
      df.limit(0).withColumn(ZKEY, lit(0L))
        .write.mode("overwrite").parquet(path)
      writeMeta(df.sparkSession, path,
        ZorderMeta(0L, 0L, 0L, 0L, bits, curve))
      return
    }
    val m = ZorderMeta(
      ext.getLong(0), ext.getLong(1), ext.getLong(2), ext.getLong(3),
      bits, curve)
    requireExact(m)
    df.withColumn(ZKEY, frozenKey(m, x, y))
      .repartitionByRange(numFiles, col(ZKEY))
      .sortWithinPartitions(col(ZKEY))
      .write.mode("overwrite").parquet(path)
    // table-level metadata: the scale bounds the keys were minted
    // with. Compaction MUST reuse them — rescaling against a delta's
    // different min/max would mint incomparable keys (underscore
    // prefix: invisible to Spark's file index, like _SUCCESS).
    writeMeta(df.sparkSession, path, m)
  }

  /** The persisted curve-key column name. */
  val ZKEY = "_zkey"

  /** Read a z-ordered dataset for consumers (drops the internal
    * persisted curve key). */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path).drop(ZKEY)

  /** The frozen scale bounds of a clustered dataset (its clustering
    * metadata, as a lakehouse table format would carry). `curve` is
    * the space-filling curve the keys were minted on ("morton" |
    * "hilbert") — compaction MUST mint delta keys on the same curve
    * or ranges are incomparable; metas written before the field
    * existed read back as "morton" (the only curve they could be). */
  case class ZorderMeta(xLo: Long, xHi: Long, yLo: Long, yHi: Long,
                        bits: Int, curve: String = "morton")

  private def metaPath(path: String) = new org.apache.hadoop.fs.Path(
    path, "_zorder_meta.json")

  private def fs(spark: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def writeMeta(spark: SparkSession, path: String,
                        m: ZorderMeta): Unit = {
    val out = fs(spark, path).create(metaPath(path), true)
    out.write(
      (s"""{"xLo":${m.xLo},"xHi":${m.xHi},"yLo":${m.yLo},""" +
        s""""yHi":${m.yHi},"bits":${m.bits},"curve":"${m.curve}"}""")
        .getBytes("UTF-8"))
    out.close()
  }

  /** Read the clustering metadata [[zorderWrite]] persisted. */
  def readMeta(spark: SparkSession, path: String): ZorderMeta = {
    val in = fs(spark, path).open(metaPath(path))
    val txt = new String(
      org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
    in.close()
    def f(k: String) = s""""$k":(-?\\d+)""".r.findFirstMatchIn(txt)
      .getOrElse(sys.error(s"zorder meta missing $k in $txt"))
      .group(1).toLong
    val curve = """"curve":"(\w+)"""".r.findFirstMatchIn(txt)
      .map(_.group(1)).getOrElse("morton") // pre-curve metas are Morton
    ZorderMeta(f("xLo"), f("xHi"), f("yLo"), f("yHi"), f("bits").toInt,
      curve)
  }

  /** Curve key under FROZEN bounds (values outside them clamp to the
    * edge cells — late data beyond the original range still lands on
    * the curve, merely less selectively). Dispatches on `m.curve`;
    * the hilbert branch resolves the `hilbert_d` function that
    * GraftExtensions injects. */
  def frozenKey(m: ZorderMeta, x: Column, y: Column): Column = {
    requireExact(m)
    require(m.curve == "morton" || m.curve == "hilbert",
      s"unknown clustering curve '${m.curve}'")
    require(m.curve != "hilbert" || m.bits <= 26,
      s"hilbert needs bits <= 26, got ${m.bits}")
    def clamp(v: Column, lo: Long, hi: Long) =
      greatest(least(v, lit(hi)), lit(lo))
    val sx = scaleDim(clamp(x, m.xLo, m.xHi), lit(m.xLo), lit(m.xHi),
      m.bits)
    val sy = scaleDim(clamp(y, m.yLo, m.yHi), lit(m.yLo), lit(m.yHi),
      m.bits)
    if (m.curve == "hilbert")
      call_function("hilbert_d", sx, sy, lit(m.bits))
    else mortonKey(sx, sy, m.bits)
  }

  /** Per-file `_zkey` ranges from parquet FOOTER statistics — the
    * O(files) metadata read that replaces the round-7 full-table
    * re-keying scan ("compaction cost tracks the DELTA" is only true
    * if range derivation never touches row data). Files whose footers
    * carry no `_zkey` stats (empty files) come back with an empty
    * range marker (lo > hi) — they cannot overlap anything. */
  def fileRanges(spark: SparkSession, path: String)
      : Seq[(String, Long, Long)] = {
    import scala.jdk.CollectionConverters._
    val conf = spark.sessionState.newHadoopConf()
    val hadoopFs = fs(spark, path)
    hadoopFs.listStatus(new org.apache.hadoop.fs.Path(path))
      .filter(_.getPath.getName.startsWith("part-")).toSeq
      .map { st =>
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile
            .fromStatus(st, conf))
        try {
          val blocks = reader.getFooter.getBlocks.asScala.toSeq
          val stats = blocks
            .flatMap(_.getColumns.asScala
              .find(_.getPath.toDotString == ZKEY))
            .map(_.getStatistics)
            .filter(s => s != null && !s.isEmpty)
          if (stats.isEmpty) {
            // only a genuinely EMPTY file may lack stats; a file with
            // rows but no _zkey stats is not a graft z-ordered table
            // (e.g. a legacy layout that dropped the key, or a writer
            // with column stats disabled) — excluding it would
            // silently exempt its rows from compaction forever
            if (blocks.exists(_.getRowCount > 0))
              sys.error(s"zorder: ${st.getPath} has rows but no " +
                s"$ZKEY footer stats — not a graft z-ordered table; " +
                "rewrite it with zorderWrite before compacting")
            (st.getPath.toString, 1L, 0L)
          }
          else (st.getPath.toString,
            stats.map(_.genericGetMin
              .asInstanceOf[java.lang.Long].longValue).min,
            stats.map(_.genericGetMax
              .asInstanceOf[java.lang.Long].longValue).max)
        } finally reader.close()
      }
  }

  /** Incremental z-order compaction — the incremental OPTIMIZE shape:
    * merge `delta` into an existing z-ordered dataset REWRITING ONLY
    * the files whose curve range overlaps the delta's key range;
    * every other file is left byte-identical. This is what makes
    * z-order maintainable at 100 TB: a day's append touches a narrow
    * curve region, so compaction cost tracks the DELTA size, not the
    * table size (a full zorderWrite re-sorts everything).
    *
    * Mechanics: per-file [lo, hi] key ranges come from the parquet
    * FOOTER stats of the persisted `_zkey` column ([[fileRanges]] —
    * O(files) metadata, never a data scan; keys were minted under the
    * FROZEN table bounds of [[readMeta]], so delta keys minted under
    * the same bounds are directly comparable); a file needs rewriting
    * iff AT LEAST ONE delta key lands inside its range (an exact
    * broadcast range-probe of the tiny file-range frame — a hull test
    * would drag in every file between two distant delta clusters);
    * the rewrite region (overlapped files ∪ delta) is
    * re-range-partitioned and swapped in rename-first (the commit
    * dance a real table format does transactionally in its log: new
    * files appear under fresh names BEFORE superseded ones are
    * deleted, and every FileSystem boolean is checked — a crash
    * between the two phases leaves duplicate rows, never missing
    * ones). Like LSM/level compaction, rewritten files may
    * RANGE-OVERLAP untouched neighbors (pruning stays correct, merely
    * less tight until the next wider compaction); what is preserved
    * exactly is the data itself and the untouched files' bytes.
    * Driver state is file METADATA only (one (path, lo, hi) row per
    * file).
    *
    * Returns (filesRewritten, filesUntouched). */
  def zorderCompact(spark: SparkSession, path: String, delta: DataFrame,
                    x: Column, y: Column): (Int, Int) = {
    val m = readMeta(spark, path) // carries the table's curve
    val hadoopFs = fs(spark, path)

    val deltaKeyed = delta.withColumn(ZKEY, frozenKey(m, x, y))
    if (deltaKeyed.isEmpty) return (0, countDataFiles(hadoopFs, path))

    val ranges = fileRanges(spark, path)
    val rangesDf = spark.createDataFrame(
      spark.sparkContext.parallelize(ranges.map {
        case (f, lo, hi) => org.apache.spark.sql.Row(f, lo, hi)
      }),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("_f",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("lo",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("hi",
          org.apache.spark.sql.types.LongType))))
    val hitFiles = deltaKeyed.select(col(ZKEY))
      .join(broadcast(rangesDf),
        col(ZKEY) >= col("lo") && col(ZKEY) <= col("hi"))
      .select(col("_f")).distinct().collect().map(_.getString(0)).toSet
    val (overlap, untouched) = ranges.partition {
      case (f, _, _) => hitFiles.contains(f)
    }

    val rewriteInput = {
      // overlapped files carry their stored _zkey — read it, never
      // re-derive (re-keying is the O(rows) cost this path exists to
      // avoid; it would also silently diverge if bounds ever drifted)
      val d = deltaKeyed
      if (overlap.isEmpty) d
      else spark.read.parquet(overlap.map(_._1): _*).unionByName(d)
    }
    val nOut = math.max(1, overlap.length + 1)
    val tmp = new org.apache.hadoop.fs.Path(path, s".compact_tmp")
    rewriteInput
      .repartitionByRange(nOut, col(ZKEY))
      .sortWithinPartitions(col(ZKEY))
      .write.mode("overwrite").parquet(tmp.toString)
    // swap, rename-first: move the rewritten files in under fresh
    // names (no collision with live names), THEN delete superseded
    // ones — the failure window duplicates rows instead of losing
    // them, and any false return aborts loudly
    val stamp = java.util.UUID.randomUUID().toString.take(8)
    val moved = hadoopFs.listStatus(tmp)
      .filter(s => s.getPath.getName.startsWith("part-"))
    moved.zipWithIndex.foreach { case (s, i) =>
      val dest = new org.apache.hadoop.fs.Path(
        path, s"part-compact-$stamp-$i.parquet")
      if (!hadoopFs.rename(s.getPath, dest))
        sys.error(s"zorderCompact: rename ${s.getPath} -> $dest failed")
    }
    overlap.foreach { case (f, _, _) =>
      val p = new org.apache.hadoop.fs.Path(new java.net.URI(f).getPath)
      if (!hadoopFs.delete(p, false))
        sys.error(s"zorderCompact: delete of superseded $p failed")
    }
    if (!hadoopFs.delete(tmp, true))
      sys.error(s"zorderCompact: cleanup of $tmp failed")
    (overlap.length, untouched.length)
  }

  private def countDataFiles(hadoopFs: org.apache.hadoop.fs.FileSystem,
                             path: String): Int =
    hadoopFs.listStatus(new org.apache.hadoop.fs.Path(path))
      .count(s => s.getPath.getName.startsWith("part-"))
}
