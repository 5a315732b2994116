package graft

import scala.reflect.{ClassTag, classTag}

import graft.functions._
import graft.plans.{AsOfJoinStrategy, PruneAsOfJoinColumns, PushFilterThroughAsOfJoin}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** The one place graft's Catalyst additions enter a session. Attach at
  * session build time:
  *
  * {{{
  * SparkSession.builder()
  *   .withExtensions(new GraftExtensions)   // or
  *   .config("spark.sql.extensions", "graft.GraftExtensions")
  * }}}
  *
  * Injects:
  *  - `AsOfJoinStrategy` — plans the native as-of join
  *    (plans/AsOfJoin.scala);
  *  - `PushFilterThroughAsOfJoin` / `PruneAsOfJoinColumns` — left-side
  *    predicate pushdown and column pruning through that operator;
  *  - every graft SQL function, one row each in
  *    [[GraftExtensions.functions]], so `expr(...)` strings and plain
  *    SQL resolve them with no per-call registration.
  *
  * Operators and models assume an extended session: `Engine.localSession`
  * builds one for the mains, and a session without the extension fails
  * analysis on the first graft function it meets.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => AsOfJoinStrategy)
    ext.injectOptimizerRule(_ => PushFilterThroughAsOfJoin)
    ext.injectOptimizerRule(_ => PruneAsOfJoinColumns)
    GraftExtensions.functions.foreach(ext.injectFunction)
  }
}

object GraftExtensions {
  type Row = (FunctionIdentifier, ExpressionInfo, FunctionBuilder)

  /** One row per SQL function: its name and its argument builder. The
    * expression class recorded for `DESCRIBE FUNCTION` is the one the
    * builder returns. */
  private def fn[E <: Expression: ClassTag](name: String)(
      build: Seq[Expression] => E): Row =
    (new FunctionIdentifier(name),
      new ExpressionInfo(classTag[E].runtimeClass.getName, name), build)

  val functions: Seq[Row] = Seq(
    fn("adpcm_decode")(e => AdpcmDecode(e(0))),
    fn("ahash64")(e => AHash64(e(0))),
    fn("avi_frames")(e => AviFrames(e(0))),
    fn("avro_read")(e => AvroRead(e(0))),
    fn("avro_write")(e => AvroWriteExpr(e(0), e(1))),
    fn("bmp_decode")(e => BmpDecode(e(0))),
    fn("bpe_merge") { e =>
      require(e.length == 3, "bpe_merge(s, bl, br) takes 3 args")
      BpeMerge(e(0), e(1), e(2))
    },
    fn("byte_window_fold")(e => ByteWindowFold(e(0), e(1), e(2))),
    fn("bzip2_read")(e => Bzip2Read(e(0))),
    fn("bzip2_write")(e => Bzip2Write(e(0))),
    fn("draw_mod64")(e => DrawMod64(e(0), e(1), e(2), e(3))),
    fn("flac_decode")(e => FlacDecode(e(0))),
    fn("flac_write")(e => FlacWriteExpr(e(0))),
    fn("gif_decode")(e => GifDecode(e(0))),
    fn("gif_frames")(e => GifFrames(e(0))),
    fn("gtfsrt_decode")(e => GtfsRtDecode(e(0))),
    fn("gtfsrt_write")(e => GtfsRtWrite(e(0))),
    fn("gunzip")(e => Gunzip(e(0))),
    fn("gzip_members")(e => GzipMembers(e(0))),
    fn("gzip_write")(e => GzipWrite(e(0))),
    fn("hilbert_d")(HilbertD.fromExprs),
    fn("hll_reg_merge")(e => RegMerge(e(0), e(1))),
    fn("hll_reg_update")(e => RegUpdate(e(0), e(1), e(2))),
    fn("jpeg_decode")(e => JpegDecode(e(0))),
    fn("jpeg_decode_rgb")(e => JpegDecodeRgb(e(0))),
    fn("kmv_min")(e => KmvMin(e(0), e(1))),
    fn("long_dot")(e => LongArrayDot(e(0), e(1))),
    fn("lz4_read")(e => Lz4Read(e(0))),
    fn("lz4_write")(e => Lz4Write(e(0))),
    fn("md5_prefix_long")(e => Md5PrefixLong(e(0), e(1))),
    fn("mp3_frames")(e => Mp3FramesExpr(e(0))),
    fn("parquet_footer")(e => ParquetFooterExpr(e(0))),
    fn("pdf_text")(e => PdfText(e(0))),
    fn("png_decode")(e => PngDecode(e(0))),
    fn("png_write")(e => PngWrite(e(0), e(1), e(2))),
    fn("snappy_read")(e => SnappyReadExpr(e(0))),
    fn("snappy_write")(e => SnappyWriteExpr(e(0))),
    fn("tar_list")(e => TarList(e(0))),
    fn("tar_write")(e => TarWrite(e(0))),
    fn("topk_min")(e => TopKMin(e(0), e(1))),
    fn("topk_min_distinct")(e => TopKMin(e(0), e(1), distinct = true)),
    fn("utf8_stats")(e => Utf8Stats(e(0))),
    fn("wav_decode")(e => WavDecode(e(0))),
    fn("xz_read")(e => XzRead(e(0))),
    fn("xz_write")(e => XzWrite(e(0))),
    fn("zip_list")(e => ZipList(e(0))),
    fn("zip_write")(e => ZipWrite(e(0))),
    fn("zstd_read")(e => ZstdRead(e(0))),
    fn("zstd_write")(e => ZstdWrite(e(0))))
}
