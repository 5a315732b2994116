package graft

import graft.functions.ParquetFooter

import org.apache.spark.sql.functions._

/** The from-scratch thrift-compact footer decoder against files
  * Spark's own parquet writer produces, cross-anchored against the
  * parquet-hadoop reference reader on the classpath. */
class ParquetFooterSpec extends SparkSuite {
  import spark.implicits._

  private def writeOne(compression: String,
                       rows: Int): (Array[Byte], java.io.File) = {
    val dir = java.nio.file.Files.createTempDirectory("graft_pqf")
      .toFile
    spark.range(rows.toLong)
      .select($"id".as("k"), concat(lit("v"), $"id").as("s"),
        ($"id" * 2.5).as("d"))
      .coalesce(1)
      .write.mode("overwrite").option("compression", compression)
      .parquet(dir.getAbsolutePath)
    val f = dir.listFiles().filter(_.getName.endsWith(".parquet")).head
    (java.nio.file.Files.readAllBytes(f.toPath), dir)
  }

  private def cleanup(dir: java.io.File): Unit = {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete()
    }
    rm(dir)
  }

  test("declared num_rows/leaves/codec match the write, per codec") {
    Seq("snappy" -> "SNAPPY", "zstd" -> "ZSTD", "gzip" -> "GZIP",
      "none" -> "UNCOMPRESSED").foreach { case (opt, name) =>
      val (bytes, dir) = writeOne(opt, 1234)
      try {
        val r = ParquetFooter.read(bytes)
        assert(r != null, s"rejected a valid $opt file")
        assert(r.getLong(0) == 1234L)
        assert(r.getLong(1) >= 1L)
        assert(r.getLong(2) == 3L)
        assert(r.getUTF8String(3).toString == "k,s,d")
        assert(r.getUTF8String(4).toString == name)
        assert(r.getLong(5) == 1234L * 3)
      } finally cleanup(dir)
    }
  }

  test("cross-anchor: parquet-hadoop's own reader agrees on rows " +
    "and row-group count") {
    val (bytes, dir) = writeOne("zstd", 5000)
    try {
      val f = dir.listFiles().filter(_.getName.endsWith(".parquet"))
        .head
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(new org.apache.hadoop.fs.Path(f.getAbsolutePath),
          new org.apache.hadoop.conf.Configuration())
      val reader = org.apache.parquet.hadoop.ParquetFileReader
        .open(in)
      try {
        val meta = reader.getFooter.getBlocks
        val r = ParquetFooter.read(bytes)
        assert(r.getLong(1) == meta.size().toLong)
        val theirRows = (0 until meta.size()).map(
          meta.get(_).getRowCount).sum
        assert(r.getLong(0) == theirRows && theirRows == 5000L)
      } finally reader.close()
    } finally cleanup(dir)
  }

  test("malformed classes reject as NULL") {
    val (bytes, dir) = writeOne("zstd", 10)
    try {
      assert(ParquetFooter.read(bytes.dropRight(1)) == null,
        "clipped magic")
      assert(ParquetFooter.read(bytes.take(8)) == null, "too short")
      val badLen = bytes.clone()
      badLen(bytes.length - 6) = 0x7f // footer length overruns file
      assert(ParquetFooter.read(badLen) == null, "length overrun")
      val badMagic = bytes.clone()
      badMagic(0) = 'X'
      assert(ParquetFooter.read(badMagic) == null, "bad lead magic")
    } finally cleanup(dir)
  }

  test("SQL surface over binaryFile: footer fields line up with a " +
    "real count") {
    val (_, dir) = writeOne("zstd", 321)
    try {
      val r = spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.parquet")
        .load(dir.getAbsolutePath)
        .selectExpr("parquet_footer(content).num_rows AS n",
          "parquet_footer(content).codecs AS c")
        .head
      assert(r.getLong(0) == 321L && r.getString(1) == "ZSTD")
    } finally cleanup(dir)
  }
}
