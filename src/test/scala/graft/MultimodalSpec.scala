package graft

import graft.multimodal.Multimodal
import graft.sources.Sources
import org.apache.spark.sql.functions._

/** Binary-column batch pipeline: schema, partition batching, and that
  * the mapPartitions decode agrees with the expression-based mm_decode
  * query on the shared fields. */
class MultimodalSpec extends SparkSuite {
  import spark.implicits._

  test("mapPartitions decode pipeline produces typed features") {
    val docs = Sources.table(spark, sf(), "documents")
    val decoded = Multimodal.decodeAssets(
      Multimodal.syntheticAssets(docs).repartition(4))
    val rows = decoded.collect()
    assert(rows.length === docs.count())
    assert(rows.forall(_.n_bytes === 32)) // sha256 payload
    assert(rows.forall(r => r.width >= 1 && r.width <= 8))
    // agrees with the expression-based mm_decode on width/height
    val viaExpr = SparkEntry.queries("mm_decode")(spark, sf())
      .select($"doc_id", $"width", $"height").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    rows.foreach { r =>
      assert(viaExpr(r.doc_id) === (r.width.toLong, r.height.toLong),
        s"doc ${r.doc_id}")
    }
  }

  test("mm_scene_detect: scenes partition all 16 frames contiguously") {
    val out = SparkEntry.queries("mm_scene_detect")(spark, sf()).cache()
    // every video's scenes cover exactly its 16 frames
    val cover = out.groupBy($"doc_id")
      .agg(sum($"n_frames").as("tot"), min($"start_frame").as("lo"),
        max($"end_frame").as("hi"))
    assert(cover.filter($"tot" =!= 16L || $"lo" =!= 0L || $"hi" =!= 15L)
      .count() === 0)
    // scene_id k+1 starts right after scene k ends (contiguous runs),
    // and frame counts match span lengths
    val broken = out.filter(
      $"n_frames" =!= $"end_frame" - $"start_frame" + 1L)
    assert(broken.count() === 0)
    // scene 0 always starts at frame 0 (first frame is always a cut)
    assert(out.filter($"scene_id" === 0L && $"start_frame" =!= 0L)
      .count() === 0)
    out.unpersist()
  }

  test("mm_audio_match / mm_video_match: constructed twins align and dominate false pairs") {
    // audio: every same-doc pair matches at EXACTLY the constructed
    // 1-window shift, and true pairs carry strictly more aligned
    // landmarks than the best false pair
    val am = SparkEntry.queries("mm_audio_match")(spark, sf()).cache()
    val amTrue = am.filter($"same_doc")
    assert(amTrue.count() > 0)
    assert(amTrue.filter($"t_offset" =!= 1L).count() === 0,
      "audio twins must align at the constructed offset 1")
    val amMaxTrue = amTrue.agg(max($"n_matches")).head.getLong(0)
    val amMaxFalse = am.filter(!$"same_doc").agg(
      coalesce(max($"n_matches"), lit(0L))).head.getLong(0)
    assert(amMaxTrue > amMaxFalse,
      s"audio: true max $amMaxTrue must beat false max $amMaxFalse")
    am.unpersist()
    // video: same shape at the constructed 2-frame trim
    val vm = SparkEntry.queries("mm_video_match")(spark, sf()).cache()
    val vmTrue = vm.filter($"same_doc")
    assert(vmTrue.count() > 0)
    assert(vmTrue.filter($"f_offset" =!= 2L).count() === 0,
      "video twins must align at the constructed 2-frame trim")
    val vmMaxTrue = vmTrue.agg(max($"n_matches")).head.getLong(0)
    val vmMaxFalse = vm.filter(!$"same_doc").agg(
      coalesce(max($"n_matches"), lit(0L))).head.getLong(0)
    assert(vmMaxTrue > vmMaxFalse,
      s"video: true max $vmMaxTrue must beat false max $vmMaxFalse")
    vm.unpersist()
  }
  test("wav_decode: real chunk walk — unknown chunks skipped, malformed rejected") {
    def le(v: Long, n: Int): Array[Byte] =
      (0 until n).map(k => ((v >> (8 * k)) & 0xff).toByte).toArray
    def chunk(id: String, body: Array[Byte]): Array[Byte] =
      id.getBytes("US-ASCII") ++ le(body.length.toLong, 4) ++ body ++
        (if (body.length % 2 == 1) Array(0.toByte) else Array.empty[Byte])
    val fmt = chunk("fmt ", le(1, 2) ++ le(2, 2) ++ le(44100, 4) ++
      le(44100L * 4, 4) ++ le(4, 2) ++ le(16, 2))
    val pcm = Array[Byte](1, 0, -1, -1, 0, -128, 100, 2) // 2 frames
    val data = chunk("data", pcm)
    // a LIST metadata chunk with an ODD body (word-align path) sits
    // BETWEEN fmt and data — a decoder that assumes offset 36 breaks
    val list = chunk("LIST", "INFOx".getBytes("US-ASCII"))
    def wav(chunks: Array[Byte]): Array[Byte] =
      "RIFF".getBytes("US-ASCII") ++ le(4L + chunks.length, 4) ++
        "WAVE".getBytes("US-ASCII") ++ chunks
    def dec(b: Array[Byte]): Seq[Long] =
      Seq(b).toDF("w").select(expr("wav_decode(w)")).collect()(0)
        .getSeq[Long](0)
    val good = dec(wav(fmt ++ list ++ data))
    // s1=1, s2=-1, s3=-32768, s4=612 -> energy
    val want = 1L * 1 + 1L * 1 + 32768L * 32768 + 612L * 612
    assert(good === Seq(1L, 2L, 44100L, 16L, 8L, 2L, want))
    // chunk order flipped: data before fmt still decodes
    assert(dec(wav(data ++ list ++ fmt)) === good)
    // malformed family: bad magic, non-PCM tag, missing data,
    // inconsistent block align, truncation mid-header
    val badMagic = wav(fmt ++ data); badMagic(9) = 'X'.toByte
    val nonPcm = chunk("fmt ", le(3, 2) ++ le(2, 2) ++ le(44100, 4) ++
      le(44100L * 4, 4) ++ le(4, 2) ++ le(16, 2))
    val badAlign = chunk("fmt ", le(1, 2) ++ le(2, 2) ++ le(44100, 4) ++
      le(44100L * 4, 4) ++ le(3, 2) ++ le(16, 2))
    for (b <- Seq(badMagic, wav(nonPcm ++ data), wav(fmt),
      wav(badAlign ++ data), wav(fmt ++ data).take(20),
      Array[Byte](1, 2, 3)))
      assert(dec(b) === Seq.fill(7)(0L), "malformed must yield fmt_ok=0")
    // a data chunk whose declared size overruns the file clamps
    val overrun = wav(fmt ++ chunk("data", pcm).dropRight(4))
    val d = dec(overrun)
    assert(d(0) === 1L && d(4) === 4L && d(5) === 1L,
      s"overrun data must clamp to available bytes: $d")
  }

  test("bmp_decode: padded rows, bottom-up vs top-down, malformed rejected") {
    def le(v: Long, n: Int): Array[Byte] =
      (0 until n).map(k => ((v >> (8 * k)) & 0xff).toByte).toArray
    // 2x2 24-bit BMP: stride 8 (2 pad bytes per row, set NONZERO to
    // prove the decoder excludes padding from the sums)
    def bmp(h: Int, rows: Array[Byte]): Array[Byte] =
      "BM".getBytes("US-ASCII") ++ le(54L + rows.length, 4) ++
        le(0, 4) ++ le(54, 4) ++
        le(40, 4) ++ le(2, 4) ++ le(h.toLong & 0xffffffffL, 4) ++
        le(1, 2) ++ le(24, 2) ++ le(0, 4) ++ le(rows.length.toLong, 4) ++
        le(0, 4) ++ le(0, 4) ++ le(0, 4) ++ le(0, 4) ++ rows
    // file row 0 = pixels (1,2,3),(4,5,6); row 1 = (7,8,9),(10,11,12)
    val rows = Array[Byte](1, 2, 3, 4, 5, 6, 99, 99,
                           7, 8, 9, 10, 11, 12, 99, 99)
    def dec(b: Array[Byte]): Seq[Long] =
      Seq(b).toDF("w").select(expr("bmp_decode(w)")).collect()(0)
        .getSeq[Long](0)
    val up = dec(bmp(2, rows))
    // padding bytes (99) excluded: sum = 1+..+12 = 78; blue = 1+4+7+10
    assert(up === Seq(1L, 2L, 2L, 24L, 8L, 78L, 22L,
      7L * 65536 + 8 * 256 + 9), s"bottom-up: $up")
    // TOP-DOWN (negative height): same sums, top-left now file row 0
    val down = dec(bmp(-2, rows))
    assert(down(7) === 1L * 65536 + 2 * 256 + 3 && down(5) === 78L,
      s"top-down: $down")
    // malformed: bad magic, 8bpp, compressed, truncated pixel array
    val badMagic = bmp(2, rows); badMagic(0) = 'X'.toByte
    val bpp8 = bmp(2, rows); bpp8(28) = 8.toByte
    val comp = bmp(2, rows); comp(30) = 1.toByte
    for (b <- Seq(badMagic, bpp8, comp, bmp(2, rows).dropRight(3),
      Array[Byte](1)))
      assert(dec(b) === Seq.fill(8)(0L), "malformed must yield fmt_ok=0")
  }

  test("gunzip: real GZIPOutputStream bytes, header flags, corrupt rejects") {
    def dec(b: Array[Byte]): Option[Array[Byte]] = {
      val r = Seq(b).toDF("g").select(expr("gunzip(g)")).collect()(0)
      if (r.isNullAt(0)) None else Some(r.getAs[Array[Byte]](0))
    }
    val payload = ("the quick brown fox " * 20).getBytes("UTF-8")
    // REAL compressed stream (dynamic-huffman deflate, not stored)
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(payload); gz.close()
    assert(dec(bos.toByteArray).exists(_.sameElements(payload)))
    // FNAME + FCOMMENT + FHCRC flags: build a header with all three
    val deflater = new java.util.zip.Deflater(
      java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
    deflater.setInput(payload); deflater.finish()
    val dbuf = new Array[Byte](payload.length + 64)
    val dn = deflater.deflate(dbuf); deflater.end()
    val hdr0 = Array[Byte](0x1f.toByte, 0x8b.toByte, 8,
      (0x08 | 0x10 | 0x02).toByte, 0, 0, 0, 0, 0, 0xff.toByte) ++
      "name.txt".getBytes("US-ASCII") ++ Array(0.toByte) ++
      "a comment".getBytes("US-ASCII") ++ Array(0.toByte)
    val hcrc = new java.util.zip.CRC32(); hcrc.update(hdr0)
    val hdr = hdr0 ++ Array(((hcrc.getValue & 0xff)).toByte,
      (((hcrc.getValue >> 8) & 0xff)).toByte)
    val pcrc = new java.util.zip.CRC32(); pcrc.update(payload)
    def le(v: Long, n: Int): Array[Byte] =
      (0 until n).map(k => ((v >> (8 * k)) & 0xff).toByte).toArray
    val full = hdr ++ dbuf.take(dn) ++ le(pcrc.getValue, 4) ++
      le(payload.length.toLong, 4)
    assert(dec(full).exists(_.sameElements(payload)),
      "FNAME/FCOMMENT/FHCRC header variant must decode")
    // corrupt: flipped payload bit (CRC catches), bad magic, bad
    // header CRC, truncation, ISIZE mismatch, trailing garbage
    val flip = bos.toByteArray.clone()
    flip(14) = (flip(14) ^ 0x10).toByte
    assert(dec(flip).isEmpty, "payload corruption must yield NULL")
    val badMagic = bos.toByteArray.clone(); badMagic(0) = 0x1e.toByte
    assert(dec(badMagic).isEmpty)
    val badHcrc = full.clone()
    badHcrc(hdr.length - 1) = (badHcrc(hdr.length - 1) ^ 1).toByte
    assert(dec(badHcrc).isEmpty, "header CRC mismatch must yield NULL")
    assert(dec(bos.toByteArray.dropRight(3)).isEmpty)
    val badIsize = bos.toByteArray.clone()
    badIsize(badIsize.length - 1) =
      (badIsize(badIsize.length - 1) ^ 1).toByte
    assert(dec(badIsize).isEmpty)
    assert(dec(bos.toByteArray ++ Array[Byte](1, 2, 3)).isEmpty,
      "trailing garbage after the member must be rejected")
  }

  test("tar_list: multi-member walk, checksum verify, truncation, octal forms") {
    def member(name: String, payload: Array[Byte],
               spacePadOctal: Boolean = false): Array[Byte] = {
      val hdr = new Array[Byte](512)
      System.arraycopy(name.getBytes("US-ASCII"), 0, hdr, 0, name.getBytes("US-ASCII").length)
      System.arraycopy("0000644".getBytes, 0, hdr, 100, "0000644".getBytes.length)
      System.arraycopy("0000000".getBytes, 0, hdr, 108, "0000000".getBytes.length)
      System.arraycopy("0000000".getBytes, 0, hdr, 116, "0000000".getBytes.length)
      val oct = payload.length.toOctalString
      val szField = if (spacePadOctal) (" " * (11 - oct.length)) + oct
                    else ("0" * (11 - oct.length)) + oct
      System.arraycopy(szField.getBytes, 0, hdr, 124, szField.getBytes.length)
      System.arraycopy("00000000000".getBytes, 0, hdr, 136, "00000000000".getBytes.length)
      hdr(156) = '0'.toByte
      System.arraycopy("ustar".getBytes, 0, hdr, 257, "ustar".getBytes.length)
      System.arraycopy("00".getBytes, 0, hdr, 263, "00".getBytes.length)
      java.util.Arrays.fill(hdr, 148, 156, ' '.toByte)
      var sum = 0L; hdr.foreach(b => sum += (b & 0xff))
      val ck = sum.toOctalString
      val ckb = (("0" * (6 - ck.length)) + ck).getBytes
      System.arraycopy(ckb, 0, hdr, 148, ckb.length)
      hdr(154) = 0; hdr(155) = ' '.toByte
      val padded = payload ++
        new Array[Byte](((payload.length + 511) / 512) * 512 -
          payload.length)
      hdr ++ padded
    }
    def dec(b: Array[Byte]) =
      Seq(b).toDF("t").select(expr("inline(tar_list(t))"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getBoolean(3), r.getLong(4)))
    val p1 = "hello tar".getBytes("US-ASCII")
    val p2 = ("x" * 700).getBytes("US-ASCII") // spans 2 blocks
    val arch = member("a.txt", p1) ++
      member("dir/b.txt", p2, spacePadOctal = true) ++
      new Array[Byte](1024)
    val got = dec(arch)
    assert(got.length === 2)
    assert(got(0) === (("a.txt", p1.length.toLong, '0'.toLong, true,
      p1.map(_ & 0xffL).sum)))
    assert(got(1) === (("dir/b.txt", 700L, '0'.toLong, true,
      p2.map(_ & 0xffL).sum)),
      "space-padded octal size (the GNU form) must parse")
    // checksum corruption: flip a name byte AFTER checksum computed -
    // the member flags cksum_ok=false and the walk stops
    val bad = arch.clone(); bad(1) = 'X'.toByte
    val badGot = dec(bad)
    assert(badGot.length === 1 && !badGot(0)._4)
    // truncation: second member's payload cut off mid-block
    val trunc = dec(arch.dropRight(1024 + 512))
    assert(trunc.length === 2 && trunc(0)._4 && !trunc(1)._4,
      s"truncated payload must flag the member: $trunc")
    // bare zero blocks = empty archive
    assert(dec(new Array[Byte](1024)).isEmpty)
  }
}
