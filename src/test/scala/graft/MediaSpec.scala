package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.multimodal.Media

class MediaSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // shared LZW dictionary workspace, as a partition would pool it
  private lazy val gifWs = new Media.LzwWorkspace()

  test("media plumbing: binary column synthesis, batch decode shape, deterministic features") {
    val docs = Tables.documents(spark, SparkTestSession.sfTiny)
    val media = Media.fromDocuments(docs)
    assert(media.schema("content").dataType.typeName === "binary")
    assert(media.select("kind").distinct().as[String].collect().toSet ===
      Set("image", "audio", "video"))

    val feats = Media.decodeStub(media)
    val rows = feats.collect()
    assert(rows.length === docs.count())
    assert(rows.forall(_.features.length == Media.FeatureDim))
    assert(rows.filter(_.kind == "video").forall(_.n_frames >= 1))
    assert(rows.filter(_.kind != "video").forall(_.n_frames == 1))

    // determinism: second run produces identical features
    val again = Media.decodeStub(media).collect()
    assert(rows.map(r => r.media_id -> r.features.toSeq).toMap ===
      again.map(r => r.media_id -> r.features.toSeq).toMap)
  }

  test("featureSummary aggregates per kind") {
    val out = Media.featureSummary(Tables.documents(spark, SparkTestSession.sfTiny))
    assert(out.count() === 3)
    assert(out.columns.toSet === Set("kind", "n_media", "sum_width", "sum_frames", "min_id"))
  }

  test("headerDims parses real PNG/GIF/BMP headers and nulls unknown bytes") {
    import org.apache.spark.sql.functions.col
    // handcrafted REAL format headers with known dimensions
    def be32(v: Int) = Array((v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
    def le16(v: Int) = Array(v.toByte, (v >> 8).toByte)
    def le32(v: Int) = Array(v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    val png = Array(0x89.toByte, 'P'.toByte, 'N'.toByte, 'G'.toByte,
      0x0D.toByte, 0x0A.toByte, 0x1A.toByte, 0x0A.toByte) ++
      be32(13) ++ "IHDR".getBytes("US-ASCII") ++ be32(640) ++ be32(480) ++
      Array[Byte](8, 6, 0, 0, 0)
    val gif = "GIF89a".getBytes("US-ASCII") ++ le16(320) ++ le16(200) ++
      Array[Byte](0, 0, 0)
    val bmp = "BM".getBytes("US-ASCII") ++ le32(9999) ++ le32(0) ++ le32(54) ++
      le32(40) ++ le32(1024) ++ le32(768)
    val junk = "just some text".getBytes("US-ASCII")
    val df = Seq((1L, png), (2L, gif), (3L, bmp), (4L, junk)).toDF("id", "content")
      .select(col("id"), Media.headerDims(col("content")).as("h"))
      .select(col("id"), col("h.format"), col("h.width"), col("h.height"))
    val got = df.as[(Long, Option[String], Option[Long], Option[Long])]
      .collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) == ((Some("png"), Some(640L), Some(480L))))
    assert(got(2L) == ((Some("gif"), Some(320L), Some(200L))))
    assert(got(3L) == ((Some("bmp"), Some(1024L), Some(768L))))
    assert(got(4L) == ((None, None, None)))
  }

  test("audioMeta parses a real WAV/RIFF fmt chunk and nulls non-audio bytes") {
    import org.apache.spark.sql.functions.col
    def le16(v: Int) = Array(v.toByte, (v >> 8).toByte)
    def le32(v: Int) = Array(v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    val wav = "RIFF".getBytes("US-ASCII") ++ le32(1234) ++
      "WAVE".getBytes("US-ASCII") ++ "fmt ".getBytes("US-ASCII") ++ le32(16) ++
      le16(1) ++ le16(2) ++ le32(44100) ++ le32(176400) ++ le16(4) ++ le16(16)
    val junk = "RIFFbut not a wave file".getBytes("US-ASCII")
    // RIFF+WAVE but first chunk is LIST, not fmt : the fixed offsets hold
    // other bytes, so parsing must refuse rather than emit garbage
    val listFirst = "RIFF".getBytes("US-ASCII") ++ le32(1234) ++
      "WAVE".getBytes("US-ASCII") ++ "LIST".getBytes("US-ASCII") ++ le32(4) ++
      "INFO".getBytes("US-ASCII")
    val got = Seq((1L, wav), (2L, junk), (3L, listFirst)).toDF("id", "content")
      .select(col("id"), Media.audioMeta(col("content")).as("a"))
      .select(col("id"), col("a.format"), col("a.sample_rate"), col("a.channels"))
      .as[(Long, Option[String], Option[Long], Option[Long])]
      .collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) == ((Some("wav"), Some(44100L), Some(2L))))
    assert(got(2L) == ((None, None, None)))
    assert(got(3L) == ((None, None, None)))
  }

  test("payload -> header-parse round-trips the id-derived metadata per kind") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, SparkTestSession.sfTiny)
    val parsed = Media.fromDocumentsPng(docs).toDF()
      .select(col("media_id"), col("kind"),
        Media.headerDims(col("content")).as("h"),
        Media.audioMeta(col("content")).as("a"))
      .select(col("media_id"), col("kind"), col("h.format"), col("h.width"),
        col("h.height"), col("a.format"), col("a.sample_rate"), col("a.channels"))
      .as[(Long, String, Option[String], Option[Long], Option[Long],
        Option[String], Option[Long], Option[Long])].collect()
    assert(parsed.nonEmpty)
    parsed.foreach { case (id, kind, pf, w, h, af, sr, ch) =>
      if (kind == "audio") {
        assert(pf.isEmpty && af == Some("wav"))
        assert(sr == Some(8000L + (id % 8L) * 4000L), s"rate mismatch for $id")
        assert(ch == Some(1L + id % 2L), s"channels mismatch for $id")
      } else {
        assert(af.isEmpty && pf == Some("png"))
        assert(w == Some(64L + id % 512L), s"width mismatch for $id")
        assert(h == Some(64L + (id % 7L) * 64L), s"height mismatch for $id")
      }
    }
  }

  test("JPEG marker walk: handcrafted fixtures incl. SOF2, EXIF-first, fill bytes, decoys") {
    import org.apache.spark.sql.graft.GraftExpressions.computeJpegDims
    def bytes(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
    def dims(packed: java.lang.Long): Option[(Long, Long)] =
      Option(packed).map(p => (p >> 16, p & 0xFFFFL))

    // 1. minimal baseline: SOI then SOF0 directly; h=0x0040=64, w=0x0080=128
    val baseline = bytes(0xFF, 0xD8,
      0xFF, 0xC0, 0x00, 0x11, 0x08, 0x00, 0x40, 0x00, 0x80,
      3, 1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1)
    assert(dims(computeJpegDims(baseline)) === Some((128L, 64L)))

    // 2. EXIF-segment-first (APP1 len 0x14) then progressive SOF2 —
    //    the variable-offset case a fixed-offset parser gets wrong
    val exifSof2 = bytes(0xFF, 0xD8,
      0xFF, 0xE1, 0x00, 0x14) ++ "Exif".getBytes("US-ASCII") ++
      Array.fill[Byte](14)(0) ++ bytes(
      0xFF, 0xC2, 0x00, 0x11, 0x08, 0x01, 0x00, 0x02, 0x00,
      3, 1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1)
    assert(dims(computeJpegDims(exifSof2)) === Some((512L, 256L)))

    // 3. fill bytes (0xFF padding) before the SOF marker are legal
    val filled = bytes(0xFF, 0xD8, 0xFF, 0xFF, 0xFF,
      0xC0, 0x00, 0x11, 0x08, 0x00, 0x10, 0x00, 0x20,
      3, 1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1)
    assert(dims(computeJpegDims(filled)) === Some((32L, 16L)))

    // 4. DHT (0xC4) shares the 0xCn space but is NOT an SOF — must be
    //    hopped over, not parsed as dims
    val dhtFirst = bytes(0xFF, 0xD8,
      0xFF, 0xC4, 0x00, 0x05, 0xAA, 0xBB, 0xCC,       // decoy "dims" bytes
      0xFF, 0xC0, 0x00, 0x11, 0x08, 0x00, 0x40, 0x00, 0x80,
      3, 1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1)
    assert(dims(computeJpegDims(dhtFirst)) === Some((128L, 64L)))

    // 5. SOS before any SOF → no dims (corrupt stream), not garbage
    assert(computeJpegDims(bytes(0xFF, 0xD8, 0xFF, 0xDA, 0x00, 0x04, 1, 2)) == null)
    // 6. truncated mid-SOF → null
    assert(computeJpegDims(bytes(0xFF, 0xD8, 0xFF, 0xC0, 0x00, 0x11, 0x08, 0x00)) == null)
    // 7. not a JPEG at all → null
    assert(computeJpegDims("PNG-ish".getBytes("US-ASCII")) == null)
    assert(computeJpegDims(Array.empty[Byte]) == null)

    // headerDims integration: the jpeg branch surfaces format + dims,
    // and the Column path (codegen) agrees with the static walk
    val df = Seq((1L, exifSof2), (2L, baseline), (3L, "junk".getBytes("US-ASCII")))
      .toDF("id", "content")
      .select($"id", graft.multimodal.Media.headerDims($"content").as("h"))
      .select($"id", $"h.format", $"h.width", $"h.height")
      .collect().map(r => r.getLong(0) ->
        (Option(r.getString(1)), Option(r.get(2)), Option(r.get(3)))).toMap
    assert(df(1L) === ((Some("jpeg"), Some(512L), Some(256L))))
    assert(df(2L) === ((Some("jpeg"), Some(128L), Some(64L))))
    assert(df(3L) === ((None, None, None)))
  }

  test("jpegPayload -> marker walk round-trips planted dims across SOF0/SOF2 and COM layouts") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, SparkTestSession.sfTiny).limit(200)
    val payload = graft.multimodal.Media.jpegPayload(
      lit(64L) + col("doc_id") % 1024L,
      lit(32L) + (col("doc_id") % 9L) * 32L,
      col("doc_id") % 2 === 0,
      col("doc_id") % 3 === 0,
      col("text"))
    val out = docs
      .select(col("doc_id"), graft.multimodal.Media.headerDims(payload).as("h"))
      .select(col("doc_id"), col("h.format"), col("h.width"), col("h.height"))
      .collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val id = r.getLong(0)
      assert(r.getString(1) === "jpeg", s"format for $id")
      assert(r.getLong(2) === 64L + id % 1024L, s"width for $id")
      assert(r.getLong(3) === 32L + (id % 9L) * 32L, s"height for $id")
    }
  }

  // ---- ISO-BMFF (MP4) box walk ----------------------------------------

  /** Tiny box builder for handcrafted fixtures. */
  private def box(t: String, payload: Array[Byte]): Array[Byte] = {
    val size = 8 + payload.length
    Array[Byte]((size >>> 24).toByte, (size >>> 16).toByte,
      (size >>> 8).toByte, size.toByte) ++ t.getBytes("US-ASCII") ++ payload
  }
  private def be32(v: Long): Array[Byte] = Array(
    (v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte)
  private val ftyp = box("ftyp", "isom".getBytes("US-ASCII") ++ new Array[Byte](4))
  private def tkhdV0(w: Long, h: Long): Array[Byte] =
    box("tkhd", new Array[Byte](76) ++ be32(w << 16) ++ be32(h << 16))
  private def mvhdV0(ts: Long, dur: Long): Array[Byte] =
    box("mvhd", new Array[Byte](12) ++ be32(ts) ++ be32(dur) ++ new Array[Byte](80))

  test("MP4 box walk: handcrafted fixtures incl. largesize, v1 headers, audio-first, size-0 tail") {
    import org.apache.spark.sql.graft.GraftExpressions.{computeMp4Dims, computeMp4DurationMs}
    // plain v0 file: free pad before moov, mdat after
    val plain = ftyp ++ box("free", new Array[Byte](11)) ++
      box("moov", mvhdV0(1000, 7500) ++ box("trak", tkhdV0(640, 480))) ++
      box("mdat", "body".getBytes)
    assert(computeMp4Dims(plain) === (640L << 16 | 480L))
    assert(computeMp4DurationMs(plain) === 7500L)
    // audio track (zero dims) FIRST — the walk must skip to the video trak
    val audioFirst = ftyp ++ box("moov",
      mvhdV0(600, 600) ++ box("trak", tkhdV0(0, 0)) ++ box("trak", tkhdV0(320, 240)))
    assert(computeMp4Dims(audioFirst) === (320L << 16 | 240L))
    assert(computeMp4DurationMs(audioFirst) === 1000L)
    // v1 mvhd/tkhd: 64-bit times widen the fixed offsets
    val mvhd1 = box("mvhd", Array[Byte](1, 0, 0, 0) ++ new Array[Byte](16)
      ++ be32(500) ++ be32(0) ++ be32(2500) ++ new Array[Byte](80))
    val tkhd1 = box("tkhd", Array[Byte](1, 0, 0, 0) ++ new Array[Byte](84)
      ++ be32(1920L << 16) ++ be32(1080L << 16))
    val v1 = ftyp ++ box("moov", mvhd1 ++ box("trak", tkhd1))
    assert(computeMp4Dims(v1) === (1920L << 16 | 1080L))
    assert(computeMp4DurationMs(v1) === 5000L)
    // largesize (size==1, u64 follows) on the box BEFORE moov: must hop it
    val inner = new Array[Byte](3)
    val largeFree = be32(1) ++ "free".getBytes("US-ASCII") ++
      Array[Byte](0, 0, 0, 0) ++ be32(16 + inner.length) ++ inner
    val withLarge = ftyp ++ largeFree ++
      box("moov", mvhdV0(1000, 42) ++ box("trak", tkhdV0(8, 8)))
    assert(computeMp4DurationMs(withLarge) === 42L)
    assert(computeMp4Dims(withLarge) === (8L << 16 | 8L))
    // size==0 tail box: fine after moov, and terminal when moov absent
    val sizeZeroTail = ftyp ++ box("moov", mvhdV0(1000, 1) ++
      box("trak", tkhdV0(2, 2))) ++
      (be32(0) ++ "mdat".getBytes("US-ASCII") ++ "xx".getBytes)
    assert(computeMp4Dims(sizeZeroTail) === (2L << 16 | 2L))
    assert(computeMp4Dims(ftyp ++ (be32(0) ++ "mdat".getBytes("US-ASCII"))) === null)
    // negatives: no ftyp, truncated moov, zero timescale, not ISO-BMFF
    assert(computeMp4Dims(plain.drop(16)) === null)
    val truncated = ftyp ++ (be32(4096) ++ "moov".getBytes("US-ASCII"))
    assert(computeMp4Dims(truncated) === null)
    val zeroTs = ftyp ++ box("moov", mvhdV0(0, 99))
    assert(computeMp4DurationMs(zeroTs) === null)
    assert(computeMp4Dims("not a video at all".getBytes) === null)
    // the v0 "duration unknown" sentinel (fragmented MP4) is null, not 2^32-1
    val unknownDur = ftyp ++ box("moov", mvhdV0(1000, 0xFFFFFFFFL))
    assert(computeMp4DurationMs(unknownDur) === null)
  }

  test("videoMeta: audio-only MP4 keeps format and duration, dims null") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val audioOnly = ftyp ++ box("moov",
      mvhdV0(1000, 3000) ++ box("trak", tkhdV0(0, 0)))
    val out = Seq(Tuple1(audioOnly)).toDF("content")
      .select(graft.multimodal.Media.videoMeta(col("content")).as("v"))
      .select("v.format", "v.width", "v.height", "v.duration_ms")
      .collect().head
    assert(out.getString(0) === "mp4",
      "the container sniff, not the visual track, decides the format")
    assert(out.isNullAt(1) && out.isNullAt(2))
    assert(out.getLong(3) === 3000L)
  }

  test("mp4Payload -> box walk round-trips planted dims and duration") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, SparkTestSession.sfTiny).limit(200)
    val ts = when(col("doc_id") % 3 === 0, 1000L)
      .when(col("doc_id") % 3 === 1, 500L).otherwise(250L)
    val payload = graft.multimodal.Media.mp4Payload(
      lit(16L) + col("doc_id") % 600L,
      lit(16L) + (col("doc_id") % 7L) * 48L,
      col("doc_id") % 86400L, ts, col("doc_id") % 48L, col("text"))
    val out = docs
      .select(col("doc_id"), graft.multimodal.Media.videoMeta(payload).as("v"))
      .select(col("doc_id"), col("v.format"), col("v.width"), col("v.height"),
        col("v.duration_ms"))
      .collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val id = r.getLong(0)
      assert(r.getString(1) === "mp4", s"format for $id")
      assert(r.getLong(2) === 16L + id % 600L, s"width for $id")
      assert(r.getLong(3) === 16L + (id % 7L) * 48L, s"height for $id")
      val scale = if (id % 3 == 0) 1L else if (id % 3 == 1) 2L else 4L
      assert(r.getLong(4) === (id % 86400L) * scale, s"duration for $id")
    }
  }

  test("bmpPixelStats: real pixel decode incl. padding, top-down, rejections") {
    import org.apache.spark.sql.functions.col
    def le16(v: Int) = Array(v.toByte, (v >> 8).toByte)
    def le32(v: Int) = Array(v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    // hand-built 24bpp BMP: w=2 (rowBytes 6, rowSize 8 → 2 pad), h=2
    def bmp(w: Int, h: Int, bpp: Int, compression: Int, rows: Array[Byte]) =
      "BM".getBytes("US-ASCII") ++ le32(54 + rows.length) ++ le32(0) ++ le32(54) ++
        le32(40) ++ le32(w) ++ le32(h) ++ le16(1) ++ le16(bpp) ++
        le32(compression) ++ le32(rows.length) ++ le32(2835) ++ le32(2835) ++
        le32(0) ++ le32(0) ++ rows
    val rows = Array[Byte](10, 20, 30, 40, 50, 60, 99, 99, // row 0 + 2 pad
      5, 15, 25, 35, 45, 55, 99, 99)                       // row 1 + 2 pad
    val good = bmp(2, 2, 24, 0, rows)
    val topDown = bmp(2, -2, 24, 0, rows)        // negative height: top-down
    val wrongBpp = bmp(2, 2, 8, 0, rows)
    val compressed = bmp(2, 2, 24, 1, rows)      // BI_RLE8
    val truncated = bmp(2, 4, 24, 0, rows)       // declares more rows than present
    val df = Seq((1L, good), (2L, topDown), (3L, wrongBpp), (4L, compressed),
      (5L, truncated)).toDF("id", "content")
      .select(col("id"), Media.pixelStats(col("content")).as("st"))
      .as[(Long, Option[Seq[Long]])].collect().toMap
    // padding bytes (99) excluded: stats over the 12 pixel bytes only
    assert(df(1L) === Some(Seq(12L, 5L, 60L, 10 + 20 + 30 + 40 + 50 + 60 + 5 + 15 + 25 + 35 + 45 + 55L)))
    assert(df(2L) === df(1L)) // stats are row-order-invariant
    assert(df(3L).isEmpty && df(4L).isEmpty && df(5L).isEmpty)
  }

  test("wavSampleStats: RIFF chunk walk to data, signed samples, rejections") {
    import org.apache.spark.sql.functions.col
    def le16(v: Int) = Array(v.toByte, (v >> 8).toByte)
    def le32(v: Int) = Array(v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    def fmt(audioFormat: Int, bits: Int) =
      "fmt ".getBytes("US-ASCII") ++ le32(16) ++ le16(audioFormat) ++ le16(1) ++
        le32(8000) ++ le32(16000) ++ le16(2) ++ le16(bits)
    def data(samples: Seq[Int]) =
      "data".getBytes("US-ASCII") ++ le32(samples.length * 2) ++
        samples.toArray.flatMap(le16)
    def wav(chunks: Array[Byte]) =
      "RIFF".getBytes("US-ASCII") ++ le32(4 + chunks.length) ++
        "WAVE".getBytes("US-ASCII") ++ chunks
    val samples = Seq(-2048, 0, 2047, -1)
    val good = wav(fmt(1, 16) ++ data(samples))
    // LIST chunk between fmt and data: the walk must hop it by size
    val listed = wav(fmt(1, 16) ++
      ("LIST".getBytes("US-ASCII") ++ le32(4) ++ "INFO".getBytes("US-ASCII")) ++
      data(samples))
    val floatWav = wav(fmt(3, 32) ++ data(samples)) // IEEE float: rejected
    val dataFirst = wav(data(samples) ++ fmt(1, 16)) // data before fmt: rejected
    val truncated = wav(fmt(1, 16) ++ "data".getBytes("US-ASCII") ++ le32(100))
    val df = Seq((1L, good), (2L, listed), (3L, floatWav), (4L, dataFirst),
      (5L, truncated)).toDF("id", "content")
      .select(col("id"), Media.sampleStats(col("content")).as("st"))
      .as[(Long, Option[Seq[Long]])].collect().toMap
    assert(df(1L) === Some(Seq(4L, -2048L, 2047L, -2L)))
    assert(df(2L) === df(1L))
    assert(df(3L).isEmpty && df(4L).isEmpty && df(5L).isEmpty)
  }

  test("fromDocumentsPixels -> real decode round-trips the planted formulas") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, SparkTestSession.sfTiny)
    val media = Media.fromDocumentsPixels(docs).toDF()
    val out = media.select(col("media_id"), col("kind"),
        org.apache.spark.sql.functions.coalesce(
          Media.pixelStats(col("content")),
          Media.sampleStats(col("content"))).as("st"))
      .as[(Long, String, Option[Seq[Long]])].collect()
    assert(out.nonEmpty)
    out.foreach { case (id, kind, st) =>
      val Some(Seq(n, mn, mx, sum)) = st: @unchecked
      if (kind == "audio") {
        val s = (0L until (64 + id % 32)).map(k => ((id * 13 + k * 37) % 4096) - 2048)
        assert((n, mn, mx, sum) === ((s.length.toLong, s.min, s.max, s.sum)), s"audio $id")
      } else {
        val w = 4 + id % 5; val h = 2 + id % 3
        val p = for (r <- 0L until h; j <- 0L until w * 3) yield (id + r * 31 + j * 7) % 256
        assert((n, mn, mx, sum) === ((p.length.toLong, p.min, p.max, p.sum)), s"$kind $id")
      }
    }
  }

  test("PNG pixel decode: real Deflater->Inflater round trip over stored " +
      "and Huffman blocks recovers the planted scanlines exactly") {
    val docs = Tables.documents(spark, SparkTestSession.sfTiny)
    val out = Media.decodePngPixels(Media.fromDocumentsPngPixels(docs))
      .as[(Long, Option[Long], Option[Long], Option[Long], Option[Long],
        Option[Long], Option[Long])].collect()
    assert(out.nonEmpty)
    out.foreach { case (id, w, h, n, mn, mx, sum) =>
      val ew = 4 + id % 5; val eh = 2 + id % 3
      val p = for (r <- 0L until eh; j <- 0L until ew * 3)
        yield (id + r * 31 + j * 7) % 256
      assert((w, h, n, mn, mx, sum) === ((Some(ew), Some(eh),
        Some(p.length.toLong), Some(p.min), Some(p.max), Some(p.sum))),
        s"png $id")
    }
    // both deflate block types really occurred: stored payloads (even
    // ids, NO_COMPRESSION) are strictly larger than the same image
    // Huffman-compressed would be tiny — just assert both id classes
    // decoded above (they did: out spans even and odd ids)
    assert(out.exists(_._1 % 2 == 0) && out.exists(_._1 % 2 == 1),
      "both stored and Huffman deflate payloads must be exercised")
  }

  test("GIF pixel decode: hand-rolled LZW round trip over clear-heavy " +
      "and dictionary-growing streams recovers the planted indexes") {
    val docs = Tables.documents(spark, SparkTestSession.sfTiny)
    val out = Media.decodeGifPixels(Media.fromDocumentsGifPixels(docs))
      .as[(Long, Option[Long], Option[Long], Option[Long], Option[Long],
        Option[Long], Option[Long])].collect()
    assert(out.nonEmpty)
    out.foreach { case (id, w, h, n, mn, mx, sum) =>
      val ew = 40 + id % 17; val eh = 12 + id % 7
      val pal = if (id % 3 == 0) 16 else 256
      val p = for (r <- 0L until eh; j <- 0L until ew)
        yield (id + r * 31 + j * 7) % pal
      assert((w, h, n, mn, mx, sum) === ((Some(ew), Some(eh),
        Some(p.length.toLong), Some(p.min), Some(p.max), Some(p.sum))),
        s"gif $id")
    }
    // every decoder lane really occurred: both palettes (different
    // CLEAR/EOI codes and starting widths), both encoder shapes
    // (reset-heavy and free dictionary growth past the 9-bit boundary)
    assert(out.exists(_._1 % 3 == 0) && out.exists(_._1 % 3 != 0),
      "both 16- and 256-color palettes must be exercised")
    assert(out.exists(_._1 % 2 == 0) && out.exists(_._1 % 2 == 1),
      "both clear-heavy and dictionary-growing streams must be exercised")
  }

  test("GIF LZW agrees with the JDK's independent ImageIO codec in BOTH " +
      "directions") {
    import java.awt.image.{BufferedImage, IndexColorModel}
    // (a) OUR encoder -> ImageIO decode: the synthetic GIFs must be
    // spec-valid to a codec we didn't write
    Seq((7L, 8, 0), (12L, 8, 16), (9L, 4, 0), (6L, 4, 16)).foreach {
      case (id, minCode, clearEvery) =>
        val w = 50; val h = 17
        val pal = 1 << minCode
        val bytes = Media.gifPixelBytes(id, w, h, minCode, clearEvery)
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(bytes))
        assert(img != null && img.getWidth == w && img.getHeight == h,
          s"ImageIO must parse our GIF (id=$id minCode=$minCode)")
        for (r <- 0 until h; j <- 0 until w) {
          val expIdx = ((id + r * 31L + j * 7L) % pal).toInt
          val expGray = expIdx * 255 / (pal - 1)
          val got = img.getRGB(j, r) & 0xff // grayscale: any channel
          assert(got == expGray,
            s"pixel ($r,$j) of id=$id minCode=$minCode clearEvery=" +
              s"$clearEvery: got $got, expected $expGray")
        }
    }
    // (b) ImageIO's own GIF WRITER -> our decoder: streams produced by
    // an encoder we didn't write (real LZW dictionary growth) must
    // decode to the same indexes
    val w2 = 61; val h2 = 23
    val ramp = Array.tabulate[Byte](256)(i => i.toByte)
    val cm = new IndexColorModel(8, 256, ramp, ramp, ramp)
    val img2 = new BufferedImage(w2, h2,
      BufferedImage.TYPE_BYTE_INDEXED, cm)
    val planted = Array.tabulate(h2, w2)((r, j) => ((5 + r * 31 + j * 7) % 256))
    for (r <- 0 until h2; j <- 0 until w2)
      img2.getRaster.setSample(j, r, 0, planted(r)(j))
    // the JDK writer interlaces by default — disable it (our kernel
    // honestly rejects interlaced streams; stats would be order-
    // invariant, but a positional decode would not be)
    val buf = new java.io.ByteArrayOutputStream()
    val writer = javax.imageio.ImageIO
      .getImageWritersByFormatName("gif").next()
    val param = writer.getDefaultWriteParam
    param.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DISABLED)
    val ios = javax.imageio.ImageIO.createImageOutputStream(buf)
    writer.setOutput(ios)
    writer.write(null, new javax.imageio.IIOImage(img2, null, null), param)
    ios.close(); writer.dispose()
    val flat = planted.flatten.map(_.toLong)
    assert(Media.gifStats(gifWs, buf.toByteArray) === Some((w2.toLong, h2.toLong,
      flat.length.toLong, flat.min, flat.max, flat.sum)),
      "our LZW decoder must agree with ImageIO's encoder")
  }

  test("GIF LZW KwKwK (code == next) round-trips — the corpus formula " +
      "never repeats an index, so repetitive fixtures cover it") {
    // constant and run-heavy index streams make the decoder hit the
    // just-about-to-be-defined code on nearly every step
    def gif(idx: Array[Byte], w: Int, h: Int, clearEvery: Int) =
      Media.gifBytesFromIndexes(idx, w, h, 8, clearEvery)
    val w = 40; val h = 10
    val constant = Array.fill[Byte](w * h)(77.toByte)
    assert(Media.gifStats(gifWs, gif(constant, w, h, 0)) ===
      Some((w.toLong, h.toLong, (w * h).toLong, 77L, 77L, 77L * w * h)),
      "an all-equal stream (KwKwK at every growth step) must round-trip")
    // runs of two alternating values, spanning a CLEAR in the middle
    val runs = Array.tabulate[Byte](w * h)(i =>
      (if ((i / 13) % 2 == 0) 5 else 250).toByte)
    val expRuns = runs.map(b => (b & 0xff).toLong)
    assert(Media.gifStats(gifWs, gif(runs, w, h, 16)) ===
      Some((w.toLong, h.toLong, (w * h).toLong,
        expRuns.min, expRuns.max, expRuns.sum)),
      "run-heavy streams with mid-stream CLEARs must round-trip")
    // and a constant stream is spec-valid to ImageIO pixel-for-pixel
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(gif(constant, w, h, 0)))
    assert(img != null && img.getWidth == w && img.getHeight == h)
    assert((img.getRGB(0, 0) & 0xff) == 77 &&
      (img.getRGB(w - 1, h - 1) & 0xff) == 77,
      "ImageIO must agree on the KwKwK-dense stream")
  }

  test("GIF pixel decode: interlaced, hostile-dims, truncated and " +
      "corrupt streams return null, never garbage") {
    val good = Media.gifPixelBytes(11L, 20, 10, 8, 0)
    assert(Media.gifStats(gifWs, good).nonEmpty)
    // interlace flag on the image descriptor: out of envelope, rejected
    val interlaced = good.clone()
    // descriptor starts after header(6)+LSD(7)+GCT(768)+GCE(8): 0x2C at
    // that offset; packed byte is +9 — find it structurally instead
    val descOff = interlaced.indexOfSlice(Array[Byte](0x2C, 0, 0, 0, 0))
    assert(descOff > 0)
    interlaced(descOff + 9) = (interlaced(descOff + 9) | 0x40).toByte
    assert(Media.gifStats(gifWs, interlaced).isEmpty, "interlaced must reject")
    // hostile logical/image dims: 65535x65535 (4.3e9 indexes) must cap
    val hostile = good.clone()
    hostile(descOff + 5) = 0xFF.toByte; hostile(descOff + 6) = 0xFF.toByte
    hostile(descOff + 7) = 0xFF.toByte; hostile(descOff + 8) = 0xFF.toByte
    assert(Media.gifStats(gifWs, hostile).isEmpty, "64 MiB cap must hold")
    // truncated code stream: drop the tail (trailer + last sub-blocks)
    assert(Media.gifStats(gifWs, good.dropRight(24)).isEmpty)
    // corrupt stream: a code beyond the dictionary. Handcraft: header +
    // LSD (no GCT) + descriptor 2x1 + minCode 8, one sub-block whose
    // first 9-bit code is 300 (> clear+2) instead of a literal/CLEAR
    val bad = new java.io.ByteArrayOutputStream()
    bad.write("GIF89a".getBytes("US-ASCII"))
    bad.write(Array[Byte](2, 0, 1, 0, 0, 0, 0)) // LSD 2x1, no GCT
    bad.write(0x2C); bad.write(Array[Byte](0, 0, 0, 0, 2, 0, 1, 0, 0))
    bad.write(8) // min code size
    val code300 = 300 // 9-bit LSB-first: bytes 0x2C, 0x01
    bad.write(2); bad.write(code300 & 0xff); bad.write(code300 >> 8)
    bad.write(0); bad.write(0x3B)
    assert(Media.gifStats(gifWs, bad.toByteArray).isEmpty,
      "a code beyond the dictionary must reject")
    assert(Media.gifStats(gifWs, "not a gif".getBytes).isEmpty)
  }

  test("PNG pixel decode: all five scanline filters reconstruct; " +
      "unsupported/corrupt streams return null, never garbage") {
    // handcraft a 2x3 RGB PNG whose rows use filters Sub(1) and Up(2),
    // and a 4x2 exercising Average(3) and Paeth(4): compute the FILTERED
    // bytes from known reconstructed values, then assert the decoder
    // hands the reconstruction back
    def png(w: Int, h: Int, rows: Seq[(Int, Seq[Int])]): Array[Byte] = {
      val raw = rows.flatMap { case (f, bs) => f +: bs }.map(_.toByte).toArray
      val defl = new java.util.zip.Deflater()
      defl.setInput(raw); defl.finish()
      val zout = new java.io.ByteArrayOutputStream()
      val tmp = new Array[Byte](512)
      while (!defl.finished()) { val k = defl.deflate(tmp); zout.write(tmp, 0, k) }
      defl.end()
      def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
        val tb = typ.getBytes("US-ASCII")
        val crc = new java.util.zip.CRC32(); crc.update(tb); crc.update(data)
        java.nio.ByteBuffer.allocate(12 + data.length)
          .putInt(data.length).put(tb).put(data).putInt(crc.getValue.toInt).array()
      }
      val ihdr = java.nio.ByteBuffer.allocate(13).putInt(w).putInt(h)
        .put(8.toByte).put(2.toByte).put(0.toByte).put(0.toByte).put(0.toByte).array()
      Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A) ++
        chunk("IHDR", ihdr) ++ chunk("IDAT", zout.toByteArray) ++
        chunk("IEND", Array.emptyByteArray)
    }
    val inf = new java.util.zip.Inflater()
    // recon row0 = [10,20,30, 40,50,60]; Sub filter stores x - left(bpp=3)
    val row0 = Seq(10, 20, 30, 40, 50, 60)
    val sub0 = row0.zipWithIndex.map { case (x, j) =>
      (x - (if (j >= 3) row0(j - 3) else 0)) & 0xff }
    // recon row1 = row0 + 5; Up filter stores x - up
    val row1 = row0.map(_ + 5)
    val up1 = row1.zip(row0).map { case (x, u) => (x - u) & 0xff }
    val stSubUp = Media.pngStats(inf, png(2, 2, Seq((1, sub0), (2, up1))))
    val all = row0 ++ row1
    assert(stSubUp === Some((2L, 2L, all.length.toLong,
      all.min.toLong, all.max.toLong, all.map(_.toLong).sum)))
    // Average(3) on row0 (up=0): stores x - left/2 ; Paeth(4) on row1
    val rowA = Seq(8, 16, 24, 32, 40, 48, 56, 64, 72, 80, 88, 96)
    val avg = rowA.zipWithIndex.map { case (x, j) =>
      (x - ((if (j >= 3) rowA(j - 3) else 0) + 0) / 2) & 0xff }
    val rowP = rowA.map(_ + 3)
    val paeth = rowP.zipWithIndex.map { case (x, j) =>
      val left = if (j >= 3) rowP(j - 3) else 0
      val up = rowA(j)
      val ul = if (j >= 3) rowA(j - 3) else 0
      val p = left + up - ul
      val pr = if (math.abs(p - left) <= math.abs(p - up) &&
        math.abs(p - left) <= math.abs(p - ul)) left
      else if (math.abs(p - up) <= math.abs(p - ul)) up else ul
      (x - pr) & 0xff }
    val stAP = Media.pngStats(inf, png(4, 2, Seq((3, avg), (4, paeth))))
    val allAP = rowA ++ rowP
    assert(stAP === Some((4L, 2L, allAP.length.toLong,
      allAP.min.toLong, allAP.max.toLong, allAP.map(_.toLong).sum)))
    // rejections: RGBA color type (the header-tier pngPayload), a
    // truncated IDAT, and a hostile IHDR declaring a huge image
    val rgba = png(2, 1, Seq((0, Seq(1, 2, 3, 4, 5, 6))))
    rgba(25) = 6 // color type RGBA — byte walk must refuse, not misread
    assert(Media.pngStats(inf, rgba).isEmpty)
    val good = png(2, 1, Seq((0, Seq(1, 2, 3, 4, 5, 6))))
    val truncated = good.dropRight(20)
    assert(Media.pngStats(inf, truncated).isEmpty)
    val hostile = png(2, 1, Seq((0, Seq(1, 2, 3, 4, 5, 6))))
    // IHDR width := 2^24 (decl. 64 MiB+ reconstruction) — capped to null
    hostile(16) = 1; hostile(17) = 0; hostile(18) = 0; hostile(19) = 0
    assert(Media.pngStats(inf, hostile).isEmpty)
    assert(Media.pngStats(inf, "not a png at all".getBytes).isEmpty)
    // the inflater survives rejections: a good stream still decodes
    assert(Media.pngStats(inf, good).nonEmpty)
  }
}
