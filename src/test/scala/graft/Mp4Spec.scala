package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.multimodal.{Jpeg, Mp4}

/** The MP4 tier's new logic vs [[JpegSpec]] is the SAMPLE TABLE: frame
  * bytes are reachable only by joining stsd/stts/stsc/stsz/stco|co64
  * into byte ranges. These tests target exactly that layer — frame
  * stitching against per-frame ground truth computed by the
  * independently-proven JPEG kernel, both chunk-offset widths, both
  * box orders, run-length stsc plans with partial last chunks, and a
  * rejection lane where each fixture corrupts ONE table so a pass
  * can't come from ignoring it.
  */
class Mp4Spec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def frameFor(id: Long, wb: Int, hb: Int): Array[Byte] =
    Jpeg.jpegBytesFromBlocks(
      Array.tabulate(wb * hb, 64)((b, k) => Jpeg.plantedCoef(id, b, k)),
      wb, hb)

  /** Expected aggregate from per-frame JPEG kernel runs — validates the
    * stitching without re-trusting the planted formula.
    */
  private def expectedAgg(frames: Array[Array[Byte]])
      : (Long, Long, Long, Long, Long, Long, Long) = {
    val sts = frames.map(f => Jpeg.jpegCoefStats(f).get)
    (frames.length.toLong, sts.head._1, sts.head._2, sts.map(_._3).sum,
      sts.map(_._4).min, sts.map(_._5).max, sts.map(_._6).sum)
  }

  private def fourccAt(b: Array[Byte], t: String, from: Int = 0): Int = {
    val pat = t.getBytes("US-ASCII")
    var i = from
    while (i + 4 <= b.length) {
      if (b(i) == pat(0) && b(i + 1) == pat(1) && b(i + 2) == pat(2) &&
        b(i + 3) == pat(3)) return i
      i += 1
    }
    -1
  }

  test("chunk plan: 2-then-3 sizes and run-length stsc entries") {
    assert(Mp4.chunkSizes(1).toSeq === Seq(1))
    assert(Mp4.chunkSizes(2).toSeq === Seq(2))
    assert(Mp4.chunkSizes(3).toSeq === Seq(2, 1))
    assert(Mp4.chunkSizes(5).toSeq === Seq(2, 3))
    assert(Mp4.chunkSizes(9).toSeq === Seq(2, 3, 3, 1))
    assert(Mp4.stscEntries(Array(2)).toSeq === Seq((1, 2)))
    assert(Mp4.stscEntries(Array(2, 2)).toSeq === Seq((1, 2)))
    assert(Mp4.stscEntries(Array(2, 1)).toSeq === Seq((1, 2), (2, 1)))
    assert(Mp4.stscEntries(Array(2, 3, 3, 1)).toSeq ===
      Seq((1, 2), (2, 3), (4, 1)))
  }

  test("frame stitching: every container shape recovers per-frame " +
      "kernel ground truth (stco/co64 x mdat/moov-first x decoy trak)") {
    val frames = Array(frameFor(3, 2, 1), frameFor(77, 2, 1),
      frameFor(1234, 2, 1), frameFor(9, 2, 1), frameFor(500, 2, 1))
    val want = expectedAgg(frames)
    for (moovFirst <- Seq(false, true); co64 <- Seq(false, true);
        decoy <- Seq(false, true); pad <- Seq(0, 17)) {
      val b = Mp4.mp4BytesFromFrames(frames, 16, 8, pad, moovFirst,
        co64, decoy)
      assert(Mp4.mp4FrameStats(b) === Some(want),
        s"moovFirst=$moovFirst co64=$co64 decoy=$decoy pad=$pad")
    }
  }

  test("constant-size stsz lane: identical frames use the no-table form") {
    val one = frameFor(42, 1, 1)
    val frames = Array(one, one, one, one)
    val b = Mp4.mp4BytesFromFrames(frames, 8, 8, 0, moovFirst = false,
      useCo64 = false, decoyTrak = false)
    // writer chose the constant form: stsz sample_size field nonzero
    val sz = fourccAt(b, "stsz")
    assert(sz > 0)
    val sampleSize = ((b(sz + 8) & 0xff) << 24) | ((b(sz + 9) & 0xff) << 16) |
      ((b(sz + 10) & 0xff) << 8) | (b(sz + 11) & 0xff)
    assert(sampleSize === one.length)
    assert(Mp4.mp4FrameStats(b) === Some(expectedAgg(frames)))
  }

  test("planted corpus round trip recovers the q111 formula exactly") {
    val docs = Tables.documents(spark, SparkTestSession.sfTiny)
    val out = Mp4.decodeMp4Frames(Mp4.fromDocumentsMp4Frames(docs))
      .as[(Long, Option[Long], Option[Long], Option[Long], Option[Long],
        Option[Long], Option[Long], Option[Long])].collect()
    assert(out.nonEmpty)
    out.foreach { case (id, nf, w, h, n, mn, mx, sum) =>
      val nfE = (2 + id % 4).toInt
      val wb = (1 + id % 3).toInt
      val hb = (1 + id % 2).toInt
      val deq = for (f <- 0 until nfE; b <- 0 until wb * hb; k <- 0 until 64)
        yield Jpeg.plantedCoef(id + f * Mp4.FrameSalt, b, k).toLong *
          Jpeg.plantedQuant(k)
      assert((nf, w, h, n, mn, mx, sum) === ((Some(nfE.toLong),
        Some(8L * wb), Some(8L * hb), Some(deq.length.toLong),
        Some(deq.min), Some(deq.max), Some(deq.sum))), s"mp4 $id")
    }
  }

  test("size==0 (to end) and largesize trailing boxes parse") {
    val frames = Array(frameFor(5, 1, 1), frameFor(6, 1, 1))
    val want = expectedAgg(frames)
    // mdat-first layout: moov is last, appending keeps offsets valid
    val base = Mp4.mp4BytesFromFrames(frames, 8, 8, 0, moovFirst = false,
      useCo64 = false, decoyTrak = false)
    val toEnd = base ++ Array[Byte](0, 0, 0, 0) ++
      "free".getBytes("US-ASCII") ++ Array.fill[Byte](13)(0x5a)
    assert(Mp4.mp4FrameStats(toEnd) === Some(want), "size==0 box")
    val large = base ++ Array[Byte](0, 0, 0, 1) ++
      "free".getBytes("US-ASCII") ++
      Array[Byte](0, 0, 0, 0, 0, 0, 0, 21) ++ Array.fill[Byte](5)(0x5a)
    assert(Mp4.mp4FrameStats(large) === Some(want), "largesize box")
  }

  test("rejection lane: each corrupted table rejects loudly (null, " +
      "never garbage)") {
    val frames = Array(frameFor(11, 2, 1), frameFor(12, 2, 1),
      frameFor(13, 2, 1))
    val ok = Mp4.mp4BytesFromFrames(frames, 16, 8, 4, moovFirst = false,
      useCo64 = false, decoyTrak = true)
    assert(Mp4.mp4FrameStats(ok).isDefined)

    // fragmented: a top-level moof anywhere rejects
    val moof = ok ++ Array[Byte](0, 0, 0, 8) ++ "moof".getBytes("US-ASCII")
    assert(Mp4.mp4FrameStats(moof) === None, "moof")

    // stsd fourcc not Motion-JPEG (mdat-first: moov is past the frames,
    // so the LAST 'jpeg' occurrence is the sample entry's)
    val avc = ok.clone
    val jp = fourccAt(avc, "jpeg", fourccAt(avc, "moov"))
    assert(jp > 0)
    "avc1".getBytes("US-ASCII").copyToArray(avc, jp)
    assert(Mp4.mp4FrameStats(avc) === None, "non-jpeg stsd")

    // stsd dims lying about the bitstream
    val lie = Mp4.mp4BytesFromFrames(frames, 24, 8, 4, moovFirst = false,
      useCo64 = false, decoyTrak = false)
    assert(Mp4.mp4FrameStats(lie) === None, "stsd dims lie")

    // stts total disagreeing with stsz count
    val tts = ok.clone
    val tt = fourccAt(tts, "stts", fourccAt(tts, "moov"))
    assert(tt > 0)
    tts(tt + 15) = (tts(tt + 15) + 1).toByte // first entry's sample_count
    assert(Mp4.mp4FrameStats(tts) === None, "stts mismatch")

    // hostile stsz sample count (over the 100k cap)
    val huge = ok.clone
    val sz = fourccAt(huge, "stsz", fourccAt(huge, "moov"))
    assert(sz > 0)
    huge(sz + 12) = 0x7f.toByte // count 3 -> 0x7f000003
    assert(Mp4.mp4FrameStats(huge) === None, "hostile stsz count")

    // no video track: flip the video hdlr to a non-vide handler
    val novid = ok.clone
    val vh = fourccAt(novid, "vide")
    assert(vh > 0)
    "meta".getBytes("US-ASCII").copyToArray(novid, vh)
    assert(Mp4.mp4FrameStats(novid) === None, "no video trak")

    // truncation: moov-last layout loses the sample table; moov-first
    // layout loses frame bytes (sample range past EOF)
    assert(Mp4.mp4FrameStats(ok.dropRight(40)) === None, "truncated moov")
    val mf = Mp4.mp4BytesFromFrames(frames, 16, 8, 4, moovFirst = true,
      useCo64 = false, decoyTrak = false)
    assert(Mp4.mp4FrameStats(mf.dropRight(10)) === None, "truncated mdat")

    // mixed frame dims behind a truthful-for-frame-1 stsd
    val mixed = Array(frameFor(11, 2, 1), frameFor(12, 1, 1))
    val mx = Mp4.mp4BytesFromFrames(mixed, 16, 8, 0, moovFirst = false,
      useCo64 = false, decoyTrak = false)
    assert(Mp4.mp4FrameStats(mx) === None, "mixed dims")

    // not ISO-BMFF at all
    assert(Mp4.mp4FrameStats("RIFFxxxxWAVE".getBytes("US-ASCII")) === None)
    assert(Mp4.mp4FrameStats(Array.empty[Byte]) === None)
  }

  test("chunk-offset arithmetic is genuinely load-bearing: shifting one " +
      "stco entry by one byte lands mid-bitstream and rejects") {
    val frames = Array(frameFor(21, 2, 1), frameFor(22, 2, 1),
      frameFor(23, 2, 1)) // chunks [2,1]: second stco entry is chunk 2
    val b = Mp4.mp4BytesFromFrames(frames, 16, 8, 0, moovFirst = false,
      useCo64 = false, decoyTrak = false)
    val co = fourccAt(b, "stco", fourccAt(b, "moov"))
    assert(co > 0)
    val bad = b.clone
    bad(co + 15) = (bad(co + 15) + 1).toByte // chunk 1 offset +1
    // one byte into a JPEG frame the SOI marker is gone
    assert(Mp4.mp4FrameStats(bad) === None)
  }
}
