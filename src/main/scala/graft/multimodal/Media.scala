package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: image/audio/video as opaque `binary`
  * columns with typed metadata, processed batch-wise with mapPartitions.
  *
  * Two decode tiers, honestly separated:
  *   - CONTAINER-HEADER metadata ([[headerDims]]) is REAL: image
  *     dimensions live at fixed byte offsets (PNG IHDR, GIF logical
  *     screen, BMP info header) and need no codec — parsed with pure
  *     codegen'd byte arithmetic (substring/hex/conv) as a narrow map
  *     over the scan.
  *   - PIXEL/SAMPLE decode is REAL for the codec-less formats:
  *     uncompressed 24bpp BMP pixels ([[pixelStats]]) and PCM-16 WAV
  *     samples ([[sampleStats]]) are plain bytes, decoded by native
  *     byte-walk kernels (q27's gate round-trips planted pixel/sample
  *     statistics through them).
  *   - PIXEL decode for PNG (a true compressed format) is REAL since
  *     round 14: [[decodePngPixels]] inflates the DEFLATE bitstream
  *     (stored and Huffman blocks) with `java.util.zip.Inflater` and
  *     reconstructs all five scanline filters, in a bounded
  *     mapPartitions with a per-partition codec instance (q108's gate
  *     round-trips planted pixels through the actual compressed
  *     bitstream).
  *   - PIXEL decode for GIF (a true compressed format) is REAL since
  *     round 15: [[decodeGifPixels]] decodes the variable-width LZW
  *     code stream with a hand-rolled kernel — CLEAR/EOI, dictionary
  *     growth through 9-12 bit codes, KwKwK, deferred-clear tolerance —
  *     in the same bounded mapPartitions shape (q109's gate round-trips
  *     planted indexes through the actual compressed code stream, and
  *     the spec cross-checks both directions against the JDK's own
  *     independent javax.imageio GIF codec).
  *   - JPEG ENTROPY decode (the stateful layer: Huffman bitstream,
  *     byte unstuffing, differential DC) is REAL since round 15 —
  *     [[Jpeg.decodeJpegCoefficients]] recovers dequantized
  *     coefficients from baseline bitstreams, cross-checked in both
  *     directions against the JDK's javax.imageio codec (q110's gate);
  *     the final IDCT-to-pixel step is plain math the oracle cannot
  *     replay losslessly, so the registered contract is coefficients.
  *   - VIDEO decode is real for ISO-BMFF Motion-JPEG ([[Mp4]]): the
  *     sample table (stsd/stts/stsc/stsz/stco|co64) is joined into
  *     per-frame byte ranges and each frame runs through the [[Jpeg]]
  *     kernel (q111's gate). With that, every registered media gate
  *     decodes a real bitstream; [[decodeStub]] remains ONLY as the
  *     declared fake feature-extractor for codec families this
  *     container cannot ship (H.264-class video, compressed audio) —
  *     it derives deterministic fake features from the bytes. Everything
  *     around it is the real Spark shape a production pipeline needs:
  *     binary column + metadata struct schema, per-partition batch
  *     iteration (amortizes codec init, the expensive part of real
  *     decoders), and a bounded-width feature output schema. No
  *     registered gate query consumes it.
  *
  * Scale notes: binary payloads dominate I/O at 100 TB — the media table
  * should be partitioned by kind and bucketed by media_id so feature
  * extraction is a scan + narrow map (no shuffle), and feature outputs
  * (small) join back to metadata by id.
  */
object Media {

  private val PngSig = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A)

  /** REAL container-header decode: struct(format, width, height) parsed
    * from the leading bytes of PNG (big-endian u32 dims in IHDR), GIF
    * (little-endian u16 logical-screen dims) or BMP (little-endian dims
    * in BITMAPINFOHEADER); null for unrecognized bytes. Codecs are only
    * needed for PIXELS — dimension metadata is plain bytes, so this path
    * is genuinely decoded, not stubbed, and stays in WholeStageCodegen.
    */
  // shared byte-decode helpers (one definition for both decode tiers)
  private def u8(content: Column, pos: Int): Column =
    conv(hex(substring(content, pos, 1)), 16, 10).cast("long")
  private def be32(content: Column, pos: Int): Column =
    conv(hex(substring(content, pos, 4)), 16, 10).cast("long")
  private def le16(content: Column, pos: Int): Column =
    u8(content, pos) + u8(content, pos + 1) * 256L
  private def le32(content: Column, pos: Int): Column =
    u8(content, pos) + u8(content, pos + 1) * 256L +
      u8(content, pos + 2) * 65536L + u8(content, pos + 3) * 16777216L

  def headerDims(content: Column): Column = {
    import org.apache.spark.sql.graft.GraftExpressions
    def be32(pos: Int): Column = Media.be32(content, pos)
    def le16(pos: Int): Column = Media.le16(content, pos)
    def le32(pos: Int): Column = Media.le32(content, pos)
    val isPng = substring(content, 1, 8) === lit(PngSig) &&
      substring(content, 13, 4) === lit("IHDR".getBytes("US-ASCII"))
    val isGif = substring(content, 1, 4) === lit("GIF8".getBytes("US-ASCII"))
    val isBmp = substring(content, 1, 2) === lit("BM".getBytes("US-ASCII"))
    // JPEG dims sit at a VARIABLE offset (behind EXIF/APPn/COM/DQT
    // segments) — the native marker walk returns null for non-JPEG
    // bytes, so nullability doubles as the format test. The expression
    // appears three times below (condition + width + height); that is
    // deliberate: the walk HOPS segments by their length fields (it
    // never scans segment bodies), so each evaluation is O(#segments) —
    // a few dozen comparisons even for a 64 KB EXIF blob — and the
    // repeat costs less than boxing the packed value through a struct.
    val jpeg = GraftExpressions.jpegDims(content)
    when(isPng, struct(lit("png").as("format"),
        be32(17).as("width"), be32(21).as("height")))
      .when(isGif, struct(lit("gif").as("format"),
        le16(7).as("width"), le16(9).as("height")))
      .when(isBmp, struct(lit("bmp").as("format"),
        le32(19).as("width"), le32(23).as("height")))
      .when(jpeg.isNotNull, struct(lit("jpeg").as("format"),
        shiftright(jpeg, 16).as("width"),
        jpeg.bitwiseAND(lit(65535L)).as("height")))
      .otherwise(lit(null).cast("struct<format:string,width:bigint,height:bigint>"))
  }

  /** REAL audio-container header decode (WAV/RIFF): struct(format,
    * sample_rate, channels) from the canonical fmt-chunk offsets —
    * little-endian u32 sample rate at byte 25, u16 channel count at 23 —
    * valid only when "fmt " is the first chunk (checked; WAVs leading
    * with LIST/JUNK return null rather than garbage). Same tier as
    * [[headerDims]]: metadata is plain bytes, only PCM decode would need
    * a codec.
    */
  def audioMeta(content: Column): Column = {
    // also require the FIRST chunk to be "fmt " — real-world WAVs whose
    // first chunk is LIST/JUNK would otherwise parse garbage bytes at the
    // fixed offsets as valid metadata; those return null instead
    val isWav = substring(content, 1, 4) === lit("RIFF".getBytes("US-ASCII")) &&
      substring(content, 9, 4) === lit("WAVE".getBytes("US-ASCII")) &&
      substring(content, 13, 4) === lit("fmt ".getBytes("US-ASCII"))
    when(isWav, struct(lit("wav").as("format"),
        le32(content, 25).as("sample_rate"), le16(content, 23).as("channels")))
      .otherwise(lit(null)
        .cast("struct<format:string,sample_rate:bigint,channels:bigint>"))
  }

  // big-endian byte images of a column value, for header construction —
  // masked to the field width first (lpad would otherwise TRUNCATE an
  // over-wide hex string from the right, keeping the HIGH-order digits:
  // a >= 2^32 value would silently encode garbage dims)
  private def be32Bytes(v: Column): Column =
    unhex(lpad(hex(pmod(v, lit(4294967296L))), 8, "0"))
  private def be16Bytes(v: Column): Column =
    unhex(lpad(hex(pmod(v, lit(65536L))), 4, "0"))
  // little-endian = the big-endian bytes reversed (substring on binary)
  private def le32Bytes(v: Column): Column = {
    val b = be32Bytes(v)
    concat(substring(b, 4, 1), substring(b, 3, 1), substring(b, 2, 1), substring(b, 1, 1))
  }
  private def le16Bytes(v: Column): Column = {
    val b = be16Bytes(v)
    concat(substring(b, 2, 1), substring(b, 1, 1))
  }

  /** A minimal-but-valid PNG prefix (signature + IHDR with the given
    * dims) wrapping an arbitrary body — the synthetic payload generator
    * for this container (and the write side of the [[headerDims]]
    * round-trip, which q56's oracle checks arithmetically).
    */
  def pngPayload(width: Column, height: Column, body: Column): Column =
    concat(
      lit(PngSig),
      lit(Array[Byte](0, 0, 0, 13)),             // IHDR chunk length
      lit("IHDR".getBytes("US-ASCII")),
      be32Bytes(width),
      be32Bytes(height),
      lit(Array[Byte](8, 6, 0, 0, 0)),           // depth/color/etc
      body.cast("binary"))

  /** A minimal-but-valid JPEG prefix wrapping an arbitrary body — the
    * variable-offset member of the payload-generator family. The SOF
    * segment deliberately does NOT sit at a fixed offset: an 18-byte
    * EXIF APP1 segment always precedes it, an optional COM segment
    * (`withComment`) shifts it further, and `progressive` selects SOF2
    * over SOF0 — so a decoder can only find the dims by genuinely
    * walking the marker segments ([[headerDims]]'s jpeg branch; q85's
    * oracle replays the planted dims arithmetically).
    */
  def jpegPayload(width: Column, height: Column, progressive: Column,
      withComment: Column, body: Column): Column =
    concat(
      lit(Array(0xFF, 0xD8).map(_.toByte)),                 // SOI
      // APP1/EXIF first: len 0x14 = 2 + "Exif\0\0" + 12 filler
      lit(Array(0xFF, 0xE1, 0x00, 0x14).map(_.toByte)),
      lit("Exif".getBytes("US-ASCII")),
      lit(Array.fill[Byte](14)(0)),
      // optional COM segment: len 9 = 2 + 7 comment bytes
      when(withComment, concat(
          lit(Array(0xFF, 0xFE, 0x00, 0x09).map(_.toByte)),
          lit("graft!!".getBytes("US-ASCII"))))
        .otherwise(lit(Array.empty[Byte])),
      when(progressive, lit(Array(0xFF, 0xC2).map(_.toByte))) // SOF2
        .otherwise(lit(Array(0xFF, 0xC0).map(_.toByte))),     // SOF0
      lit(Array(0x00, 0x11, 0x08).map(_.toByte)),           // len 17, precision 8
      be16Bytes(height),
      be16Bytes(width),
      // 3 components: (id, sampling, qtable) x3
      lit(Array[Byte](3, 1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1)),
      body.cast("binary"))

  /** Video metadata from an ISO-BMFF (MP4/MOV) byte stream: format tag,
    * first visual track's pixel dims, and presentation duration in ms —
    * all via the native nested-box-walk kernels
    * ([[org.apache.spark.sql.graft.GraftExpressions.mp4Dims]]); columns
    * are null when the stream is not ISO-BMFF or lacks the box.
    */
  def videoMeta(content: Column): Column = {
    import org.apache.spark.sql.graft.GraftExpressions
    val dims = GraftExpressions.mp4Dims(content)
    // format comes from the CONTAINER sniff (leading ftyp box), not
    // from dims: an audio-only MP4 has a duration but no visual track,
    // and must still read as format=mp4
    val isMp4 = length(content) >= 12 &&
      substring(content, 5, 4) === lit("ftyp".getBytes("US-ASCII"))
    struct(
      when(isMp4, lit("mp4")).as("format"),
      shiftright(dims, 16).as("width"),
      dims.bitwiseAND(lit(0xFFFFL)).as("height"),
      GraftExpressions.mp4DurationMs(content).as("duration_ms"))
  }

  private val zeros = (n: Int) => lit(Array.fill[Byte](n)(0))
  private def fourcc(t: String): Column = lit(t.getBytes("US-ASCII"))
  // 16.16 unity matrix (the 36-byte tkhd/mvhd display matrix)
  private val unityMatrix = lit(Array(
    0x00, 0x01, 0x00, 0x00, 0, 0, 0, 0, 0, 0, 0, 0,
    0, 0, 0, 0, 0x00, 0x01, 0x00, 0x00, 0, 0, 0, 0,
    0, 0, 0, 0, 0, 0, 0, 0, 0x40, 0x00, 0x00, 0x00).map(_.toByte))

  /** A minimal-but-valid MP4 (ISO-BMFF) stream wrapping an arbitrary
    * body: `ftyp` + a `free` box of `padBytes` (≤ 64; moves `moov` to a
    * VARIABLE offset, like jpegPayload's EXIF/COM shifting) + `moov`
    * with a v0 `mvhd` (given timescale/duration units) and one video
    * `trak`/`tkhd` with the given dims + `mdat` holding the body. The
    * extractor can only find dims/duration by genuinely walking the
    * box tree; q92's oracle replays the planted values arithmetically.
    */
  def mp4Payload(width: Column, height: Column, durationUnits: Column,
      timescale: Column, padBytes: Column, body: Column): Column = {
    val bodyBin = body.cast("binary")
    concat(
      // ftyp (16)
      be32Bytes(lit(16L)), fourcc("ftyp"), fourcc("isom"), zeros(4),
      // free (8 + pad, pad capped at 64): variable moov offset. The cap
      // applies to BOTH the declared size and the emitted bytes — an
      // uncapped declared size over capped bytes would emit a stream
      // whose box walk silently misparses
      be32Bytes(lit(8L) + least(padBytes, lit(64L))), fourcc("free"),
      zeros(64).substr(lit(1), least(padBytes, lit(64L))),
      // moov (8 + mvhd 108 + trak 100 = 216)
      be32Bytes(lit(216L)), fourcc("moov"),
      //   mvhd v0 (8 + 100)
      be32Bytes(lit(108L)), fourcc("mvhd"),
      zeros(12),                     // version/flags, ctime, mtime
      be32Bytes(timescale),
      be32Bytes(durationUnits),
      lit(Array(0x00, 0x01, 0x00, 0x00, 0x01, 0x00).map(_.toByte)), // rate 1.0, volume 1.0
      zeros(10),                     // reserved
      unityMatrix,
      zeros(24),                     // pre_defined
      be32Bytes(lit(2L)),            // next_track_ID
      //   trak (8 + tkhd 92)
      be32Bytes(lit(100L)), fourcc("trak"),
      be32Bytes(lit(92L)), fourcc("tkhd"),
      lit(Array(0, 0, 0, 7).map(_.toByte)), // v0, flags: enabled|in-movie
      zeros(8),                      // ctime, mtime
      be32Bytes(lit(1L)),            // track_ID
      zeros(16),                     // reserved, duration, reserved
      zeros(8),                      // layer, alternate, volume, reserved
      unityMatrix,
      be32Bytes(width * lit(65536L)),  // 16.16 fixed
      be32Bytes(height * lit(65536L)),
      // mdat (8 + body)
      be32Bytes(lit(8L) + length(bodyBin)), fourcc("mdat"), bodyBin)
  }

  /** A minimal-but-valid WAV prefix (RIFF/WAVE + fmt chunk with the given
    * sample rate and channel count) wrapping an arbitrary body — the
    * audio twin of [[pngPayload]]. Metadata-tier only: the fmt chunk is
    * truncated after the sample rate, so [[audioMeta]] parses it but the
    * PCM decoder ([[sampleStats]]) correctly rejects it. Use
    * [[wavPcmPayload]] for a fully decodable stream.
    */
  def wavPayload(sampleRate: Column, channels: Column, body: Column): Column =
    concat(
      lit("RIFF".getBytes("US-ASCII")),
      lit(Array[Byte](0, 0, 0, 0)),              // riff size (unused here)
      lit("WAVE".getBytes("US-ASCII")),
      lit("fmt ".getBytes("US-ASCII")),
      lit(Array[Byte](16, 0, 0, 0)),             // fmt chunk size 16, LE
      lit(Array[Byte](1, 0)),                    // PCM
      le16Bytes(channels),
      le32Bytes(sampleRate),
      body.cast("binary"))

  /** A COMPLETE uncompressed 24-bit BMP: BITMAPFILEHEADER +
    * BITMAPINFOHEADER (BI_RGB) + the given pixel rows, which the caller
    * supplies ALREADY padded to 4-byte row multiples (the BMP row
    * contract). Unlike [[pngPayload]], everything here is genuinely
    * decodable — BI_RGB pixel data is plain bytes — so
    * [[pixelStats]] round-trips real per-pixel statistics (q27's gate).
    */
  def bmpPayload(width: Column, height: Column, paddedRows: Column): Column = {
    val body = paddedRows.cast("binary")
    concat(
      lit("BM".getBytes("US-ASCII")),
      le32Bytes(lit(54L) + length(body)),        // file size
      lit(Array[Byte](0, 0, 0, 0)),              // reserved
      le32Bytes(lit(54L)),                       // pixel-array offset
      le32Bytes(lit(40L)),                       // BITMAPINFOHEADER size
      le32Bytes(width),
      le32Bytes(height),
      le16Bytes(lit(1L)),                        // color planes
      le16Bytes(lit(24L)),                       // bits per pixel
      le32Bytes(lit(0L)),                        // BI_RGB (uncompressed)
      le32Bytes(length(body)),                   // image size
      le32Bytes(lit(2835L)), le32Bytes(lit(2835L)), // 72 DPI
      le32Bytes(lit(0L)), le32Bytes(lit(0L)),    // palette: none
      body)
  }

  /** A COMPLETE PCM-16 WAV: RIFF/WAVE + full 16-byte fmt chunk + `data`
    * chunk holding the given little-endian sample bytes — the fully
    * decodable audio twin of [[bmpPayload]] (and a superset of
    * [[wavPayload]]'s metadata tier: [[audioMeta]] still parses it).
    */
  def wavPcmPayload(sampleRate: Column, channels: Column,
      sampleBytes: Column): Column = {
    val body = sampleBytes.cast("binary")
    val blockAlign = channels * lit(2L)
    concat(
      lit("RIFF".getBytes("US-ASCII")),
      le32Bytes(lit(36L) + length(body)),        // 4 WAVE + 24 fmt + 8 data hdr
      lit("WAVE".getBytes("US-ASCII")),
      lit("fmt ".getBytes("US-ASCII")),
      le32Bytes(lit(16L)),
      le16Bytes(lit(1L)),                        // integer PCM
      le16Bytes(channels),
      le32Bytes(sampleRate),
      le32Bytes(sampleRate * blockAlign),        // byte rate
      le16Bytes(blockAlign),
      le16Bytes(lit(16L)),                       // bits per sample
      lit("data".getBytes("US-ASCII")),
      le32Bytes(length(body)),
      body)
  }

  case class MediaRecord(
      media_id: Long,
      kind: String,            // image | audio | video
      content: Array[Byte],    // opaque payload
      source: String,
      n_bytes: Long)

  case class MediaFeatures(
      media_id: Long,
      kind: String,
      width: Int,              // fake-decoded dimensions
      height: Int,
      n_frames: Int,           // 1 for image; >1 for video (frame sampling)
      features: Array[Float])  // fixed-width feature vector

  val FeatureDim = 8

  /** Synthesize a media table from the documents table (text bytes as the
    * opaque payload) — stands in for a real binary source so the plumbing
    * is testable in this container.
    */
  def fromDocuments(docs: DataFrame): Dataset[MediaRecord] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(
      col("doc_id").as("media_id"),
      element_at(typedLit(Seq("image", "audio", "video")),
        (col("doc_id") % 3 + 1).cast("int")).as("kind"),
      col("text").cast("binary").as("content"),
      col("source"))
      // byte length of the PAYLOAD (length() on binary counts bytes;
      // length(text) counts characters and diverges on multibyte text)
      .withColumn("n_bytes", length(col("content")).cast("long"))
      .as[MediaRecord]
  }

  /** Like [[fromDocuments]] but each payload carries a VALID format
    * header with deterministic id-derived metadata: audio docs get a
    * WAV/RIFF prefix (sample_rate = 8000 + (id % 8) * 4000,
    * channels = 1 + id % 2), image/video docs get a PNG prefix
    * (width = 64 + id % 512, height = 64 + (id % 7) * 64) — so
    * [[headerDims]]/[[audioMeta]] have something real to parse and an
    * external oracle can recompute the expected values arithmetically
    * (q56).
    */
  def fromDocumentsPng(docs: DataFrame): Dataset[MediaRecord] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val kind = element_at(typedLit(Seq("image", "audio", "video")),
      (col("doc_id") % 3 + 1).cast("int"))
    val content = when(kind === "audio",
      wavPayload(lit(8000L) + (col("doc_id") % 8L) * 4000L,
        lit(1L) + col("doc_id") % 2L, col("text")))
      .otherwise(pngPayload(lit(64L) + col("doc_id") % 512L,
        lit(64L) + (col("doc_id") % 7L) * 64L, col("text")))
    docs.select(
      col("doc_id").as("media_id"),
      kind.as("kind"),
      content.as("content"),
      col("source"))
      // real payload size, header included
      .withColumn("n_bytes", length(col("content")).cast("long"))
      .as[MediaRecord]
  }

  /** Column wrappers for the REAL pixel/sample decode kernels (see
    * [[org.apache.spark.sql.graft.GraftExpressions.bmpPixelStats]] /
    * `wavSampleStats`): `[n_units, min, max, sum]` as array<bigint>, or
    * null when the bytes are not decodable without a codec.
    */
  def pixelStats(content: Column): Column =
    org.apache.spark.sql.graft.GraftExpressions.bmpPixelStats(content)
  def sampleStats(content: Column): Column =
    org.apache.spark.sql.graft.GraftExpressions.wavSampleStats(content)

  private def hexByte(v: Column): Column = lpad(hex(pmod(v, lit(256L))), 2, "0")

  /** Deterministic id-derived BMP pixel rows — value `(id + r*31 + j*7)
    * % 256` at row r, byte j — padded to 4-byte row multiples with
    * zeros, as the REAL decoders' planted ground truth (an external
    * oracle replays the same arithmetic; padding bytes are excluded
    * from [[pixelStats]] by the BMP row contract).
    */
  private[graft] def plantedPixelRows(id: Column, w: Column, h: Column): Column = {
    val rowBytes = w * 3L
    val pad = (lit(4L) - rowBytes % 4L) % 4L
    def row(r: Column): Column = concat(
      concat_ws("", transform(sequence(lit(0L), rowBytes - 1L),
        j => hexByte(id + r * 31L + j * 7L))),
      repeat(lit("00"), pad.cast("int")))
    unhex(concat_ws("", transform(sequence(lit(0L), h - 1L), r => row(r))))
  }

  /** Deterministic id-derived PCM-16 samples, little-endian: `s(k) =
    * ((id*13 + k*37) % 4096) - 2048` for k in [0, n).
    */
  private[graft] def plantedSampleBytes(id: Column, n: Column): Column = {
    def le(k: Column): Column = {
      val u = pmod((id * 13L + k * 37L) % 4096L - 2048L, lit(65536L))
      val hx = lpad(hex(u), 4, "0")
      concat(substring(hx, 3, 2), substring(hx, 1, 2))
    }
    unhex(concat_ws("", transform(sequence(lit(0L), n - 1L), k => le(k))))
  }

  /** Like [[fromDocumentsPng]] but every payload is FULLY decodable
    * without a codec: image/video docs carry an uncompressed 24bpp BMP
    * (w = 4 + id%5 — exercising all four row-padding cases, h = 2 +
    * id%3) whose pixel bytes follow the planted formula, audio docs a
    * PCM-16 WAV (n = 64 + id%32 planted samples). [[pixelStats]] /
    * [[sampleStats]] decode the ACTUAL bytes back out, and q27's oracle
    * recomputes the statistics arithmetically — a real encode→decode
    * round trip at the pixel/sample tier, not just the header tier.
    */
  def fromDocumentsPixels(docs: DataFrame): Dataset[MediaRecord] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val id = col("doc_id")
    val kind = element_at(typedLit(Seq("image", "audio", "video")),
      (id % 3 + 1).cast("int"))
    val w = lit(4L) + id % 5L
    val h = lit(2L) + id % 3L
    val nSamp = lit(64L) + id % 32L
    // The planted body bytes stage as their OWN projection (the
    // gopherQuality discipline): bmpPayload/wavPcmPayload reference
    // their body argument nine times (4 file-size + 4 chunk-size
    // byte extractions + the body itself), the byte-builder is a
    // CodegenFallback higher-order transform chain, and the payload
    // Project is interpreted — no codegen subexpression elimination —
    // so inlining re-built the whole byte string 9x per row (measured
    // as q27's dominant cost). CollapseProject keeps non-cheap
    // multi-referenced projections separate (SPARK-36718), so __body
    // now evaluates once per row.
    val staged = docs.select(id, col("source"),
      when(kind === "audio", plantedSampleBytes(id, nSamp))
        .otherwise(plantedPixelRows(id, w, h)).cast("binary").as("__body"))
    val content = when(kind === "audio",
      wavPcmPayload(lit(8000L) + (id % 8L) * 4000L, lit(1L) + id % 2L,
        col("__body")))
      .otherwise(bmpPayload(w, h, col("__body")))
    staged.select(
      id.as("media_id"),
      kind.as("kind"),
      content.as("content"),
      col("source"))
      .withColumn("n_bytes", length(col("content")).cast("long"))
      .as[MediaRecord]
  }

  // ---------- PNG pixel tier: REAL deflate decode (round 14) ----------

  /** Build a COMPLETE spec-valid PNG — signature, IHDR (8-bit RGB color
    * type 2, non-interlaced), one IDAT holding the zlib/DEFLATE stream
    * of filter-0 scanlines whose pixel bytes follow the SAME planted
    * formula as the BMP tier (`(id + r*31 + j*7) % 256`), and IEND —
    * CRCs included. JVM-side, not a Column: DEFLATE needs stateful
    * window state byte arithmetic cannot express. `level` 0 emits
    * STORED deflate blocks, higher levels real Huffman streams — both
    * must inflate identically through [[decodePngPixels]].
    */
  private[graft] def pngPixelBytes(id: Long, w: Int, h: Int,
      level: Int): Array[Byte] = {
    val rowBytes = 3 * w + 1
    val raw = new Array[Byte](h * rowBytes)
    var r = 0
    while (r < h) {
      val base = r * rowBytes
      raw(base) = 0 // filter: None
      var j = 0
      while (j < 3 * w) {
        raw(base + 1 + j) = ((id + r * 31L + j * 7L) % 256L).toByte
        j += 1
      }
      r += 1
    }
    val defl = new java.util.zip.Deflater(level)
    defl.setInput(raw); defl.finish()
    val zout = new java.io.ByteArrayOutputStream()
    val tmp = new Array[Byte](4096)
    while (!defl.finished()) {
      val k = defl.deflate(tmp)
      zout.write(tmp, 0, k)
    }
    defl.end()
    def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
      val tb = typ.getBytes("US-ASCII")
      val crc = new java.util.zip.CRC32()
      crc.update(tb); crc.update(data)
      java.nio.ByteBuffer.allocate(12 + data.length)
        .putInt(data.length).put(tb).put(data)
        .putInt(crc.getValue.toInt).array()
    }
    val ihdr = java.nio.ByteBuffer.allocate(13).putInt(w).putInt(h)
      .put(8.toByte).put(2.toByte) // bit depth 8, color type 2 (RGB)
      .put(0.toByte).put(0.toByte).put(0.toByte).array()
    PngSig ++ chunk("IHDR", ihdr) ++ chunk("IDAT", zout.toByteArray) ++
      chunk("IEND", Array.emptyByteArray)
  }

  /** Deflate-compressed PNG payloads over the documents table: image
    * dims follow the BMP tier's family (w = 4 + id%5, h = 2 + id%3),
    * even ids deflate as STORED blocks and odd ids at the default
    * Huffman level, so the decoder's Inflater is exercised on both
    * block types. [[headerDims]] still parses these (real IHDR), and
    * [[decodePngPixels]] recovers the planted pixel bytes from the
    * actual compressed bitstream — q108's oracle replays them
    * arithmetically.
    */
  def fromDocumentsPngPixels(docs: DataFrame): Dataset[MediaRecord] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("source")).as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, source) =>
          val w = (4 + id % 5).toInt
          val h = (2 + id % 3).toInt
          val level =
            if (id % 2 == 0) java.util.zip.Deflater.NO_COMPRESSION
            else java.util.zip.Deflater.DEFAULT_COMPRESSION
          val bytes = pngPixelBytes(id, w, h, level)
          MediaRecord(id, "image", bytes, source, bytes.length.toLong)
        }
      }
  }

  private def beInt(b: Array[Byte], o: Int): Int =
    ((b(o) & 0xff) << 24) | ((b(o + 1) & 0xff) << 16) |
      ((b(o + 2) & 0xff) << 8) | (b(o + 3) & 0xff)
  private def chunkTypeIs(b: Array[Byte], o: Int, t: String): Boolean =
    b(o) == t.charAt(0).toByte && b(o + 1) == t.charAt(1).toByte &&
      b(o + 2) == t.charAt(2).toByte && b(o + 3) == t.charAt(3).toByte

  /** Decode one PNG's pixel statistics: inflate the IDAT stream through
    * the caller's (partition-pooled) Inflater, reconstruct all five PNG
    * scanline filters in place, and return (width, height, n_pixel_bytes,
    * min, max, sum) over the RECONSTRUCTED bytes. None for anything
    * outside the supported envelope — non-PNG bytes, color types other
    * than 8-bit RGB, interlaced streams, corrupt/truncated DEFLATE data,
    * or an IHDR declaring more than the 64 MiB per-image reconstruction
    * cap (a hostile header must not OOM an executor).
    */
  private[graft] def pngStats(inf: java.util.zip.Inflater,
      bytes: Array[Byte]): Option[(Long, Long, Long, Long, Long, Long)] = {
    if (bytes.length < 45) return None // sig 8 + IHDR 25 + IEND 12
    var i = 0
    while (i < 8) { if (bytes(i) != PngSig(i)) return None; i += 1 }
    if (beInt(bytes, 8) != 13 || !chunkTypeIs(bytes, 12, "IHDR")) return None
    val w = beInt(bytes, 16)
    val h = beInt(bytes, 20)
    val depth = bytes(24) & 0xff
    val color = bytes(25) & 0xff
    val interlace = bytes(28) & 0xff
    if (depth != 8 || color != 2 || interlace != 0) return None
    if (w <= 0 || h <= 0) return None
    val rowBytes = 3L * w + 1L
    val total = rowBytes * h
    if (total > (64L << 20)) return None
    val out = new Array[Byte](total.toInt)
    val rb = rowBytes.toInt
    inf.reset()
    var produced = 0
    try {
      var off = 33 // first chunk after IHDR
      var done = false
      while (!done && off + 8 <= bytes.length) {
        val len = beInt(bytes, off)
        if (len < 0 || off.toLong + 12L + len > bytes.length) return None
        if (chunkTypeIs(bytes, off + 4, "IDAT")) {
          inf.setInput(bytes, off + 8, len)
          var n = 1
          while (n > 0 && produced < out.length) {
            n = inf.inflate(out, produced, out.length - produced)
            produced += n
          }
        } else if (chunkTypeIs(bytes, off + 4, "IEND")) done = true
        off += 12 + len
      }
      if (produced != out.length || !inf.finished()) return None
    } catch { case _: java.util.zip.DataFormatException => return None }
    // reconstruct filters in place (bpp = 3): None/Sub/Up/Average/Paeth
    var r = 0
    while (r < h) {
      val base = r * rb
      val f = out(base) & 0xff
      if (f > 4) return None
      var j = 1
      while (j <= 3 * w) {
        val x = out(base + j) & 0xff
        val left = if (j > 3) out(base + j - 3) & 0xff else 0
        val up = if (r > 0) out(base - rb + j) & 0xff else 0
        val ul = if (r > 0 && j > 3) out(base - rb + j - 3) & 0xff else 0
        val recon = f match {
          case 0 => x
          case 1 => x + left
          case 2 => x + up
          case 3 => x + (left + up) / 2
          case _ =>
            val p = left + up - ul
            val pa = math.abs(p - left)
            val pb = math.abs(p - up)
            val pc = math.abs(p - ul)
            x + (if (pa <= pb && pa <= pc) left else if (pb <= pc) up else ul)
        }
        out(base + j) = (recon & 0xff).toByte
        j += 1
      }
      r += 1
    }
    var mn = 255L; var mx = 0L; var sum = 0L
    r = 0
    while (r < h) {
      val base = r * rb
      var j = 1
      while (j <= 3 * w) {
        val v = (out(base + j) & 0xff).toLong
        if (v < mn) mn = v
        if (v > mx) mx = v
        sum += v
        j += 1
      }
      r += 1
    }
    Some((w.toLong, h.toLong, 3L * w * h, mn, mx, sum))
  }

  // ---------- GIF pixel tier: REAL LZW decode (round 15) ----------

  /** GIF-LZW compress `data` (palette indexes) at `minCodeSize`,
    * returning the raw code stream (NOT yet sub-blocked). Spec-faithful:
    * LSB-first bit packing, CLEAR emitted first, code width grows when
    * the next assignable code reaches 2^width (cap 12), dictionary
    * cleared via an explicit CLEAR when full — and, when `clearEvery`
    * > 0, after every `clearEvery` emitted codes, producing the
    * reset-heavy streams old encoders emit. Synth-side only (the
    * decode path never sees this code), like the PNG tier's Deflater.
    */
  private def lzwEncode(data: Array[Byte], minCodeSize: Int,
      clearEvery: Int): Array[Byte] = {
    val clear = 1 << minCodeSize
    val eoi = clear + 1
    val out = new java.io.ByteArrayOutputStream()
    var bitBuf = 0L
    var bitCnt = 0
    var width = minCodeSize + 1
    def emit(code: Int): Unit = {
      bitBuf |= code.toLong << bitCnt
      bitCnt += width
      while (bitCnt >= 8) {
        out.write((bitBuf & 0xff).toInt); bitBuf >>>= 8; bitCnt -= 8
      }
    }
    val dict = new java.util.HashMap[Integer, Integer]()
    var next = eoi + 1
    def reset(): Unit = { dict.clear(); next = eoi + 1; width = minCodeSize + 1 }
    emit(clear)
    var prefix = -1
    var emitted = 0
    var i = 0
    while (i < data.length) {
      val k = data(i) & 0xff
      require(k < clear, s"index $k exceeds palette for minCodeSize $minCodeSize")
      if (prefix < 0) prefix = k
      else {
        val key = Integer.valueOf((prefix << 8) | k)
        val hit = dict.get(key)
        if (hit != null) prefix = hit.intValue()
        else {
          emit(prefix); emitted += 1
          if (next < 4096) {
            dict.put(key, Integer.valueOf(next))
            // grow at the same inter-code boundary the decoder does:
            // the just-assigned code is the first that needs width+1
            if (next == (1 << width) && width < 12) width += 1
            next += 1
          } else { emit(clear); reset() }
          if (clearEvery > 0 && emitted % clearEvery == 0) {
            emit(clear); reset()
          }
          prefix = k
        }
      }
      i += 1
    }
    if (prefix >= 0) emit(prefix)
    emit(eoi)
    if (bitCnt > 0) out.write((bitBuf & 0xff).toInt) // flush padding
    out.toByteArray
  }

  /** Build a COMPLETE spec-valid GIF89a — header, logical screen
    * descriptor, a grayscale global color table, a Graphic Control
    * Extension (so the decoder's extension-skipping walk is exercised),
    * one non-interlaced image descriptor, the LZW-compressed index
    * stream in 255-byte sub-blocks, and the trailer. Pixel indexes
    * follow the planted formula `(id + r*31 + j*7) % palette` so the
    * DuckDB oracle can replay every statistic arithmetically.
    */
  private[graft] def gifPixelBytes(id: Long, w: Int, h: Int,
      minCodeSize: Int, clearEvery: Int): Array[Byte] = {
    val palette = 1 << minCodeSize
    val raw = new Array[Byte](w * h)
    var r = 0
    while (r < h) {
      var j = 0
      while (j < w) {
        raw(r * w + j) = ((id + r * 31L + j * 7L) % palette).toByte
        j += 1
      }
      r += 1
    }
    // NOTE the formula's +7 stride never repeats an index twice in a
    // row, so this corpus cannot produce the KwKwK code (code == next)
    // — [[gifBytesFromIndexes]] fixtures in MediaSpec cover that path
    // with repetitive index streams.
    gifBytesFromIndexes(raw, w, h, minCodeSize, clearEvery)
  }

  /** The container assembly behind [[gifPixelBytes]], taking EXPLICIT
    * palette indexes — the seam that lets specs plant repetitive
    * streams (runs of equal indexes) whose decode exercises the KwKwK
    * case on every step.
    */
  private[graft] def gifBytesFromIndexes(raw: Array[Byte], w: Int, h: Int,
      minCodeSize: Int, clearEvery: Int): Array[Byte] = {
    val palette = 1 << minCodeSize
    val codes = lzwEncode(raw, minCodeSize, clearEvery)
    val out = new java.io.ByteArrayOutputStream()
    out.write("GIF89a".getBytes("US-ASCII"))
    def le16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    le16(w); le16(h)
    val gctBits = minCodeSize - 1 // 2^(bits+1) entries = palette
    out.write(0x80 | (gctBits << 4) | gctBits) // GCT present, size field
    out.write(0); out.write(0) // background index, aspect
    var c = 0
    while (c < palette) { // grayscale ramp
      val v = (c * 255) / (palette - 1)
      out.write(v); out.write(v); out.write(v)
      c += 1
    }
    // Graphic Control Extension: the decoder must HOP extensions by
    // their sub-block lengths, never scan their bodies
    out.write(0x21); out.write(0xF9); out.write(4)
    out.write(0); le16(0); out.write(0); out.write(0)
    out.write(0x2C) // image descriptor
    le16(0); le16(0); le16(w); le16(h)
    out.write(0) // no local color table, NOT interlaced
    out.write(minCodeSize)
    var off = 0
    while (off < codes.length) {
      val n = math.min(255, codes.length - off)
      out.write(n); out.write(codes, off, n)
      off += n
    }
    out.write(0) // block terminator
    out.write(0x3B) // trailer
    out.toByteArray
  }

  /** LZW-compressed GIF payloads over the documents table, the GIF
    * sibling of [[fromDocumentsPngPixels]]: dims are large enough that
    * the dictionary genuinely grows through 9->10->11-bit codes
    * (w = 40 + id%17, h = 12 + id%7); ids %3==0 use a 16-color palette
    * (minCodeSize 4 — different CLEAR/EOI/width start), the rest the
    * full 256-color palette (minCodeSize 8); even ids emit a CLEAR
    * every 16 codes (the reset-heavy old-encoder shape), odd ids grow
    * the dictionary freely. [[headerDims]] still parses these (real
    * logical-screen header) and [[decodeGifPixels]] recovers the
    * planted indexes from the actual compressed code stream.
    */
  def fromDocumentsGifPixels(docs: DataFrame): Dataset[MediaRecord] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("source")).as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, source) =>
          val w = (40 + id % 17).toInt
          val h = (12 + id % 7).toInt
          val minCodeSize = if (id % 3 == 0) 4 else 8
          val clearEvery = if (id % 2 == 0) 16 else 0
          val bytes = gifPixelBytes(id, w, h, minCodeSize, clearEvery)
          MediaRecord(id, "image", bytes, source, bytes.length.toLong)
        }
      }
  }

  /** Decode one GIF's pixel-index statistics: walk the container (skip
    * the global color table and any extensions), hand-rolled LZW decode
    * of the first image's code stream — variable-width codes LSB-first,
    * CLEAR/EOI, KwKwK case, 12-bit cap with deferred-clear tolerance —
    * and return (width, height, n_pixels, min, max, sum) over the
    * reconstructed palette INDEXES (the planted payload; mapping
    * through the palette would just apply a fixed ramp). None outside
    * the supported envelope — non-GIF bytes, interlaced images,
    * a corrupt/short/overlong code stream, or dims whose
    * index buffer would exceed the 64 MiB reconstruction cap (a hostile
    * header must not OOM an executor).
    */
  /** Reusable per-partition LZW workspace — the codec-pool shape, like
    * the PNG tier's pooled Inflater: the 4096-entry dictionary arrays
    * are allocated once per partition, not once per record (5M records
    * x ~20 KB would be pure GC churn at sf100).
    */
  private[graft] final class LzwWorkspace {
    val prefixOf = new Array[Int](4096)
    val suffixOf = new Array[Byte](4096)
  }

  private[graft] def gifStats(ws: LzwWorkspace,
      bytes: Array[Byte]): Option[(Long, Long, Long, Long, Long, Long)] = {
    if (bytes.length < 14) return None
    val sig = new String(bytes, 0, 6, "US-ASCII")
    if (sig != "GIF89a" && sig != "GIF87a") return None
    def u8(o: Int): Int = bytes(o) & 0xff
    def le16(o: Int): Int = u8(o) | (u8(o + 1) << 8)
    val packed = u8(10)
    var off = 13
    if ((packed & 0x80) != 0) off += 3 * (1 << ((packed & 7) + 1))
    // walk to the first image descriptor, hopping extensions
    while (off < bytes.length && u8(off) == 0x21) {
      off += 2 // introducer + label
      while (off < bytes.length && u8(off) != 0) off += 1 + u8(off)
      off += 1 // sub-block terminator
    }
    if (off + 10 > bytes.length || u8(off) != 0x2C) return None
    val w = le16(off + 5)
    val h = le16(off + 7)
    val ipacked = u8(off + 9)
    if ((ipacked & 0x40) != 0) return None // interlaced: out of envelope
    if (w <= 0 || h <= 0) return None
    val total = w.toLong * h.toLong
    if (total > (64L << 20)) return None
    off += 10
    // a local color table changes colors, not indexes — hop it (the
    // JDK's own GIF writer emits one)
    if ((ipacked & 0x80) != 0) off += 3 * (1 << ((ipacked & 7) + 1))
    if (off >= bytes.length) return None
    val minCodeSize = u8(off)
    off += 1
    if (minCodeSize < 2 || minCodeSize > 8) return None
    // concatenate the data sub-blocks into one code buffer
    val codeBuf = new java.io.ByteArrayOutputStream()
    var blockLen = -1
    while (off < bytes.length && { blockLen = u8(off); blockLen != 0 }) {
      if (off + 1 + blockLen > bytes.length) return None
      codeBuf.write(bytes, off + 1, blockLen)
      off += 1 + blockLen
    }
    val codes = codeBuf.toByteArray
    // ---- LZW decode ----
    val clear = 1 << minCodeSize
    val eoi = clear + 1
    val prefixOf = ws.prefixOf
    val suffixOf = ws.suffixOf
    val out = new Array[Byte](total.toInt)
    var produced = 0
    var width = minCodeSize + 1
    var next = eoi + 1
    var prev = -1
    var bitPos = 0
    val nBits = codes.length * 8
    def firstByte(code0: Int): Int = {
      var c = code0
      while (c >= clear) c = prefixOf(c)
      c
    }
    // expand `code`'s string into out (tail-first via a walk to measure,
    // then fill backwards — no per-code stack allocation)
    def expand(code0: Int): Boolean = {
      var len = 0
      var c = code0
      while (c >= clear) { len += 1; c = prefixOf(c) }
      len += 1
      if (produced + len > out.length) return false
      var pos = produced + len - 1
      c = code0
      while (c >= clear) { out(pos) = suffixOf(c); pos -= 1; c = prefixOf(c) }
      out(pos) = c.toByte
      produced += len
      true
    }
    var finished = false
    while (!finished) {
      if (bitPos + width > nBits) return None // ran out mid-code
      var v = 0
      var got = 0
      while (got < width) {
        val byteIdx = (bitPos + got) >> 3
        val bitIdx = (bitPos + got) & 7
        val take = math.min(8 - bitIdx, width - got)
        v |= (((codes(byteIdx) & 0xff) >> bitIdx) & ((1 << take) - 1)) << got
        got += take
      }
      bitPos += width
      val code = v
      if (code == clear) {
        width = minCodeSize + 1; next = eoi + 1; prev = -1
      } else if (code == eoi) {
        finished = true
      } else if (prev < 0) {
        if (code >= clear) return None // first code must be a literal
        if (produced >= out.length) return None
        out(produced) = code.toByte; produced += 1
        prev = code
        // no dict add and no width check here: the first assignable
        // code is 2^min + 2, which can never equal 2^(min+1) for the
        // spec's minCodeSize >= 2, so growth is impossible this early
      } else if (code <= next && code < 4096) {
        val kwkwk = code == next
        if (kwkwk && next >= 4096) return None
        val fb = firstByte(if (kwkwk) prev else code)
        if (next < 4096) {
          prefixOf(next) = prev; suffixOf(next) = fb.toByte
          next += 1
        }
        if (!expand(code)) return None
        prev = code
        if (next == (1 << width) && width < 12) width += 1
      } else return None // code beyond the dictionary: corrupt
    }
    if (produced != out.length) return None
    var mn = (1 << minCodeSize).toLong
    var mx = 0L
    var sum = 0L
    var i = 0
    while (i < out.length) {
      val x = (out(i) & 0xff).toLong
      if (x < mn) mn = x
      if (x > mx) mx = x
      sum += x
      i += 1
    }
    Some((w.toLong, h.toLong, total, mn, mx, sum))
  }

  /** REAL compressed-pixel decode for GIF — the LZW sibling of
    * [[decodePngPixels]], closing another tier of [[decodeStub]]: the
    * variable-width LZW code stream is decoded by a hand-rolled kernel
    * inside a bounded mapPartitions (LZW's dictionary is stateful
    * across the whole stream, the one shape codegen cannot express),
    * columns null outside the supported envelope (see [[gifStats]]).
    */
  def decodeGifPixels(media: Dataset[MediaRecord]): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { batch =>
      val ws = new LzwWorkspace() // one dictionary pool per partition
      batch.map { m =>
        val st = gifStats(ws, m.content)
        (m.media_id, st.map(_._1), st.map(_._2), st.map(_._3),
          st.map(_._4), st.map(_._5), st.map(_._6))
      }
    }.toDF("media_id", "width", "height", "n_units",
      "unit_min", "unit_max", "unit_sum")
  }

  /** REAL compressed-pixel decode for PNG — the tier that was formerly
    * fully stubbed: the DEFLATE bitstream is inflated
    * (`java.util.zip.Inflater`, ONE per partition, reset per record —
    * the codec-pool shape real decoders need) and the scanlines
    * de-filtered, inside a bounded mapPartitions, the one place a
    * codegen kernel cannot reach (DEFLATE's dictionary window is
    * stateful). Columns are null outside the supported envelope (see
    * [[pngStats]]) — bounded honesty, not a libpng; the JPEG, GIF-LZW
    * and MP4 tiers are real too ([[Jpeg]], [[decodeGifPixels]],
    * [[Mp4]]).
    */
  def decodePngPixels(media: Dataset[MediaRecord]): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { batch =>
      val inf = new java.util.zip.Inflater()
      // zlib's dictionary window is NATIVE memory — end() releases it
      // deterministically at partition end; leaving it to finalization
      // accumulates off-heap usage the executor heap sizing never sees
      // (one window per processed partition until a GC happens to run)
      Option(org.apache.spark.TaskContext.get())
        .foreach(_.addTaskCompletionListener[Unit](_ => inf.end()))
      batch.map { m =>
        val st = pngStats(inf, m.content)
        (m.media_id, st.map(_._1), st.map(_._2), st.map(_._3),
          st.map(_._4), st.map(_._5), st.map(_._6))
      }
    }.toDF("media_id", "width", "height", "n_units",
      "unit_min", "unit_max", "unit_sum")
  }

  /** STUB decoder: deterministic fake decode/resize/frame-sample deriving
    * dims and features from a rolling byte hash. Replace the marked block
    * with a real codec (e.g. javax.imageio / ffmpeg bindings) in a real
    * deployment — the batch shape stays identical. Since round 15 every
    * registered media GATE decodes a real bitstream (BMP/WAV-PCM, PNG
    * DEFLATE, GIF LZW, JPEG Huffman, MP4 Motion-JPEG — see [[Mp4]]), and
    * round 16 added real COMPRESSED AUDIO (IMA-ADPCM, [[Adpcm]], q120)
    * and real LOSSLESS AUDIO (FLAC fixed-predictor subset, [[Flac]],
    * q124); this stub remains only as the declared fake
    * feature-extractor plumbing for the codec families a pure-JVM
    * hand-roll cannot honestly serve: H.264-class inter-frame video and
    * perceptual-transform audio (MP3/AAC-class).
    */
  def decodeStub(media: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { batch =>
      // Real decoders init a codec context here, once per partition.
      batch.map { m =>
        // ---- STUB: deterministic fake decode (no codecs in container) ----
        var h = 1125899906842597L
        var i = 0
        while (i < m.content.length) { h = 31 * h + m.content(i); i += 1 }
        val width = 64 + math.floorMod(h, 512).toInt
        val height = 64 + math.floorMod(h >> 16, 512).toInt
        val nFrames = m.kind match {
          case "video" => 1 + math.floorMod(h >> 24, 30).toInt
          case _ => 1
        }
        val feats = Array.tabulate(FeatureDim) { d =>
          (math.floorMod(h >> (d * 7), 1000) / 1000.0f)
        }
        // ---- end STUB ----
        MediaFeatures(m.media_id, m.kind, width, height, nFrames, feats)
      }
    }
  }

  /** End-to-end plumbing: synthesize → decode (stub) → per-kind feature
    * aggregate, as a DataFrame for SparkEntry.
    */
  def featureSummary(docs: DataFrame): DataFrame = {
    val feats = decodeStub(fromDocuments(docs))
    feats.toDF()
      .groupBy(col("kind"))
      .agg(
        count(lit(1)).as("n_media"),
        sum(col("width").cast("long")).as("sum_width"),
        sum(col("n_frames").cast("long")).as("sum_frames"),
        min(col("media_id")).as("min_id"))
  }
}
