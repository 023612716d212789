package graft
package queries

import org.apache.spark.sql.functions._

import Fixtures._

/** Media decode and corpus containers: PNG, GIF and JPEG pixels, MP4
  * boxes and frames, ADPCM and FLAC audio, and WARC, ZIP, tar, TFRecord
  * and tf.Example shards.
  */
private[graft] object MediaQueries {

  // Multimodal features with REAL pixel/sample decode: documents
  // synthesize fully decodable payloads (uncompressed 24bpp BMP for
  // image/video docs, PCM-16 WAV for audio docs) carrying planted
  // id-derived pixel/sample values; the native byte-walk kernels
  // decode the ACTUAL bytes back out (row padding skipped, RIFF chunk
  // walk to `data`), and the oracle recomputes every statistic
  // arithmetically — an encode→decode round trip at the pixel tier,
  // exact to the byte. Integer stats only (count/min/max/sum), so the
  // hash match is exact. `decodeStub` (true-codec formats) no longer
  // feeds any registered query.
  val q27 = Query("q27_media_features", (s, dir) => {
      val media = graft.multimodal.Media
        .fromDocumentsPixels(Tables.documents(s, dir)).toDF()
      media.select(col("media_id"), col("kind"),
          coalesce(graft.multimodal.Media.pixelStats(col("content")),
            graft.multimodal.Media.sampleStats(col("content"))).as("st"),
          graft.multimodal.Media.headerDims(col("content")).as("hd"),
          graft.multimodal.Media.audioMeta(col("content")).as("am"))
        .select(col("media_id"), col("kind"),
          coalesce(col("hd.format"), col("am.format")).as("format"),
          col("hd.width").as("width"), col("hd.height").as("height"),
          element_at(col("st"), 1).as("n_units"),
          element_at(col("st"), 2).as("unit_min"),
          element_at(col("st"), 3).as("unit_max"),
          element_at(col("st"), 4).as("unit_sum"))
    },
    // full arithmetic replay of the planted pixel/sample ground truth:
    // the BMP/WAV-PCM payloads carry formula-derived bytes, the native
    // kernels decode them back, and DuckDB recomputes every statistic
    """WITH base AS (
      |  SELECT doc_id, doc_id % 3 AS m,
      |    4 + doc_id % 5 AS w, 2 + doc_id % 3 AS h,
      |    64 + doc_id % 32 AS ns
      |  FROM documents),
      |px AS (SELECT doc_id, flatten(list_transform(range(h), r ->
      |         list_transform(range(w*3), j -> (doc_id + r*31 + j*7) % 256))) AS pl
      |       FROM base WHERE m <> 1),
      |au AS (SELECT doc_id, list_transform(range(ns), k ->
      |         ((doc_id*13 + k*37) % 4096) - 2048) AS sl
      |       FROM base WHERE m = 1)
      |SELECT b.doc_id AS media_id,
      |  CASE b.m WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
      |  CASE WHEN b.m = 1 THEN 'wav' ELSE 'bmp' END AS format,
      |  CAST(CASE WHEN b.m = 1 THEN NULL ELSE b.w END AS BIGINT) AS width,
      |  CAST(CASE WHEN b.m = 1 THEN NULL ELSE b.h END AS BIGINT) AS height,
      |  CAST(CASE WHEN b.m = 1 THEN b.ns ELSE b.w*3*b.h END AS BIGINT) AS n_units,
      |  CAST(CASE WHEN b.m = 1 THEN list_min(a.sl) ELSE list_min(p.pl) END AS BIGINT) AS unit_min,
      |  CAST(CASE WHEN b.m = 1 THEN list_max(a.sl) ELSE list_max(p.pl) END AS BIGINT) AS unit_max,
      |  CAST(CASE WHEN b.m = 1 THEN list_sum(a.sl) ELSE list_sum(p.pl) END AS BIGINT) AS unit_sum
      |FROM base b LEFT JOIN px p USING (doc_id) LEFT JOIN au a USING (doc_id)""".stripMargin)

  // REAL media-header decode round trip: image/video payloads carry a
  // valid PNG signature + IHDR, audio payloads a valid WAV/RIFF fmt
  // chunk, all built from id-derived metadata; headerDims/audioMeta
  // parse the values BACK out of the bytes with codegen'd byte
  // arithmetic (substring/hex/conv — no codec, metadata is plain
  // bytes). The oracle recomputes the expected values arithmetically,
  // so a parse bug on either side (encode or decode) breaks the hash
  // match.
  val q56 = Query("q56_media_dims", (s, dir) => {
      val media = graft.multimodal.Media.fromDocumentsPng(Tables.documents(s, dir))
      media.toDF().select(col("media_id"), col("kind"),
          graft.multimodal.Media.headerDims(col("content")).as("h"),
          graft.multimodal.Media.audioMeta(col("content")).as("a"))
        .select(col("media_id"), col("kind"),
          coalesce(col("h.format"), col("a.format")).as("format"),
          col("h.width").as("width"), col("h.height").as("height"),
          col("a.sample_rate").as("sample_rate"), col("a.channels").as("channels"))
    },
    """SELECT doc_id AS media_id,
      |  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
      |    ELSE 'video' END AS kind,
      |  CASE WHEN doc_id % 3 = 1 THEN 'wav' ELSE 'png' END AS format,
      |  CASE WHEN doc_id % 3 <> 1 THEN CAST(64 + doc_id % 512 AS BIGINT) END AS width,
      |  CASE WHEN doc_id % 3 <> 1 THEN CAST(64 + (doc_id % 7) * 64 AS BIGINT) END AS height,
      |  CASE WHEN doc_id % 3 = 1 THEN CAST(8000 + (doc_id % 8) * 4000 AS BIGINT) END AS sample_rate,
      |  CASE WHEN doc_id % 3 = 1 THEN CAST(1 + doc_id % 2 AS BIGINT) END AS channels
      |FROM documents""".stripMargin)

  // JPEG header decode under the oracle gate: every doc wraps in a
  // JPEG whose SOF sits at a VARIABLE offset (EXIF APP1 always first,
  // a COM segment for %3=0 ids, SOF2 vs SOF0 by id parity), dims are
  // id-derived — the native marker walk must recover exactly what the
  // oracle recomputes arithmetically. MediaSpec adds handcrafted
  // fixtures (fill bytes, SOS-before-SOF, truncation, DHT skipping).
  val q85 = Query("q85_jpeg_dims", (s, dir) => {
      import graft.multimodal.Media
      val payload = Media.jpegPayload(
        lit(64L) + col("doc_id") % 1024L,
        lit(32L) + (col("doc_id") % 9L) * 32L,
        col("doc_id") % 2 === 0,
        col("doc_id") % 3 === 0,
        col("text"))
      Tables.documents(s, dir)
        .select(col("doc_id"), Media.headerDims(payload).as("hd"))
        .select(col("doc_id"), col("hd.format").as("format"),
          col("hd.width").as("width"), col("hd.height").as("height"))
    },
    // the oracle replays the planted id-derived dims arithmetically —
    // the Spark side must recover them from bytes via the marker walk
    """SELECT doc_id, 'jpeg' AS format,
      |  CAST(64 + doc_id % 1024 AS BIGINT) AS width,
      |  CAST(32 + (doc_id % 9) * 32 AS BIGINT) AS height
      |FROM documents""".stripMargin)

  // ISO-BMFF (MP4) box walk under the oracle gate: every doc wraps in
  // a synthetic MP4 whose moov sits at a VARIABLE offset (id-sized
  // free box), dims live in 16.16 fixed-point inside moov▸trak▸tkhd,
  // and duration = mvhd units/timescale with an id-chosen timescale —
  // the nested-container sibling of q85's flat JPEG marker walk.
  // MediaSpec adds largesize/v1/audio-first/size-0/truncation fixtures.
  val q92 = Query("q92_mp4_meta", (s, dir) => {
      import graft.multimodal.Media
      val ts = when(col("doc_id") % 3 === 0, 1000L)
        .when(col("doc_id") % 3 === 1, 500L).otherwise(250L)
      val payload = Media.mp4Payload(
        lit(16L) + col("doc_id") % 600L,
        lit(16L) + (col("doc_id") % 7L) * 48L,
        col("doc_id") % 86400L, ts, col("doc_id") % 48L, col("text"))
      Tables.documents(s, dir)
        .select(col("doc_id"), Media.videoMeta(payload).as("vm"))
        .select(col("doc_id"), col("vm.format").as("format"),
          col("vm.width").as("width"), col("vm.height").as("height"),
          col("vm.duration_ms").as("duration_ms"))
    },
    // the planted MP4 metadata replayed arithmetically: duration_ms =
    // units * 1000 / timescale, where timescale divides 1000 exactly
    """SELECT doc_id, 'mp4' AS format,
      |  16 + doc_id % 600 AS width,
      |  16 + (doc_id % 7) * 48 AS height,
      |  (doc_id % 86400) *
      |    (CASE doc_id % 3 WHEN 0 THEN 1 WHEN 1 THEN 2 ELSE 4 END)
      |    AS duration_ms
      |FROM documents""".stripMargin)

  // REAL compressed-pixel decode (round 14): documents synthesize
  // spec-valid PNGs — 8-bit RGB scanlines carrying the SAME planted
  // formula as the BMP tier, DEFLATE-compressed with
  // java.util.zip.Deflater (even ids: STORED blocks; odd ids: real
  // Huffman streams) — and Media.decodePngPixels inflates and
  // de-filters the actual bitstream in a bounded mapPartitions (one
  // Inflater per partition, the codec-pool shape). The oracle
  // replays every statistic arithmetically, so a bug on EITHER side
  // of the compress→decompress round trip breaks the hash. This
  // retires the last fully-stubbed tier for PNG; JPEG/GIF/MP4 pixel
  // decode remains behind the declared Media.decodeStub.
  val q108 = Query("q108_png_pixels", (s, dir) => {
      graft.multimodal.Media.decodePngPixels(
        graft.multimodal.Media.fromDocumentsPngPixels(
          Tables.documents(s, dir)))
    },
    // arithmetic replay of the PNG pixel ground truth: the DEFLATE
    // round trip (Deflater on the Spark write side, Inflater + filter
    // reconstruction on the decode side) must hand back exactly the
    // planted scanline bytes
    """WITH base AS (
      |  SELECT doc_id, 4 + doc_id % 5 AS w, 2 + doc_id % 3 AS h
      |  FROM documents),
      |px AS (SELECT doc_id, flatten(list_transform(range(h), r ->
      |         list_transform(range(w*3), j -> (doc_id + r*31 + j*7) % 256))) AS pl
      |       FROM base)
      |SELECT b.doc_id AS media_id,
      |  CAST(b.w AS BIGINT) AS width, CAST(b.h AS BIGINT) AS height,
      |  CAST(b.w*3*b.h AS BIGINT) AS n_units,
      |  CAST(list_min(p.pl) AS BIGINT) AS unit_min,
      |  CAST(list_max(p.pl) AS BIGINT) AS unit_max,
      |  CAST(list_sum(p.pl) AS BIGINT) AS unit_sum
      |FROM base b JOIN px p USING (doc_id)""".stripMargin)

  // REAL GIF-LZW pixel decode (round 15): documents become complete
  // spec-valid GIF89a payloads — grayscale palettes of 16 (ids %3==0,
  // minCodeSize 4) or 256 colors (minCodeSize 8), planted indexes
  // (id + r*31 + j*7) % palette, LZW-compressed with real dictionary
  // growth through 9-12 bit codes (odd ids) or reset-heavy CLEAR
  // cycles (even ids) — and Media.decodeGifPixels recovers the
  // indexes from the actual variable-width code stream with a
  // hand-rolled LZW kernel in a bounded mapPartitions (MediaSpec
  // cross-checks both directions against the JDK's independent
  // javax.imageio GIF codec). The oracle replays every statistic
  // arithmetically; see q110 for the JPEG entropy tier.
  val q109 = Query("q109_gif_pixels", (s, dir) => {
      graft.multimodal.Media.decodeGifPixels(
        graft.multimodal.Media.fromDocumentsGifPixels(
          Tables.documents(s, dir)))
    },
    // arithmetic replay of the GIF index ground truth: the LZW round
    // trip (dictionary encoder on the Spark write side, hand-rolled
    // variable-width decoder on the read side) must hand back exactly
    // the planted palette indexes
    """WITH base AS (
      |  SELECT doc_id, 40 + doc_id % 17 AS w, 12 + doc_id % 7 AS h,
      |    CASE WHEN doc_id % 3 = 0 THEN 16 ELSE 256 END AS pal
      |  FROM documents),
      |px AS (SELECT doc_id, flatten(list_transform(range(h), r ->
      |         list_transform(range(w), j -> (doc_id + r*31 + j*7) % pal))) AS pl
      |       FROM base)
      |SELECT b.doc_id AS media_id,
      |  CAST(b.w AS BIGINT) AS width, CAST(b.h AS BIGINT) AS height,
      |  CAST(b.w*b.h AS BIGINT) AS n_units,
      |  CAST(list_min(p.pl) AS BIGINT) AS unit_min,
      |  CAST(list_max(p.pl) AS BIGINT) AS unit_max,
      |  CAST(list_sum(p.pl) AS BIGINT) AS unit_sum
      |FROM base b JOIN px p USING (doc_id)""".stripMargin)

  // REAL JPEG ENTROPY decode (round 15): documents become complete
  // spec-valid baseline JPEGs (SOI/DQT/SOF0/DHT/SOS, Annex-K Huffman
  // tables, byte stuffing, differential DC, run/size AC with
  // ZRL/EOB) whose QUANTIZED COEFFICIENTS follow a planted formula,
  // and Jpeg.decodeJpegCoefficients recovers the dequantized
  // coefficients from the actual Huffman bitstream. Coefficients,
  // not pixels, deliberately: entropy decode is exact (so the DuckDB
  // oracle replays it arithmetically), while pixels would drag the
  // lossy DCT into the oracle. JpegSpec closes the pixel loop
  // against the JDK's independent javax.imageio codec in both
  // directions. See q111 for the MP4/video tier built on this
  // kernel.
  val q110 = Query("q110_jpeg_coefficients", (s, dir) => {
      graft.multimodal.Jpeg.decodeJpegCoefficients(
        graft.multimodal.Jpeg.fromDocumentsJpegCoefs(
          Tables.documents(s, dir)))
    },
    // arithmetic replay of the JPEG entropy ground truth: the Huffman
    // round trip (bit-level encoder on the Spark write side, canonical
    // mincode/maxcode decoder on the read side) must hand back exactly
    // the planted dequantized coefficients
    """WITH base AS (
      |  SELECT doc_id, 2 + doc_id % 5 AS wb, 1 + doc_id % 3 AS hb
      |  FROM documents),
      |cf AS (SELECT doc_id, flatten(list_transform(range(wb*hb), b ->
      |         list_transform(range(64), k ->
      |           (((doc_id + b*7 + k*3) % 9) - 4) * (1 + k % 4)))) AS cl
      |       FROM base)
      |SELECT b.doc_id AS media_id,
      |  CAST(b.wb*8 AS BIGINT) AS width, CAST(b.hb*8 AS BIGINT) AS height,
      |  CAST(b.wb*b.hb*64 AS BIGINT) AS n_units,
      |  CAST(list_min(c.cl) AS BIGINT) AS unit_min,
      |  CAST(list_max(c.cl) AS BIGINT) AS unit_max,
      |  CAST(list_sum(c.cl) AS BIGINT) AS unit_sum
      |FROM base b JOIN cf c USING (doc_id)""".stripMargin)

  // REAL MP4 video-frame decode (round 15) — retires the LAST
  // Media.decodeStub tier. Documents become complete unfragmented
  // ISO-BMFF files (full ftyp/free/moov/mdat trees with
  // mvhd/tkhd/mdhd/hdlr/vmhd/dinf and a real sample table) whose
  // video track is Motion-JPEG: nf = 2 + id%4 frames, each a
  // baseline JPEG planting the q110 formula at frame-salted ids.
  // Mp4.decodeMp4Frames walks the box tree generically, joins
  // stsd/stts/stsc/stsz/stco|co64 into per-sample byte ranges, and
  // entropy-decodes every frame through the proven Jpeg kernel. The
  // container SHAPE varies per id (co64 vs stco, moov-first vs
  // mdat-first, decoy non-video track, variable free padding) while
  // the planted statistics stay a pure function of doc_id — so the
  // oracle replays them arithmetically and any sample-table mistake
  // lands a frame boundary in mid-bitstream garbage.
  val q111 = Query("q111_mp4_frames", (s, dir) => {
      graft.multimodal.Mp4.decodeMp4Frames(
        graft.multimodal.Mp4.fromDocumentsMp4Frames(
          Tables.documents(s, dir)))
    },
    // arithmetic replay of the MP4 Motion-JPEG ground truth: the
    // sample-table round trip (stsc/stsz/stco assembly on the Spark
    // write side, generic box-tree walk + per-frame Huffman decode on
    // the read side) must hand back exactly the planted per-frame
    // coefficients; the container-shape variants (co64/moov-first/
    // decoy-trak/padding) cancel out of the statistics by design
    """WITH base AS (
      |  SELECT doc_id, 2 + doc_id % 4 AS nf,
      |    1 + doc_id % 3 AS wb, 1 + doc_id % 2 AS hb
      |  FROM documents),
      |cf AS (SELECT doc_id, flatten(flatten(list_transform(range(nf), f ->
      |         list_transform(range(wb*hb), b ->
      |           list_transform(range(64), k ->
      |             (((doc_id + f*101 + b*7 + k*3) % 9) - 4) * (1 + k % 4)))))) AS cl
      |       FROM base)
      |SELECT b.doc_id AS media_id, CAST(b.nf AS BIGINT) AS n_frames,
      |  CAST(b.wb*8 AS BIGINT) AS width, CAST(b.hb*8 AS BIGINT) AS height,
      |  CAST(b.nf*b.wb*b.hb*64 AS BIGINT) AS n_units,
      |  CAST(list_min(c.cl) AS BIGINT) AS unit_min,
      |  CAST(list_max(c.cl) AS BIGINT) AS unit_max,
      |  CAST(list_sum(c.cl) AS BIGINT) AS unit_sum
      |FROM base b JOIN cf c USING (doc_id)""".stripMargin)

  // REAL WARC (ISO 28500) extraction (round 15) — the container
  // format web corpora actually arrive in (Common Crawl ships
  // .warc.gz). Documents become complete WARC archives — warcinfo +
  // request/response pairs, per-record gzip members for even ids,
  // lowercase header names for ids %11==0, and for ids %3==0 a DECOY
  // metadata record whose body embeds a fake WARC/1.0 header with an
  // absurd Content-Length: any parser that scans for the next
  // version line instead of honoring Content-Length framing derails
  // there and breaks the hash. Warc.warcResponses parses both
  // framing layers (WARC record framing + the HTTP/1.1 envelope
  // inside response blocks) and emits one row per HTTP response —
  // the extraction a training pipeline runs over Common Crawl. A
  // flatMap in bounded mapPartitions: no shuffle, parallel by file
  // exactly like a production WARC reader over object storage.
  val q112 = Query("q112_warc_responses", (s, dir) => {
      graft.sources.Warc.warcResponses(
        graft.sources.Warc.fromDocumentsWarc(
          Tables.documents(s, dir)))
    },
    // arithmetic replay of the WARC ground truth: the two framing
    // layers (Content-Length record framing through gzip members and
    // decoy records, HTTP envelope split inside response blocks) must
    // hand back exactly the planted per-response bodies — the decoy
    // metadata records and the request/warcinfo records cancel out of
    // the emitted rows by design
    """WITH base AS (SELECT doc_id, 2 + doc_id % 4 AS nrec FROM documents),
      |r AS (SELECT doc_id, UNNEST(range(nrec)) AS r FROM base),
      |x AS (SELECT doc_id, r,
      |        20 + (doc_id + r) % 40 AS body_len FROM r)
      |SELECT x.doc_id AS media_id, CAST(x.r AS INT) AS rec_idx,
      |  'https://example.com/' || CAST(x.doc_id AS VARCHAR) || '/' ||
      |    CAST(x.r AS VARCHAR) AS target_uri,
      |  CAST(200 + 100*((x.doc_id + x.r) % 3) AS INT) AS http_status,
      |  CAST(x.body_len AS BIGINT) AS body_len,
      |  CAST(list_sum(list_transform(range(x.body_len), j ->
      |    97 + (x.doc_id + x.r*31 + j*7) % 26)) AS BIGINT) AS body_sum
      |FROM x""".stripMargin)

  // REAL ZIP extraction (round 15) — the other container corpora
  // ship in. Documents become complete ZIP archives (STORED and raw
  // DEFLATE members, real CRC-32s, optional EOCD comment) and
  // Zip.zipEntries extracts members the AUTHORITATIVE way: EOCD
  // backward scan → central directory → per-entry local-header seek
  // → decompress → verify size AND CRC-32 before emitting. Ids %4==0
  // carry a decoy member whose data is a byte-exact fake local file
  // header: forward signature-scanners extract the fake "inner"
  // member; the central-directory walk reports the decoy as the
  // opaque blob it is — the oracle encodes the latter.
  val q113 = Query("q113_zip_entries", (s, dir) => {
      graft.sources.Zip.zipEntries(
        graft.sources.Zip.fromDocumentsZip(
          Tables.documents(s, dir)))
    },
    // arithmetic replay of the ZIP ground truth: the central-directory
    // walk + STORED/raw-DEFLATE decompression + CRC verification must
    // hand back exactly the planted member bytes; the decoy member's
    // constant stats are embedded from the same Scala constant that
    // synthesized it (single source of truth)
    s"""WITH base AS (SELECT doc_id, 2 + doc_id % 3 AS nent FROM documents),
      |e AS (SELECT doc_id, nent, UNNEST(range(nent)) AS e FROM base),
      |x AS (SELECT doc_id, e,
      |        30 + (doc_id + e) % 50 AS n_bytes FROM e)
      |SELECT x.doc_id AS media_id, CAST(x.e AS INT) AS entry_idx,
      |  'doc_' || CAST(x.doc_id AS VARCHAR) || '/part_' ||
      |    CAST(x.e AS VARCHAR) || '.txt' AS name,
      |  CAST(CASE WHEN (x.doc_id + x.e) % 2 = 1 THEN 8 ELSE 0 END
      |    AS INT) AS method,
      |  CAST(x.n_bytes AS BIGINT) AS n_bytes,
      |  CAST(list_sum(list_transform(range(x.n_bytes), j ->
      |    97 + (x.doc_id + x.e*17 + j*5) % 26)) AS BIGINT) AS byte_sum
      |FROM x
      |UNION ALL
      |SELECT doc_id AS media_id, CAST(nent AS INT) AS entry_idx,
      |  'doc_' || CAST(doc_id AS VARCHAR) || '/decoy.bin' AS name,
      |  CAST(0 AS INT) AS method,
      |  CAST(${graft.sources.Zip.decoyLen} AS BIGINT) AS n_bytes,
      |  CAST(${graft.sources.Zip.decoySum} AS BIGINT) AS byte_sum
      |FROM base WHERE doc_id % 4 = 0""".stripMargin)

  // REAL TFRecord decode (round 15) — the length-framed shard format
  // training examples ship in. Documents become spec-framed shards
  // (uint64 LE length + masked CRC32C of the length bytes + data +
  // masked CRC32C of the data; even ids whole-file gzip) and
  // Tfrecord.tfrecordRecords walks the framing verifying BOTH CRCs
  // per record with the Castagnoli polynomial (java.util.zip.CRC32C
  // — ZIP's CRC-32 fails every record). The two CRCs are the
  // format's whole integrity story: a reader that skips them ships
  // torn examples into a training run. Oracle replays the planted
  // record bytes arithmetically.
  val q114 = Query("q114_tfrecord", (s, dir) => {
      graft.sources.Tfrecord.tfrecordRecords(
        graft.sources.Tfrecord.fromDocumentsTfrecord(
          Tables.documents(s, dir)))
    },
    // arithmetic replay of the TFRecord ground truth: the double-CRC
    // framing walk (through whole-file gzip on even ids) must hand
    // back exactly the planted record bytes
    """WITH base AS (SELECT doc_id, 3 + doc_id % 5 AS nrec FROM documents),
      |r AS (SELECT doc_id, UNNEST(range(nrec)) AS r FROM base),
      |x AS (SELECT doc_id, r, 16 + (doc_id + r) % 64 AS n_bytes FROM r)
      |SELECT x.doc_id AS media_id, CAST(x.r AS INT) AS rec_idx,
      |  CAST(x.n_bytes AS BIGINT) AS n_bytes,
      |  CAST(list_sum(list_transform(range(x.n_bytes), j ->
      |    (x.doc_id + x.r*13 + j*3) % 256)) AS BIGINT) AS byte_sum
      |FROM x""".stripMargin)

  // REAL tar (ustar+pax) extraction (round 15) — completes the
  // container family (.tar.gz shards). Tar has no index: the octal
  // size fields ARE the framing, the header checksum is the only
  // integrity bit, and long paths arrive as pax `x` records that
  // OVERRIDE the next member's name. Documents become archives with
  // interleaved directory entries, members spanning 1-2 data blocks,
  // pax path overrides (150-char paths the 100-byte header field
  // cannot hold) for ids %5==0, whole-file gzip for even ids.
  // Tar.tarEntries verifies every header checksum, parses octal
  // fields as they arrive in the wild, applies pax overrides, and
  // rejects symlinks/GNU-longname/base-256 loudly.
  val q115 = Query("q115_tar_entries", (s, dir) => {
      graft.sources.Tar.tarEntries(
        graft.sources.Tar.fromDocumentsTar(
          Tables.documents(s, dir)))
    },
    // arithmetic replay of the tar ground truth: the checksum-verified
    // octal-framing walk (through gzip, directories, and pax path
    // overrides) must hand back exactly the planted member bytes and
    // the pax-overridden long names
    """WITH base AS (SELECT doc_id, 2 + doc_id % 3 AS nent FROM documents),
      |e AS (SELECT doc_id, UNNEST(range(nent)) AS e FROM base),
      |x AS (SELECT doc_id, e, 300 + (doc_id + e) % 600 AS n_bytes FROM e)
      |SELECT x.doc_id AS media_id, CAST(x.e AS INT) AS entry_idx,
      |  CASE WHEN x.e = 0 AND x.doc_id % 5 = 0
      |    THEN 'doc_' || CAST(x.doc_id AS VARCHAR) || '/' ||
      |      repeat('x', 150) || '/part_0.txt'
      |    ELSE 'doc_' || CAST(x.doc_id AS VARCHAR) || '/part_' ||
      |      CAST(x.e AS VARCHAR) || '.txt' END AS name,
      |  CAST(x.n_bytes AS BIGINT) AS n_bytes,
      |  CAST(list_sum(list_transform(range(x.n_bytes), j ->
      |    (x.doc_id + x.e*19 + j*11) % 256)) AS BIGINT) AS byte_sum
      |FROM x""".stripMargin)

  // TFRecord EXPORT round trip (round 15) — the pipeline's LAST
  // mile: a curated corpus leaves the engine as the shards a trainer
  // consumes. Documents are serialized (8-byte LE doc_id prefix +
  // UTF-8 text) and written as one .tfrecord file per partition
  // through the Hadoop FS API executor-side (spec framing, both
  // masked CRC32Cs), then read back through the binaryFile source
  // and the verifying reader. The oracle replays per-record sizes
  // from octet_length(text); any framing, CRC, or prefix mistake on
  // EITHER side of the real file round trip breaks the hash.
  val q116 = Query("q116_tfrecord_roundtrip", (s, dir) => {
      import s.implicits._
      val scratch = scratchPath("q116")
      val p = new org.apache.hadoop.fs.Path(scratch)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val payloads = Tables.documents(s, dir)
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .mapPartitions(_.map { case (id, text) =>
          (id, text.getBytes("UTF-8"))
        })
      graft.sources.Tfrecord.writeShards(payloads, scratch) // eager
      graft.sources.Tfrecord.readShards(s, scratch)
    },
    // replay of the TFRecord export round trip: every document must
    // come back from the written shards exactly once, keyed by its
    // id prefix, with the UTF-8 byte length of its text
    """SELECT doc_id AS media_id,
      |  CAST(strlen(text) AS BIGINT) AS n_bytes
      |FROM documents""".stripMargin)

  // REAL tf.Example protobuf decode (round 15) — what TFRecord
  // payloads actually ARE: the wire format (varints, packed and
  // unpacked repeated scalars, LE float32, length-delimited message
  // trees) hand-rolled for the Example/Features/Feature tree, with
  // protobuf's robustness rule honored — UNKNOWN fields (planted at
  // every message level for even ids) are skipped by wire type,
  // never an error — while structural violations reject loudly. One
  // row per (example, feature): kind, count, exact value sum (the
  // planted floats are small integers, exact in float32).
  val q117 = Query("q117_tfexample", (s, dir) => {
      graft.sources.TfExample.tfExampleFeatures(
        graft.sources.TfExample.fromDocumentsTfExample(
          Tables.documents(s, dir)))
    },
    // arithmetic replay of the tf.Example ground truth: the wire-format
    // walk (varints through packed/unpacked lists, unknown-field skips)
    // must hand back exactly the planted feature values; float sums
    // are exact because the planted floats are small integers
    """WITH base AS (SELECT doc_id,
      |    8 + doc_id % 24 AS ntok, 2 + doc_id % 6 AS nsc,
      |    10 + doc_id % 30 AS tl1, 5 + doc_id % 7 AS tl2
      |  FROM documents)
      |SELECT doc_id AS media_id, 'tokens' AS key, 'int64' AS kind,
      |  CAST(ntok AS BIGINT) AS n_values,
      |  CAST(list_sum(list_transform(range(ntok), j ->
      |    (doc_id + j*7) % 1000)) AS DOUBLE) AS value_sum
      |FROM base
      |UNION ALL
      |SELECT doc_id, 'score', 'float', CAST(nsc AS BIGINT),
      |  CAST(list_sum(list_transform(range(nsc), j ->
      |    (doc_id + j*3) % 512)) AS DOUBLE)
      |FROM base
      |UNION ALL
      |SELECT doc_id, 'text', 'bytes', CAST(tl1 + tl2 AS BIGINT),
      |  CAST(list_sum(list_transform(range(tl1), j ->
      |      97 + (doc_id + j*5) % 26))
      |    + list_sum(list_transform(range(tl2), j ->
      |      97 + (doc_id + 1 + j*5) % 26)) AS DOUBLE)
      |FROM base""".stripMargin)

  // REAL IMA-ADPCM audio decode (round 16) — the compressed-audio
  // tier leaves Media.decodeStub: every doc wraps in a real WAV
  // (fmt tag 0x0011, mono 4-bit, 52-byte blocks) whose nibble stream
  // repeats [4,8,8] — index deltas cancel per period, so the decoded
  // signal is exactly affine-per-period and the oracle replays the
  // per-block sample sums in closed form (97·p0b + 1520·D +
  // 32·(2d1+d2)). The DECODER is the full general state machine
  // (both clamps, index table, low-nibble packing); AdpcmSpec drives
  // the clamp/saturation branches the in-corpus signal provably
  // cannot reach, plus the rejection lanes.
  val q120 = Query("q120_adpcm_audio", (s, dir) => {
      graft.multimodal.Adpcm.adpcmSamples(
        graft.multimodal.Adpcm.fromDocumentsAdpcm(
          Tables.documents(s, dir)))
        .select(col("media_id"), col("sample_rate"), col("n_samples"),
          col("sample_sum"))
    },
    // closed-form replay of the planted ADPCM signal: per block,
    // 97 samples summing to 97·p0b + 1520·D + 32·(2d1+d2) where the
    // step deltas come from the IMA table at the planted index — the
    // engine's general decoder must reproduce it bit-exactly
    """WITH base AS (
      |  SELECT doc_id,
      |    CAST(doc_id % 8 AS INT) AS i0,
      |    (doc_id % 1024) - 512 AS p0,
      |    1 + doc_id % 3 AS nb,
      |    8000 + (doc_id % 4) * 8000 AS sr
      |  FROM documents),
      |d AS (
      |  SELECT doc_id, sr, nb, p0,
      |    T[i0+1] + T[i0+1]//8 AS d1,
      |    -(T[i0+3]//8) AS d2,
      |    -(T[i0+2]//8) AS d3
      |  FROM (SELECT *, list_value(7,8,9,10,11,12,13,14,16,17) AS T
      |        FROM base))
      |SELECT doc_id AS media_id,
      |  CAST(sr AS INT) AS sample_rate,
      |  CAST(97*nb AS BIGINT) AS n_samples,
      |  CAST(97*nb*p0 + 97*17*(nb*(nb-1)//2)
      |    + nb*(1520*(d1+d2+d3) + 32*(2*d1+d2)) AS BIGINT) AS sample_sum
      |FROM d""".stripMargin)

  // REAL FLAC fixed-predictor decode (round 16) — the lossless-audio
  // tier leaves Media.decodeStub: every doc wraps in a real FLAC
  // stream (STREAMINFO + CRC-8/CRC-16-verified frames, order-2 fixed
  // subframes, rice-coded residuals) carrying the affine signal
  // s(t) = a + d·t, whose residuals are exactly zero under the
  // order-2 predictor — so the oracle replays N·a + d·N(N-1)/2 in
  // closed form while the corpus still varies rice parameters,
  // partition orders, rates, and frame counts. The DECODER covers
  // both predictor families (FIXED orders 0-4 and LPC orders 1-32
  // with quantized coefficients + shift, r17), CONSTANT/VERBATIM,
  // both rice methods + escapes, wasted bits, multi-byte UTF-8
  // numbers; corpus frames at odd (id+frame) parity spell the same
  // signal through quantized LPC ((8,-4)>>2 / (4,-2)>>1), so streams
  // MIX fixed and LPC subframes under the unchanged closed-form
  // oracle. FlacSpec pins fixed orders with polynomial signals and
  // LPC with arbitrary-coefficient round-trips.
  val q124 = Query("q124_flac_audio", (s, dir) => {
      graft.multimodal.Flac.flacSamples(
        graft.multimodal.Flac.fromDocumentsFlac(
          Tables.documents(s, dir)))
        .select(col("media_id"), col("sample_rate"), col("n_samples"),
          col("sample_sum"))
    },
    // closed-form replay of the planted affine FLAC signal: N = 192·nb
    // samples of a + d·t sum to N·a + d·N(N-1)/2 — the engine's general
    // bitstream decoder must reproduce it exactly, CRCs verified
    """WITH base AS (
      |  SELECT doc_id,
      |    (doc_id % 1024) - 512 AS a,
      |    (doc_id % 7) - 3 AS d,
      |    192 * (1 + doc_id % 3) AS n,
      |    CASE CAST(doc_id % 4 AS INT)
      |      WHEN 0 THEN 8000 WHEN 1 THEN 16000
      |      WHEN 2 THEN 22050 ELSE 24000 END AS sr
      |  FROM documents)
      |SELECT doc_id AS media_id,
      |  CAST(sr AS INT) AS sample_rate,
      |  CAST(n AS BIGINT) AS n_samples,
      |  CAST(n*a + d*n*(n-1)//2 AS BIGINT) AS sample_sum
      |FROM base""".stripMargin)

  val all: Seq[Query] = Seq(q27, q56, q85, q92, q108, q109, q110, q111, q112,
    q113, q114, q115, q116, q117, q120, q124)
}
