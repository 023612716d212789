package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** REAL JPEG ENTROPY decode (round 15) — the layer [[Media.decodeStub]]
  * named as its hard remaining tier. JPEG's statefulness lives in the
  * entropy coding: a Huffman bitstream (with byte unstuffing and
  * differential DC prediction) that no fixed-offset byte walk can read.
  * This module hand-rolls both directions of exactly that layer:
  *
  *   - [[jpegCoefBytes]] synthesizes COMPLETE spec-valid baseline JPEGs
  *     (SOI/DQT/SOF0/DHT/SOS/EOI, Annex-K Huffman tables, byte
  *     stuffing, one's-complement magnitude coding, differential DC)
  *     whose QUANTIZED COEFFICIENTS follow a planted formula;
  *   - [[jpegCoefStats]] walks the markers, rebuilds the Huffman tables
  *     from the DHT segments actually present (mincode/maxcode/valptr
  *     canonical decode), entropy-decodes every 8x8 block
  *     (DC category + extend, AC run/size, ZRL, EOB), dequantizes
  *     against the DQT table, and returns statistics over the
  *     dequantized coefficients.
  *
  * The DuckDB oracle replays the statistics arithmetically — possible
  * precisely BECAUSE the contract is coefficients, not pixels: entropy
  * decode is exact, whereas a pixel round trip would drag the lossy
  * DCT into the oracle. The spec closes the pixel loop independently:
  * our bitstreams decode pixel-correct through the JDK's own
  * javax.imageio JPEG codec (reference IDCT in the spec, tolerance for
  * libjpeg's integer IDCT), and ImageIO-WRITTEN JPEGs entropy-decode
  * through this kernel with matching pixels. [[Mp4]] builds the
  * video tier on this kernel: Motion-JPEG frames located via the
  * ISO-BMFF sample table, each entropy-decoded here.
  *
  * Envelope (None outside it, never garbage): baseline sequential
  * SOF0/SOF1, 8-bit precision, single component, no restart intervals,
  * coefficient buffer capped at 64M units — progressive SOF2,
  * multi-component color, 16-bit DQT and truncated/corrupt bitstreams
  * are rejected.
  */
object Jpeg {

  // ---- Annex-K luminance Huffman tables (public JPEG standard) ----
  private[multimodal] val DcBits: Array[Int] =
    Array(0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
  private[multimodal] val DcVals: Array[Int] = (0 to 11).toArray
  private[multimodal] val AcBits: Array[Int] =
    Array(0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7d)
  private[multimodal] val AcVals: Array[Int] = Array(
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xa1, 0x08,
    0x23, 0x42, 0xb1, 0xc1, 0x15, 0x52, 0xd1, 0xf0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0a, 0x16,
    0x17, 0x18, 0x19, 0x1a, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2a, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3a, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4a, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5a, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6a, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7a, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8a, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9a, 0xa2, 0xa3, 0xa4, 0xa5, 0xa6, 0xa7,
    0xa8, 0xa9, 0xaa, 0xb2, 0xb3, 0xb4, 0xb5, 0xb6,
    0xb7, 0xb8, 0xb9, 0xba, 0xc2, 0xc3, 0xc4, 0xc5,
    0xc6, 0xc7, 0xc8, 0xc9, 0xca, 0xd2, 0xd3, 0xd4,
    0xd5, 0xd6, 0xd7, 0xd8, 0xd9, 0xda, 0xe1, 0xe2,
    0xe3, 0xe4, 0xe5, 0xe6, 0xe7, 0xe8, 0xe9, 0xea,
    0xf1, 0xf2, 0xf3, 0xf4, 0xf5, 0xf6, 0xf7, 0xf8,
    0xf9, 0xfa)

  /** Planted quantized coefficient for (doc) `id`, block `b`, zigzag
    * index `k`: small signed values whose Huffman categories stay in
    * the tables' range, with zeros (~1/9) so runs and EOBs occur.
    */
  private[graft] def plantedCoef(id: Long, b: Int, k: Int): Int =
    ((id + b * 7L + k * 3L) % 9L).toInt - 4

  /** Planted quantization table (zigzag order): q[k] = 1 + k % 4. */
  private[graft] def plantedQuant(k: Int): Int = 1 + k % 4

  // ---- canonical Huffman code assignment (encoder side) ----
  private def huffCodes(bits: Array[Int],
      vals: Array[Int]): Map[Int, (Int, Int)] = {
    var code = 0
    var k = 0
    val out = Map.newBuilder[Int, (Int, Int)]
    var len = 1
    while (len <= 16) {
      var i = 0
      while (i < bits(len - 1)) {
        out += (vals(k) -> ((code, len)))
        code += 1; k += 1; i += 1
      }
      code <<= 1
      len += 1
    }
    out.result()
  }

  /** MSB-first bit writer with JPEG byte stuffing (0xFF -> 0xFF 0x00);
    * the final partial byte pads with 1-bits per the spec.
    */
  private final class BitWriter {
    val out = new java.io.ByteArrayOutputStream()
    private var acc = 0
    private var n = 0
    def put(value: Int, bits: Int): Unit = {
      var b = bits - 1
      while (b >= 0) {
        acc = (acc << 1) | ((value >> b) & 1)
        n += 1
        if (n == 8) {
          out.write(acc)
          if (acc == 0xFF) out.write(0x00)
          acc = 0; n = 0
        }
        b -= 1
      }
    }
    def flush(): Unit = if (n > 0) {
      val pad = (acc << (8 - n)) | ((1 << (8 - n)) - 1)
      out.write(pad)
      if (pad == 0xFF) out.write(0x00)
      acc = 0; n = 0
    }
  }

  /** Magnitude category: number of bits to code `v` (0 for 0). */
  private def category(v: Int): Int = {
    var a = math.abs(v)
    var s = 0
    while (a != 0) { a >>= 1; s += 1 }
    s
  }

  /** Build a COMPLETE spec-valid baseline JPEG whose quantized
    * coefficients follow [[plantedCoef]]: grayscale, `wb` x `hb` full
    * 8x8 blocks, planted DQT, Annex-K DHT, differential DC, run/size
    * AC with ZRL and EOB, byte-stuffed entropy data.
    *
    * NOTE the planted formula's zero-run structure: zeros land where
    * (id + b*7 + k*3) % 9 == 4, and the +3 stride makes CONSECUTIVE
    * zeros impossible — so this corpus exercises runs of 0 and 1 only.
    * The long-run and ZRL encoder/decoder paths are exercised by
    * [[jpegBytesFromBlocks]] fixtures in JpegSpec instead.
    */
  private[graft] def jpegCoefBytes(id: Long, wb: Int, hb: Int): Array[Byte] =
    jpegBytesFromBlocks(
      Array.tabulate(wb * hb, 64)((b, k) => plantedCoef(id, b, k)), wb, hb)

  /** The assembly behind [[jpegCoefBytes]], taking EXPLICIT quantized
    * coefficient blocks (zigzag order) — the seam that lets specs plant
    * long zero runs (ZRL, multi-ZRL, run+size combinations) the planted
    * corpus formula cannot produce.
    */
  private[graft] def jpegBytesFromBlocks(blocks: Array[Array[Int]],
      wb: Int, hb: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def u8(v: Int): Unit = out.write(v & 0xff)
    def u16(v: Int): Unit = { u8(v >> 8); u8(v) }
    def marker(m: Int): Unit = { u8(0xFF); u8(m) }
    marker(0xD8) // SOI
    marker(0xDB); u16(2 + 1 + 64); u8(0x00) // DQT: Pq=0 (8-bit), Tq=0
    (0 until 64).foreach(k => u8(plantedQuant(k)))
    marker(0xC0) // SOF0: baseline
    u16(2 + 1 + 2 + 2 + 1 + 3); u8(8) // precision
    u16(8 * hb); u16(8 * wb); u8(1) // one component
    u8(1); u8(0x11); u8(0) // id 1, 1x1 sampling, Tq 0
    def dht(cls: Int, bits: Array[Int], vals: Array[Int]): Unit = {
      marker(0xC4); u16(2 + 1 + 16 + vals.length); u8(cls << 4)
      bits.foreach(u8); vals.foreach(u8)
    }
    dht(0, DcBits, DcVals)
    dht(1, AcBits, AcVals)
    marker(0xDA) // SOS
    u16(2 + 1 + 2 + 3); u8(1); u8(1); u8(0x00); u8(0); u8(63); u8(0)
    val dc = huffCodes(DcBits, DcVals)
    val ac = huffCodes(AcBits, AcVals)
    val bw = new BitWriter
    def putMagnitude(v: Int, s: Int): Unit =
      if (s > 0) bw.put(if (v >= 0) v else v + (1 << s) - 1, s)
    var pred = 0
    var b = 0
    val n = wb * hb
    while (b < n) {
      val dcv = blocks(b)(0)
      val diff = dcv - pred
      pred = dcv
      val s = category(diff)
      val (c, l) = dc(s)
      bw.put(c, l)
      putMagnitude(diff, s)
      var k = 1
      var run = 0
      while (k < 64) {
        val v = blocks(b)(k)
        if (v == 0) run += 1
        else {
          while (run > 15) { val (zc, zl) = ac(0xF0); bw.put(zc, zl); run -= 16 }
          val s2 = category(v)
          val (c2, l2) = ac((run << 4) | s2)
          bw.put(c2, l2)
          putMagnitude(v, s2)
          run = 0
        }
        k += 1
      }
      if (run > 0) { val (ec, el) = ac(0x00); bw.put(ec, el) } // EOB
      b += 1
    }
    bw.flush()
    out.write(bw.out.toByteArray)
    marker(0xD9) // EOI
    out.toByteArray
  }

  /** Coefficient-planted JPEG payloads over the documents table: block
    * grids wb = 2 + id%5, hb = 1 + id%3 (up to 24 blocks), so DC
    * prediction chains, zero runs, ZRL and EOB all occur across the
    * corpus. [[Media.headerDims]]' marker walk still reads the dims.
    */
  def fromDocumentsJpegCoefs(docs: DataFrame): Dataset[Media.MediaRecord] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("source")).as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, source) =>
          val wb = (2 + id % 5).toInt
          val hb = (1 + id % 3).toInt
          val bytes = jpegCoefBytes(id, wb, hb)
          Media.MediaRecord(id, "image", bytes, source, bytes.length.toLong)
        }
      }
  }

  /** Decoded Huffman table in the spec's canonical mincode/maxcode/
    * valptr form, built from a DHT segment's BITS + HUFFVAL.
    */
  private[multimodal] final class HuffTable(bits: Array[Int],
      val vals: Array[Int]) {
    val minCode = new Array[Int](17)
    val maxCode = new Array[Int](17)
    val valPtr = new Array[Int](17)
    locally {
      var code = 0
      var k = 0
      var l = 1
      while (l <= 16) {
        if (bits(l - 1) == 0) { maxCode(l) = -1 }
        else {
          valPtr(l) = k
          minCode(l) = code
          code += bits(l - 1); k += bits(l - 1)
          maxCode(l) = code - 1
        }
        code <<= 1
        l += 1
      }
    }
  }

  /** Abort sentinel for anything outside the envelope mid-decode. */
  private object Reject extends RuntimeException { override def fillInStackTrace(): Throwable = this }

  /** MSB-first bit reader over the entropy segment with byte
    * unstuffing; any marker (including a premature EOI) mid-read
    * rejects — a truncated stream must never yield partial stats.
    */
  private final class BitReader(data: Array[Byte], start: Int) {
    private var pos = start
    private var acc = 0
    private var n = 0
    def bit(): Int = {
      if (n == 0) {
        if (pos >= data.length) throw Reject
        val b = data(pos) & 0xff; pos += 1
        if (b == 0xFF) {
          if (pos >= data.length) throw Reject
          if ((data(pos) & 0xff) == 0x00) pos += 1
          else throw Reject // real marker mid-entropy: truncated/corrupt
        }
        acc = b; n = 8
      }
      n -= 1
      (acc >> n) & 1
    }
    def bits(k: Int): Int = {
      var v = 0
      var i = 0
      while (i < k) { v = (v << 1) | bit(); i += 1 }
      v
    }
    def decode(t: HuffTable): Int = {
      var code = bit()
      var l = 1
      while (!(t.maxCode(l) >= 0 && code <= t.maxCode(l))) {
        code = (code << 1) | bit()
        l += 1
        if (l > 16) throw Reject
      }
      t.vals(t.valPtr(l) + code - t.minCode(l))
    }
  }

  /** EXTEND (spec F.2.2.1): map `s` received magnitude bits to the
    * signed value.
    */
  private def extend(v: Int, s: Int): Int =
    if (s == 0) 0 else if (v < (1 << (s - 1))) v - (1 << s) + 1 else v

  /** Entropy-decode one JPEG's DEQUANTIZED-coefficient statistics:
    * (width, height, n_units=64*blocks, min, max, sum). None outside
    * the envelope (see object doc).
    */
  private[graft] def jpegCoefStats(
      bytes: Array[Byte]): Option[(Long, Long, Long, Long, Long, Long)] = {
    if (bytes.length < 4 || (bytes(0) & 0xff) != 0xFF ||
      (bytes(1) & 0xff) != 0xD8) return None
    val quant = Array.ofDim[Int](4, 64)
    val haveQuant = new Array[Boolean](4)
    val dcTables = new Array[HuffTable](4)
    val acTables = new Array[HuffTable](4)
    var w = -1; var h = -1
    var compQ = -1
    var sosDc = -1; var sosAc = -1
    var entropyStart = -1
    var i = 2
    try {
      while (entropyStart < 0) {
        // expect a marker, tolerating fill bytes
        if (i + 1 >= bytes.length) return None
        if ((bytes(i) & 0xff) != 0xFF) return None
        while (i < bytes.length && (bytes(i) & 0xff) == 0xFF) i += 1
        if (i >= bytes.length) return None
        val m = bytes(i) & 0xff; i += 1
        def seglen: Int = {
          if (i + 1 >= bytes.length) throw Reject
          ((bytes(i) & 0xff) << 8) | (bytes(i + 1) & 0xff)
        }
        m match {
          case 0xC0 | 0xC1 => // baseline / extended sequential Huffman
            val len = seglen
            if (i + len > bytes.length || len < 11) return None
            if ((bytes(i + 2) & 0xff) != 8) return None // precision
            h = ((bytes(i + 3) & 0xff) << 8) | (bytes(i + 4) & 0xff)
            w = ((bytes(i + 5) & 0xff) << 8) | (bytes(i + 6) & 0xff)
            val ncomp = bytes(i + 7) & 0xff
            if (ncomp != 1) return None // grayscale envelope
            if ((bytes(i + 9) & 0xff) != 0x11) return None // 1x1 sampling
            compQ = bytes(i + 10) & 0xff
            i += len
          case 0xC2 | 0xC3 | 0xC5 | 0xC6 | 0xC7 |
               0xC9 | 0xCA | 0xCB | 0xCD | 0xCE | 0xCF =>
            return None // progressive/lossless/arithmetic: out of envelope
          case 0xC4 => // DHT: possibly several tables per segment
            val len = seglen
            val end = i + len
            if (end > bytes.length) return None
            var p = i + 2
            while (p < end) {
              val tc = (bytes(p) & 0xff) >> 4
              val th = bytes(p) & 0x0f
              if (th > 3 || tc > 1) return None
              val bl = new Array[Int](16)
              var nv = 0
              var j = 0
              while (j < 16) {
                bl(j) = bytes(p + 1 + j) & 0xff; nv += bl(j); j += 1
              }
              if (p + 17 + nv > end) return None
              val vals = new Array[Int](nv)
              j = 0
              while (j < nv) { vals(j) = bytes(p + 17 + j) & 0xff; j += 1 }
              val t = new HuffTable(bl, vals)
              if (tc == 0) dcTables(th) = t else acTables(th) = t
              p += 17 + nv
            }
            i += len
          case 0xDB => // DQT: possibly several tables per segment
            val len = seglen
            val end = i + len
            if (end > bytes.length) return None
            var p = i + 2
            while (p < end) {
              val pq = (bytes(p) & 0xff) >> 4
              val tq = bytes(p) & 0x0f
              if (pq != 0 || tq > 3) return None // 16-bit DQT: rejected
              if (p + 65 > end) return None
              var j = 0
              while (j < 64) { quant(tq)(j) = bytes(p + 1 + j) & 0xff; j += 1 }
              haveQuant(tq) = true
              p += 65
            }
            i += len
          case 0xDD => return None // restart intervals: out of envelope
          case 0xDA => // SOS
            val len = seglen
            if (i + len > bytes.length || len < 8) return None
            if ((bytes(i + 2) & 0xff) != 1) return None
            sosDc = (bytes(i + 4) & 0xff) >> 4
            sosAc = bytes(i + 4) & 0x0f
            entropyStart = i + len
          case 0xD9 => return None // EOI before any scan
          case _ =>
            val len = seglen
            if (len < 2 || i + len > bytes.length) return None
            i += len // APPn/COM/anything else: hop by length
        }
      }
      if (w <= 0 || h <= 0 || compQ < 0 || compQ > 3) return None
      if (!haveQuant(compQ)) return None
      val dcT = dcTables(sosDc)
      val acT = acTables(sosAc)
      if (dcT == null || acT == null) return None
      val q = quant(compQ)
      val wb = (w + 7) / 8
      val hb = (h + 7) / 8
      val nBlocks = wb.toLong * hb.toLong
      if (nBlocks * 64L > (64L << 20)) return None // hostile-dims cap
      val br = new BitReader(bytes, entropyStart)
      var mn = Long.MaxValue
      var mx = Long.MinValue
      var sum = 0L
      var pred = 0
      var b = 0L
      while (b < nBlocks) {
        val s = br.decode(dcT)
        if (s > 15) throw Reject
        val diff = extend(br.bits(s), s)
        pred += diff
        val dcDeq = pred.toLong * q(0)
        if (dcDeq < mn) mn = dcDeq
        if (dcDeq > mx) mx = dcDeq
        sum += dcDeq
        var k = 1
        while (k < 64) {
          val rs = br.decode(acT)
          val run = rs >> 4
          val size = rs & 0x0f
          if (size == 0) {
            if (run == 15) { // ZRL: sixteen zeros
              if (k + 16 > 64) throw Reject
              if (0L < mn) mn = 0L
              if (0L > mx) mx = 0L
              k += 16
            } else { // EOB: rest of block is zeros
              if (k < 64) { if (0L < mn) mn = 0L; if (0L > mx) mx = 0L }
              k = 64
            }
          } else {
            if (k + run >= 64) throw Reject
            if (run > 0) { if (0L < mn) mn = 0L; if (0L > mx) mx = 0L }
            k += run
            val v = extend(br.bits(size), size)
            val deq = v.toLong * q(k)
            if (deq < mn) mn = deq
            if (deq > mx) mx = deq
            sum += deq
            k += 1
          }
        }
        b += 1
      }
      Some((w.toLong, h.toLong, nBlocks * 64L, mn, mx, sum))
    } catch { case Reject => None }
  }

  /** REAL JPEG entropy decode as a DataFrame op — the Huffman sibling
    * of [[Media.decodePngPixels]]/[[Media.decodeGifPixels]], bounded
    * mapPartitions (the bitstream's DC prediction and Huffman state are
    * stateful across the whole scan), columns null outside the
    * envelope.
    */
  def decodeJpegCoefficients(media: Dataset[Media.MediaRecord]): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { batch =>
      batch.map { m =>
        val st = jpegCoefStats(m.content)
        (m.media_id, st.map(_._1), st.map(_._2), st.map(_._3),
          st.map(_._4), st.map(_._5), st.map(_._6))
      }
    }.toDF("media_id", "width", "height", "n_units",
      "unit_min", "unit_max", "unit_sum")
  }
}
