package graft.operators

import graft.operators.Multimodal.PgmImage

/** Baseline JPEG codec (sequential DCT) — the fifth real format in
  * the multimodal family and the first LOSSY one, built from the
  * public ITU-T T.81 spec with zero third-party code: marker-walk
  * parse, canonical Huffman decode built from the file's own DHT
  * segments (spec §C / §F.2.2), run-length + magnitude-category AC/DC
  * entropy decode with byte-unstuffing and restart-marker handling,
  * dequantize + dezigzag, separable double-precision IDCT
  * (StrictMath cosine table, so results are bit-identical across
  * JVMs), and level shift. Supported: baseline sequential (SOF0) AND
  * progressive (SOF2, T.81 Annex G: spectral selection + successive
  * approximation, DC/AC first + refinement scans, EOB runs, between-
  * scan DHT/DRI), 8-bit, grayscale (one component, non-interleaved)
  * AND YCbCr color (three components, interleaved MCUs, any 1-4
  * sampling factor grid incl. 4:4:4 / 4:2:2 / 4:2:0), with or without
  * restart intervals. Color decodes to the LUMA plane: JPEG's Y
  * channel already IS the ITU-R 601 luma every other codec in this
  * family converges to, so the chroma blocks are entropy-decoded only
  * to advance the bit stream (baseline; progressive goes further and
  * skips chroma-only scans at BYTE level). Arithmetic coding, 12-bit,
  * 2/4-component frames, and RGB-tagged 3-component frames (Adobe
  * APP14 transform 0, or 'R','G','B' component ids — their first
  * channel is red, not luma) reject cleanly to the stub path — the
  * README format table stays the single source of truth.
  *
  * The encoder emits baseline grayscale with the spec's Annex K
  * example luminance quantization + Huffman tables (the tables every
  * camera and library ship as "quality 50"), writing its tables into
  * DQT/DHT — so decode(encode(img)) is self-describing and the decoder
  * never assumes them. JPEG is lossy by design: round trips are
  * near-exact (tests bound the per-pixel error), not byte-exact like
  * PGM/BMP/PNG/WAV.
  *
  * Hostile-input posture (same discipline as the PNG decoder): all
  * segment lengths are bounds-checked in long arithmetic, Huffman
  * tables are validated (code counts vs values), the entropy reader
  * can never read past the payload, and total block count is bounded
  * by actual entropy bytes — a few-hundred-byte payload declaring a
  * 65000x65000 frame rejects before allocating 4 GB.
  */
object Jpeg {

  // Zigzag scan order (T.81 Figure A.6): index in scan order -> index
  // in natural raster order.
  private[operators] val Zigzag: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63)

  // Annex K.1 example luminance quantization table (natural order via
  // zigzag mapping below; stored here in raster order).
  private[operators] val StdQuant: Array[Int] = Array(
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99)

  // Annex K.3.1 luminance DC Huffman table: BITS (counts per code
  // length 1..16) + HUFFVAL (symbols in code order).
  private[operators] val StdDcBits: Array[Int] =
    Array(0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
  private[operators] val StdDcVals: Array[Int] = (0 to 11).toArray

  // Annex K.3.2 luminance AC Huffman table.
  private val StdAcBits: Array[Int] =
    Array(0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7d)
  private val StdAcVals: Array[Int] = Array(
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

  // IDCT/FDCT basis: cos((2x+1) u pi / 16) * C(u) scaling folded in.
  // StrictMath, not Math: the table must be bit-identical on every JVM
  // the partitions run on, or the same payload could decode to
  // different pixels on different executors.
  private val CosTable: Array[Double] = {
    val t = new Array[Double](64)
    var u = 0
    while (u < 8) {
      val cu = if (u == 0) 1.0 / StrictMath.sqrt(2.0) else 1.0
      var x = 0
      while (x < 8) {
        t(u * 8 + x) = cu * StrictMath.cos((2 * x + 1) * u * StrictMath.PI / 16.0)
        x += 1
      }
      u += 1
    }
    t
  }

  /** Canonical Huffman table in spec §F.2.2.3 decode form. */
  private final class HuffTable(bits: Array[Int], vals: Array[Int]) {
    val minCode = new Array[Int](17)
    val maxCode = new Array[Int](17) // -1 = no codes at this length
    val valPtr = new Array[Int](17)
    val values: Array[Int] = vals
    val ok: Boolean = {
      var code = 0
      var k = 0
      var valid = vals.length == bits.sum && vals.length > 0 && vals.length <= 256
      var l = 1
      while (l <= 16 && valid) {
        valPtr(l) = k
        minCode(l) = code
        if (bits(l - 1) == 0) maxCode(l) = -1
        else { k += bits(l - 1); code += bits(l - 1); maxCode(l) = code - 1 }
        if (code > (1 << l)) valid = false // over-subscribed tree
        code <<= 1
        l += 1
      }
      valid
    }
  }

  /** MSB-first bit reader over the entropy-coded segment with 0xFF00
    * unstuffing. Restart markers are consumed by [[alignToRestart]];
    * any other marker (or running off the payload) makes reads fail.
    */
  private final class BitReader(p: Array[Byte], var pos: Int, val end: Int) {
    private var bitBuf = 0
    private var bitCnt = 0
    var bad = false
    def readBit(): Int = {
      if (bitCnt == 0) {
        if (pos >= end) { bad = true; return 0 }
        val b = p(pos) & 0xff
        pos += 1
        if (b == 0xff) {
          if (pos >= end) { bad = true; return 0 }
          val b2 = p(pos) & 0xff
          if (b2 == 0x00) pos += 1 // stuffed 0xFF data byte
          else { bad = true; return 0 } // a real marker mid-entropy
        }
        bitBuf = b; bitCnt = 8
      }
      bitCnt -= 1
      (bitBuf >> bitCnt) & 1
    }
    def readBits(n: Int): Int = {
      var v = 0
      var i = 0
      while (i < n) { v = (v << 1) | readBit(); i += 1 }
      v
    }
    def decodeHuff(t: HuffTable): Int = {
      var code = readBit()
      var l = 1
      while (l <= 16) {
        if (t.maxCode(l) >= 0 && code <= t.maxCode(l))
          return t.values(t.valPtr(l) + code - t.minCode(l))
        code = (code << 1) | readBit()
        l += 1
        if (bad) return -1
      }
      bad = true; -1 // 17+ bits: not a valid code
    }
    /** Byte-align and consume the expected RSTn marker (T.81 §F.2.1.3.1).
      * B.1.1.2 allows any number of 0xFF fill bytes before a marker, so
      * skip them first (mirroring the header walk and skipEntropy).
      */
    def alignToRestart(n: Int): Boolean = {
      bitCnt = 0
      while (pos + 2 < end && (p(pos) & 0xff) == 0xff && (p(pos + 1) & 0xff) == 0xff)
        pos += 1
      if (pos + 2 > end || (p(pos) & 0xff) != 0xff ||
          (p(pos + 1) & 0xff) != (0xd0 + n)) return false
      pos += 2
      true
    }
  }

  /** Sign extension of a magnitude-category value (T.81 §F.2.2.1
    * EXTEND): an s-bit value with a 0 top bit encodes a negative.
    */
  private def extend(v: Int, s: Int): Int =
    if (s == 0) 0 else if (v < (1 << (s - 1))) v - (1 << s) + 1 else v

  /** Parse one DHT segment body (one or more tables) into the table
    * slots; false on malformed input. Shared by the header walk and the
    * progressive between-scan table updates.
    */
  private def parseDht(payload: Array[Byte], body: Int, bodyLen: Int,
      huffDc: Array[HuffTable], huffAc: Array[HuffTable]): Boolean = {
    var o = body
    while (o < body + bodyLen) {
      if (o + 17 > body + bodyLen) return false
      val tc = (payload(o) & 0xff) >> 4
      val th = payload(o) & 0x0f
      if (tc > 1 || th > 3) return false
      val bits = Array.tabulate(16)(k => payload(o + 1 + k) & 0xff)
      val nv = bits.sum
      if (nv == 0 || nv > 256 || o + 17 + nv > body + bodyLen) return false
      val vals = Array.tabulate(nv)(k => payload(o + 17 + k) & 0xff)
      val t = new HuffTable(bits, vals)
      if (!t.ok) return false
      if (tc == 0) huffDc(th) = t else huffAc(th) = t
      o += 17 + nv
    }
    o == body + bodyLen
  }

  /** Separable IDCT (rows then cols) + level shift of one 8x8 block of
    * DEQUANTIZED natural-order coefficients into the luma plane at
    * block origin (ox, oy), clamped and cropped to the plane — the
    * output stage of both the baseline and the progressive decoder.
    */
  private def idctToLuma(coef: Array[Double], luma: Array[Byte], lumaW: Int,
      lumaH: Int, ox: Int, oy: Int, tmp: Array[Double]): Unit = {
    var y0 = 0
    while (y0 < 8) { // 1-D IDCT over each row of coefficients
      var x0 = 0
      while (x0 < 8) {
        var acc = 0.0
        var u = 0
        while (u < 8) { acc += CosTable(u * 8 + x0) * coef(y0 * 8 + u); u += 1 }
        tmp(y0 * 8 + x0) = acc / 2.0
        x0 += 1
      }
      y0 += 1
    }
    var x1 = 0
    while (x1 < 8) { // 1-D IDCT down each column, write clamped
      var y1 = 0
      while (y1 < 8) {
        var acc = 0.0
        var v = 0
        while (v < 8) { acc += CosTable(v * 8 + y1) * tmp(v * 8 + x1); v += 1 }
        val s2 = (acc / 2.0 + 128.0).round.toInt
        val gx = ox + x1
        val gy = oy + y1
        if (gx < lumaW && gy < lumaH)
          luma(gy * lumaW + gx) = math.max(0, math.min(255, s2)).toByte
        y1 += 1
      }
      x1 += 1
    }
  }

  /** Big-endian unsigned 16-bit field at `at` (marker lengths, SOF dims, DRI). */
  private def u16(p: Array[Byte], at: Int): Int = ((p(at) & 0xff) << 8) | (p(at + 1) & 0xff)

  /** One frame component: SOF id, sampling factors, quant selector,
    * scan entropy tables (filled at SOS), and its DC predictor.
    */
  private final class Component(val id: Int, val h: Int, val v: Int, val tq: Int) {
    var dcT: HuffTable = null
    var acT: HuffTable = null
    var pred = 0
  }

  /** Parse one baseline JPEG starting at `offset`; returns the LUMA
    * image and the offset just past its EOI marker, or None for
    * anything that is not well-formed baseline sequential grayscale or
    * 3-component YCbCr JPEG.
    */
  def decodeJpegAt(payload: Array[Byte], offset: Int): Option[(PgmImage, Int)] = {
    val n = payload.length
    var i = offset
    if (i + 2 > n || (payload(i) & 0xff) != 0xff || (payload(i + 1) & 0xff) != 0xd8)
      return None // SOI
    i += 2
    var width = 0
    var height = 0
    val huffDc = new Array[HuffTable](4)
    val huffAc = new Array[HuffTable](4)
    var comps: Array[Component] = null
    var hMax = 1
    var vMax = 1
    var adobeRgb = false
    var restartInterval = 0
    var scanStart = -1
    var progressive = false
    var sosAt = -1
    val quantTables = new Array[Array[Int]](4)
    // ---- marker segment walk up to SOS ----
    while (scanStart < 0) {
      if (i + 2 > n || (payload(i) & 0xff) != 0xff) return None
      // T.81 B.1.1.2: any number of 0xff fill bytes may pad in front of
      // a marker code — skip them rather than misread the second 0xff
      // of a padded marker as a length-bearing segment code.
      while (i + 1 < n && (payload(i + 1) & 0xff) == 0xff) i += 1
      if (i + 4 > n) return None
      val marker = payload(i + 1) & 0xff
      // Standalone markers (SOI again, TEM, RSTn) carry no length field
      // (T.81 B.1.1.3) and don't belong between header segments — reject
      // them explicitly instead of misparsing their next two bytes as a
      // segment length.
      if (marker == 0xd8 || marker == 0x01 ||
          (marker >= 0xd0 && marker <= 0xd7)) return None
      val segLen = u16(payload, i + 2)
      if (segLen < 2 || i + 2L + segLen > n) return None
      val body = i + 4
      val bodyLen = segLen - 2
      marker match {
        case 0xdb => // DQT: one or more tables
          var o = body
          while (o < body + bodyLen) {
            val pq = (payload(o) & 0xff) >> 4
            val tq = payload(o) & 0x0f
            if (pq != 0 || tq > 3 || o + 65 > body + bodyLen) return None // 8-bit only
            val t = new Array[Int](64)
            var z = 0
            while (z < 64) {
              val q = payload(o + 1 + z) & 0xff
              if (q == 0) return None
              t(Zigzag(z)) = q
              z += 1
            }
            quantTables(tq) = t
            o += 65
          }
          if (o != body + bodyLen) return None
        case 0xc4 => // DHT: one or more tables
          if (!parseDht(payload, body, bodyLen, huffDc, huffAc)) return None
        case 0xc0 | 0xc2 => // SOF0 baseline / SOF2 progressive, 1 or 3 comps
          if (comps != null) return None // one frame header only
          progressive = marker == 0xc2
          if (bodyLen < 8 || (payload(body) & 0xff) != 8) return None // 8-bit
          height = u16(payload, body + 1)
          width = u16(payload, body + 3)
          val nComp = payload(body + 5) & 0xff
          if ((nComp != 1 && nComp != 3) || bodyLen != 6 + 3 * nComp) return None
          comps = Array.tabulate(nComp) { c =>
            val o = body + 6 + 3 * c
            new Component(payload(o) & 0xff, (payload(o + 1) & 0xff) >> 4,
              payload(o + 1) & 0x0f, payload(o + 2) & 0xff)
          }
          // duplicate component ids would make SOS selectors ambiguous
          if (comps.map(_.id).distinct.length != nComp) return None
          // 3-component frames are decoded AS YCbCr (comp 0 = luma);
          // component ids spelling "RGB" mean an RGB frame whose first
          // channel is red, not luma — reject to the stub rather than
          // return the red plane as grayscale (see also APP14 below)
          if (nComp == 3 && comps(0).id == 'R' && comps(1).id == 'G' &&
              comps(2).id == 'B') return None
          // grayscale is only ever written 1x1; color factors 1-4 with
          // the max being an exact multiple of each (every real
          // encoder's grid: 4:4:4, 4:2:2, 4:4:0, 4:2:0, 4:1:1)
          if (nComp == 1 && (comps(0).h != 1 || comps(0).v != 1)) return None
          hMax = comps.map(_.h).max
          vMax = comps.map(_.v).max
          if (comps.exists(c => c.h < 1 || c.h > 4 || c.v < 1 || c.v > 4 ||
              hMax % c.h != 0 || vMax % c.v != 0 || c.tq > 3)) return None
          // T.81 B.2.2: sum of Hi*Vi over an interleaved MCU <= 10
          if (comps.map(c => c.h * c.v).sum > 10) return None
          if (width <= 0 || height <= 0 ||
              width.toLong * height > Int.MaxValue) return None
        case 0xc1 | 0xc3 | 0xc5 | 0xc6 | 0xc7 |
             0xc9 | 0xca | 0xcb | 0xcd | 0xce | 0xcf =>
          return None // extended/lossless/arithmetic: stub path
        case 0xdd => // DRI
          if (bodyLen != 2) return None
          restartInterval = u16(payload, body)
        case 0xda if progressive => // first SOS of a progressive frame:
          // scan headers differ per scan and are parsed by the
          // progressive scan loop itself — just record where it starts
          if (comps == null) return None
          sosAt = i
          scanStart = body + bodyLen // exits the walk; value unused
        case 0xda => // SOS
          if (comps == null) return None // SOF must precede SOS
          // A baseline scan body is exactly 1 + 2*Ns + 3 bytes; check
          // the length BEFORE any body read so a truncated SOS at
          // payload end rejects instead of indexing past the array.
          if (bodyLen < 1) return None
          val nc = payload(body) & 0xff
          // baseline writes ONE scan: non-interleaved for grayscale,
          // fully interleaved for color (Ns = Nf)
          if (nc != comps.length || bodyLen != 4 + 2 * nc) return None
          var c = 0
          while (c < nc) {
            val o = body + 1 + 2 * c
            // selectors must match SOF components in SOF order — the
            // layout every baseline encoder emits
            if ((payload(o) & 0xff) != comps(c).id) return None
            val dcSel = (payload(o + 1) & 0xff) >> 4
            val acSel = payload(o + 1) & 0x0f
            if (dcSel > 3 || acSel > 3) return None
            comps(c).dcT = huffDc(dcSel)
            comps(c).acT = huffAc(acSel)
            if (comps(c).dcT == null || comps(c).acT == null) return None
            c += 1
          }
          // Baseline sequential is always the full spectral band with no
          // successive approximation (T.81 §B.2.3): Ss=0, Se=63, Ah=Al=0.
          // Anything else is a malformed/progressive scan header — reject
          // rather than misdecode it as a full scan.
          val se = body + 1 + 2 * nc
          if ((payload(se) & 0xff) != 0 || (payload(se + 1) & 0xff) != 63 ||
              (payload(se + 2) & 0xff) != 0) return None
          scanStart = body + bodyLen
        case 0xd9 => return None // EOI before any scan
        case 0xee => // APP14: Adobe color-transform tag
          // transform 0 on a 3-component frame declares RGB (not
          // YCbCr) channels; decoding comp 0 as luma would return the
          // red plane, so flag it and reject after the walk
          if (bodyLen >= 12 && payload(body) == 'A' && payload(body + 1) == 'd' &&
              payload(body + 2) == 'o' && payload(body + 3) == 'b' &&
              payload(body + 4) == 'e' && (payload(body + 11) & 0xff) == 0)
            adobeRgb = true
        case _ => () // APPn / COM / other: skip
      }
      i += 2 + segLen
    }
    if (adobeRgb && comps.length == 3) return None
    if (comps.exists(c => quantTables(c.tq) == null)) return None
    if (progressive)
      return decodeProgressiveFrom(payload, sosAt, n, width, height,
        comps, quantTables, huffDc, huffAc, restartInterval, hMax, vMax)
    // MCU grid: grayscale scans are non-interleaved (MCU = one block,
    // T.81 §A.2.2 — sampling factors don't shape the layout); color
    // scans interleave Hi x Vi blocks per component per MCU.
    val mcusX = (width + 8 * hMax - 1) / (8 * hMax)
    val mcusY = (height + 8 * vMax - 1) / (8 * vMax)
    val blocksPerMcu = comps.map(c => c.h * c.v).sum
    val totalBlocks = mcusX.toLong * mcusY * blocksPerMcu
    // Decompression-bomb bound by ACTUAL bytes (PNG-decoder discipline):
    // with the file's own (possibly optimized) Huffman tables a flat
    // block can legally cost as little as 2 entropy bits (1-bit DC
    // cat-0 code + 1-bit EOB), so a payload can't legitimately declare
    // more than 4 blocks per remaining byte. A 300-byte payload
    // claiming 65000x65000 (66M blocks => 4.2 GB of pixels) dies here,
    // not at the allocator.
    if (totalBlocks > (n - scanStart).toLong * 4 + 64) return None
    // The output is the LUMA plane = component 0 (Y for color, the
    // sole component for gray), decoded on its own sample grid then
    // replicated up to frame size. Chroma components are entropy-
    // decoded to keep the bit stream in sync but never IDCT'd.
    val lc = comps(0)
    val lumaW = (width * lc.h + hMax - 1) / hMax // ceil, T.81 §A.1.1
    val lumaH = (height * lc.v + vMax - 1) / vMax
    val luma = new Array[Byte](lumaW * lumaH)
    val reader = new BitReader(payload, scanStart, n)
    val coef = new Array[Double](64)
    val tmp = new Array[Double](64)
    var mcuIdx = 0
    var restartCount = 0
    var my = 0
    while (my < mcusY) {
      var mx = 0
      while (mx < mcusX) {
        if (restartInterval > 0 && mcuIdx > 0 &&
            mcuIdx % restartInterval == 0) {
          if (!reader.alignToRestart(restartCount & 7)) return None
          restartCount += 1
          var c = 0
          while (c < comps.length) { comps(c).pred = 0; c += 1 }
        }
        var ci = 0
        while (ci < comps.length) {
          val comp = comps(ci)
          val quant = quantTables(comp.tq)
          val isLuma = ci == 0
          var bv = 0
          while (bv < comp.v) {
            var bhh = 0
            while (bhh < comp.h) {
              // ---- entropy-decode one 8x8 block (T.81 §F.2.2) ----
              if (isLuma) java.util.Arrays.fill(coef, 0.0)
              val s = reader.decodeHuff(comp.dcT)
              if (reader.bad || s < 0 || s > 11) return None
              comp.pred += extend(reader.readBits(s), s)
              if (isLuma) coef(0) = comp.pred * quant(0)
              var k = 1
              while (k < 64) {
                val rs = reader.decodeHuff(comp.acT)
                if (reader.bad || rs < 0) return None
                val r = rs >> 4
                val size = rs & 0x0f
                if (size == 0) {
                  if (r == 15) k += 16 // ZRL: sixteen zeros
                  else k = 64 // EOB
                } else {
                  k += r
                  if (k > 63) return None
                  val v = extend(reader.readBits(size), size)
                  if (isLuma) coef(Zigzag(k)) = v * quant(Zigzag(k))
                  k += 1
                }
              }
              if (reader.bad) return None
              if (isLuma)
                idctToLuma(coef, luma, lumaW, lumaH,
                  (mx * comp.h + bhh) * 8, (my * comp.v + bv) * 8, tmp)
              bhh += 1
            }
            bv += 1
          }
          ci += 1
        }
        mcuIdx += 1
        mx += 1
      }
      my += 1
    }
    // ---- trailer: optional byte-aligned padding, then EOI ----
    var e = reader.pos
    if (e + 2 > n || (payload(e) & 0xff) != 0xff ||
        (payload(e + 1) & 0xff) != 0xd9) return None
    e += 2
    // Replicate the luma grid up to frame dimensions (identity for
    // gray and for any file whose Y uses the max sampling factors —
    // i.e. every real YCbCr file; the general path covers the legal
    // oddballs where Y is subsampled too).
    val px =
      if (lumaW == width && lumaH == height) luma
      else {
        val fx = hMax / lc.h
        val fy = vMax / lc.v
        val out = new Array[Byte](width * height)
        var gy = 0
        while (gy < height) {
          val sy = gy / fy
          var gx = 0
          while (gx < width) {
            out(gy * width + gx) = luma(sy * lumaW + gx / fx)
            gx += 1
          }
          gy += 1
        }
        out
      }
    Some((PgmImage(width, height, 255, px), e))
  }

  /** Progressive (SOF2) scan loop + final IDCT (T.81 Annex G / §G.2).
    * Coefficients accumulate across DC/AC first + refinement scans in a
    * full-frame luma coefficient buffer, then dequantize+IDCT once at
    * EOI. Luma-bearing scans are entropy-decoded (interleaved DC scans
    * decode chroma DC too, to stay in bit-sync); chroma-ONLY scans are
    * skipped at BYTE level — their bits can never touch the luma plane,
    * so the skip is both correct and the fast path (half the entropy
    * data of a 4:2:0 color file is never bit-decoded). Scan headers are
    * validated per §G.1.1.1.1 (DC: Ss=Se=0; AC: Ns=1, 1<=Ss<=Se<=63;
    * Ah=0 or Al+1); DHT/DRI may appear between scans, while a mid-frame
    * DQT/SOF/DNL rejects — re-quantizing already-coded coefficients
    * would mis-decode, and this codec never mis-decodes.
    */
  private def decodeProgressiveFrom(payload: Array[Byte], firstSos: Int,
      n: Int, width: Int, height: Int, comps: Array[Component],
      quantTables: Array[Array[Int]], huffDc: Array[HuffTable],
      huffAc: Array[HuffTable], restartInterval0: Int,
      hMax: Int, vMax: Int): Option[(PgmImage, Int)] = {
    var restartInterval = restartInterval0
    val mcusX = (width + 8 * hMax - 1) / (8 * hMax)
    val mcusY = (height + 8 * vMax - 1) / (8 * vMax)
    val blocksPerMcu = comps.map(c => c.h * c.v).sum
    val totalBlocks = mcusX.toLong * mcusY * blocksPerMcu
    // Decompression-bomb bound, bits-based: the luma DC-first scan
    // costs at least one bit per block (a Huffman code is >= 1 bit,
    // T.81 §F.1.2.1.2), so more blocks than remaining payload BITS is
    // structurally impossible. One-per-BYTE (the previous bound) was
    // wrong: EOB runs cover up to 32767 blocks in one code, so smooth
    // progressive images — exactly where progressive compresses best —
    // legitimately spend well under 8 bits/block and were rejected.
    if (totalBlocks > 8L * (n - firstSos) + 64) return None
    val lc = comps(0)
    val lumaW = (width * lc.h + hMax - 1) / hMax // luma sample grid
    val lumaH = (height * lc.v + vMax - 1) / vMax
    val lumaBw = mcusX * lc.h // padded block grid (interleaved indexing)
    val lumaBh = mcusY * lc.v
    val bwN = (lumaW + 7) / 8 // non-interleaved block grid (§A.2.2)
    val bhN = (lumaH + 7) / 8
    // Memory cap, payload-independent: progressive (unlike the
    // streaming baseline path) must hold the full luma coefficient
    // plane, so the allocation itself is capped at 64 MB (16M Int
    // coefficients = a 4096x4096 luma plane). Executors run many codec
    // tasks concurrently; a per-row buffer past this is a memory bomb
    // regardless of how honestly the entropy data paid for its blocks.
    // This also subsumes Int overflow of the u16-dim product (~68G).
    if (lumaBw.toLong * lumaBh * 64 > 16L * 1024 * 1024) return None
    val lumaCoef = new Array[Int](lumaBw * lumaBh * 64)
    var dcSeen = false

    /** Advance past one scan's entropy-coded bytes without decoding:
      * stuffed 0xFF00 pairs, restart markers, and 0xFF fill bytes are
      * interior; anything else after 0xFF is the next marker.
      */
    def skipEntropy(pos0: Int): Int = {
      var pos = pos0
      while (pos + 1 < n) {
        if ((payload(pos) & 0xff) != 0xff) pos += 1
        else {
          val b2 = payload(pos + 1) & 0xff
          if (b2 == 0x00) pos += 2
          else if (b2 >= 0xd0 && b2 <= 0xd7) pos += 2
          else if (b2 == 0xff) pos += 1
          else return pos
        }
      }
      -1
    }

    /** Parse + decode (or skip) the scan whose SOS marker is at
      * `sosPos`; returns the offset of the next marker, or -1.
      */
    def handleScan(sosPos: Int): Int = {
      if (sosPos + 4 > n) return -1
      val segLen = u16(payload, sosPos + 2)
      if (segLen < 2 || sosPos + 2L + segLen > n) return -1
      val body = sosPos + 4
      val bodyLen = segLen - 2
      if (bodyLen < 1) return -1
      val ns = payload(body) & 0xff
      if (ns < 1 || ns > comps.length || bodyLen != 4 + 2 * ns) return -1
      // scan components must be distinct SOF components in SOF order
      val scanComps = new Array[Component](ns)
      val dcSel = new Array[Int](ns)
      val acSel = new Array[Int](ns)
      var prev = -1
      var c = 0
      while (c < ns) {
        val o = body + 1 + 2 * c
        val id = payload(o) & 0xff
        val idx = comps.indexWhere(_.id == id)
        if (idx < 0 || idx <= prev) return -1
        prev = idx
        scanComps(c) = comps(idx)
        dcSel(c) = (payload(o + 1) & 0xff) >> 4
        acSel(c) = payload(o + 1) & 0x0f
        if (dcSel(c) > 3 || acSel(c) > 3) return -1
        c += 1
      }
      val ss = payload(body + 1 + 2 * ns) & 0xff
      val se = payload(body + 2 + 2 * ns) & 0xff
      val ahal = payload(body + 3 + 2 * ns) & 0xff
      val ah = ahal >> 4
      val al = ahal & 0x0f
      val dataStart = body + bodyLen
      val isDc = ss == 0
      if (isDc && se != 0) return -1
      if (!isDc && (ns != 1 || se < ss || se > 63)) return -1
      if (al > 13 || (ah != 0 && ah != al + 1)) return -1
      if (!scanComps.exists(_ eq comps(0))) return skipEntropy(dataStart)
      val reader = new BitReader(payload, dataStart, n)
      if (isDc) {
        if (ah == 0) {
          var c2 = 0
          while (c2 < ns) {
            scanComps(c2).dcT = huffDc(dcSel(c2))
            if (scanComps(c2).dcT == null) return -1
            scanComps(c2).pred = 0
            c2 += 1
          }
          dcSeen = true
        }
        if (ns == 1) { // non-interleaved DC over the luma block grid
          val comp = scanComps(0)
          var blockIdx = 0
          var by = 0
          while (by < bhN) {
            var bx = 0
            while (bx < bwN) {
              if (restartInterval > 0 && blockIdx > 0 &&
                  blockIdx % restartInterval == 0) {
                if (!reader.alignToRestart((blockIdx / restartInterval - 1) & 7))
                  return -1
                comp.pred = 0
              }
              val base = (by * lumaBw + bx) * 64
              if (ah == 0) {
                val s = reader.decodeHuff(comp.dcT)
                if (reader.bad || s < 0 || s > 11) return -1
                comp.pred += extend(reader.readBits(s), s)
                lumaCoef(base) = comp.pred << al
              } else if (reader.readBit() == 1) lumaCoef(base) |= (1 << al)
              if (reader.bad) return -1
              blockIdx += 1
              bx += 1
            }
            by += 1
          }
        } else { // interleaved DC over the frame MCU grid
          var mcuIdx = 0
          var my = 0
          while (my < mcusY) {
            var mx = 0
            while (mx < mcusX) {
              if (restartInterval > 0 && mcuIdx > 0 &&
                  mcuIdx % restartInterval == 0) {
                if (!reader.alignToRestart((mcuIdx / restartInterval - 1) & 7))
                  return -1
                var c3 = 0
                while (c3 < ns) { scanComps(c3).pred = 0; c3 += 1 }
              }
              var c3 = 0
              while (c3 < ns) {
                val comp = scanComps(c3)
                val isLuma = comp eq comps(0)
                var bv = 0
                while (bv < comp.v) {
                  var bhh = 0
                  while (bhh < comp.h) {
                    if (ah == 0) {
                      val s = reader.decodeHuff(comp.dcT)
                      if (reader.bad || s < 0 || s > 11) return -1
                      comp.pred += extend(reader.readBits(s), s)
                      if (isLuma)
                        lumaCoef(((my * comp.v + bv) * lumaBw +
                          (mx * comp.h + bhh)) * 64) = comp.pred << al
                    } else {
                      val bit = reader.readBit()
                      if (isLuma && bit == 1)
                        lumaCoef(((my * comp.v + bv) * lumaBw +
                          (mx * comp.h + bhh)) * 64) |= (1 << al)
                    }
                    if (reader.bad) return -1
                    bhh += 1
                  }
                  bv += 1
                }
                c3 += 1
              }
              mcuIdx += 1
              mx += 1
            }
            my += 1
          }
        }
      } else { // AC scan: always non-interleaved, here always luma
        val acT = huffAc(acSel(0))
        if (acT == null) return -1
        val p1 = 1 << al
        val m1 = -p1
        var eobrun = 0
        var blockIdx = 0
        var by = 0
        while (by < bhN) {
          var bx = 0
          while (bx < bwN) {
            if (restartInterval > 0 && blockIdx > 0 &&
                blockIdx % restartInterval == 0) {
              if (!reader.alignToRestart((blockIdx / restartInterval - 1) & 7))
                return -1
              eobrun = 0
            }
            val base = (by * lumaBw + bx) * 64
            if (ah == 0) { // first pass for this band (§G.2.2)
              if (eobrun > 0) eobrun -= 1
              else {
                var k = ss
                while (k <= se) {
                  val rs = reader.decodeHuff(acT)
                  if (reader.bad || rs < 0) return -1
                  val r = rs >> 4
                  val sz = rs & 0x0f
                  if (sz == 0) {
                    if (r < 15) { // EOBn: run of end-of-band blocks
                      eobrun = (1 << r) - 1
                      if (r > 0) eobrun += reader.readBits(r)
                      k = 64
                    } else k += 16 // ZRL
                  } else {
                    k += r
                    if (k > se) return -1
                    lumaCoef(base + Zigzag(k)) = extend(reader.readBits(sz), sz) * p1
                    k += 1
                  }
                  if (reader.bad) return -1
                }
              }
            } else { // refinement pass (§G.1.2.3): one correction bit per
              var k = ss // already-nonzero coefficient, sign bits for new ones
              if (eobrun == 0) {
                while (k <= se) {
                  val rs = reader.decodeHuff(acT)
                  if (reader.bad || rs < 0) return -1
                  var r = rs >> 4
                  val sz = rs & 0x0f
                  var newval = 0
                  if (sz == 0) {
                    if (r < 15) {
                      eobrun = (1 << r) - 1
                      if (r > 0) eobrun += reader.readBits(r)
                      r = 64 // walk out the band refining nonzero history
                    }
                  } else {
                    if (sz != 1) return -1
                    newval = if (reader.readBit() == 1) p1 else m1
                  }
                  var placed = false
                  while (k <= se && !placed) {
                    val ci = base + Zigzag(k)
                    k += 1
                    if (lumaCoef(ci) != 0) {
                      if (reader.readBit() == 1 && (lumaCoef(ci) & p1) == 0)
                        lumaCoef(ci) += (if (lumaCoef(ci) >= 0) p1 else m1)
                    } else if (r == 0) {
                      if (newval != 0) lumaCoef(ci) = newval
                      placed = true
                    } else r -= 1
                    if (reader.bad) return -1
                  }
                  if (!placed && newval != 0) return -1 // coeff past band end
                }
              } else {
                while (k <= se) { // block inside an EOB run: corrections only
                  val ci = base + Zigzag(k)
                  k += 1
                  if (lumaCoef(ci) != 0) {
                    if (reader.readBit() == 1 && (lumaCoef(ci) & p1) == 0)
                      lumaCoef(ci) += (if (lumaCoef(ci) >= 0) p1 else m1)
                  }
                  if (reader.bad) return -1
                }
                eobrun -= 1
              }
            }
            blockIdx += 1
            bx += 1
          }
          by += 1
        }
      }
      if (reader.bad) -1 else reader.pos
    }

    // ---- scan loop: SOS segments with DHT/DRI/APPn/COM between ----
    var i = firstSos
    var endPos = -1
    while (endPos < 0) {
      if (i + 2 > n || (payload(i) & 0xff) != 0xff) return None
      while (i + 1 < n && (payload(i + 1) & 0xff) == 0xff) i += 1 // fill bytes
      if (i + 2 > n) return None
      val marker = payload(i + 1) & 0xff
      if (marker == 0xd9) endPos = i + 2 // EOI
      else if (marker == 0xda) {
        val next = handleScan(i)
        if (next < 0) return None
        i = next
      } else if (marker == 0xd8 || marker == 0x01 ||
          (marker >= 0xd0 && marker <= 0xd7)) return None
      else {
        if (i + 4 > n) return None
        val segLen = u16(payload, i + 2)
        if (segLen < 2 || i + 2L + segLen > n) return None
        marker match {
          case 0xc4 =>
            if (!parseDht(payload, i + 4, segLen - 2, huffDc, huffAc)) return None
          case 0xdd =>
            if (segLen != 4) return None
            restartInterval = u16(payload, i + 4)
          case 0xdb | 0xdc => return None // mid-frame DQT/DNL: reject
          case m2 if m2 >= 0xc0 && m2 <= 0xcf => return None // second SOF
          case _ => () // APPn / COM: skip
        }
        i += 2 + segLen
      }
    }
    if (!dcSeen) return None
    // ---- dequantize + IDCT the luma grid, then replicate to frame ----
    val quant = quantTables(lc.tq)
    val luma = new Array[Byte](lumaW * lumaH)
    val coef = new Array[Double](64)
    val tmp = new Array[Double](64)
    var by = 0
    while (by < bhN) {
      var bx = 0
      while (bx < bwN) {
        val off = (by * lumaBw + bx) * 64
        var k = 0
        while (k < 64) { coef(k) = lumaCoef(off + k).toDouble * quant(k); k += 1 }
        idctToLuma(coef, luma, lumaW, lumaH, bx * 8, by * 8, tmp)
        bx += 1
      }
      by += 1
    }
    val px =
      if (lumaW == width && lumaH == height) luma
      else {
        val fx = hMax / lc.h
        val fy = vMax / lc.v
        val out = new Array[Byte](width * height)
        var gy = 0
        while (gy < height) {
          val sy = gy / fy
          var gx = 0
          while (gx < width) {
            out(gy * width + gx) = luma(sy * lumaW + gx / fx)
            gx += 1
          }
          gy += 1
        }
        out
      }
    Some((PgmImage(width, height, 255, px), endPos))
  }

  def decodeJpeg(payload: Array[Byte]): Option[PgmImage] =
    decodeJpegAt(payload, 0).map(_._1)

  /** All frames of a concatenated-JPEG container, or Nil if the
    * payload isn't one.
    */
  def decodeJpegFrames(payload: Array[Byte]): Seq[PgmImage] =
    Multimodal.decodeFramesWith(payload, decodeJpegAt)

  // ---- Encoder ---------------------------------------------------------

  private[operators] final class BitWriter(bos: java.io.ByteArrayOutputStream) {
    private var buf = 0
    private var cnt = 0
    def write(bits: Int, nBits: Int): Unit = {
      var k = nBits - 1
      while (k >= 0) {
        buf = (buf << 1) | ((bits >> k) & 1)
        cnt += 1
        if (cnt == 8) {
          bos.write(buf)
          if (buf == 0xff) bos.write(0x00) // byte stuffing
          buf = 0; cnt = 0
        }
        k -= 1
      }
    }
    def flushWithOnes(): Unit = { // pad the final byte with 1s, per convention
      while (cnt != 0) write(1, 1)
    }
  }

  /** (code, length) for each symbol of a canonical table. */
  private[operators] def buildCodes(bits: Array[Int], vals: Array[Int]): Map[Int, (Int, Int)] = {
    var code = 0
    var vi = 0
    val out = Map.newBuilder[Int, (Int, Int)]
    var l = 1
    while (l <= 16) {
      var c = 0
      while (c < bits(l - 1)) {
        out += vals(vi) -> ((code, l))
        code += 1; vi += 1; c += 1
      }
      code <<= 1
      l += 1
    }
    out.result()
  }

  private[operators] lazy val DcCodes = buildCodes(StdDcBits, StdDcVals)
  private lazy val AcCodes = buildCodes(StdAcBits, StdAcVals)

  /** Magnitude category: smallest s with |v| < 2^s. */
  private[operators] def category(v: Int): Int = {
    var a = math.abs(v)
    var s = 0
    while (a != 0) { a >>= 1; s += 1 }
    s
  }

  /** Level-shift + separable FDCT + StdQuant quantize of the 8x8 block
    * at block position (bx, by); out-of-image pixels replicate the
    * nearest edge pixel (keeps gradients smooth at the boundary).
    * Shared by the baseline and progressive encoders so both quantize
    * identically — the decode-equality test between the two encodings
    * leans on that.
    */
  private[operators] def fdctQuantBlock(img: PgmImage, bx: Int, by: Int,
      block: Array[Double], tmp: Array[Double], coef: Array[Int]): Unit = {
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        val sx = math.min(bx * 8 + x, img.width - 1)
        val sy = math.min(by * 8 + y, img.height - 1)
        block(y * 8 + x) = (img.pixels(sy * img.width + sx) & 0xff) - 128.0
        x += 1
      }
      y += 1
    }
    var v0 = 0
    while (v0 < 8) { // rows
      var u0 = 0
      while (u0 < 8) {
        var acc = 0.0
        var x = 0
        while (x < 8) { acc += CosTable(u0 * 8 + x) * block(v0 * 8 + x); x += 1 }
        tmp(v0 * 8 + u0) = acc / 2.0
        u0 += 1
      }
      v0 += 1
    }
    var u1 = 0
    while (u1 < 8) { // columns
      var v1 = 0
      while (v1 < 8) {
        var acc = 0.0
        var y1 = 0
        while (y1 < 8) { acc += CosTable(v1 * 8 + y1) * tmp(y1 * 8 + u1); y1 += 1 }
        val q = StdQuant(v1 * 8 + u1)
        coef(v1 * 8 + u1) = StrictMath.round(acc / 2.0 / q).toInt
        v1 += 1
      }
      u1 += 1
    }
  }

  /** Serialize as baseline grayscale JPEG with the Annex K example
    * tables (written into DQT/DHT — the stream is self-describing).
    * Lossy: [[decodeJpeg]] recovers pixels to within quantization
    * error, exact for flat blocks.
    */
  def encodeJpeg(img: PgmImage): Array[Byte] = {
    require(img.width > 0 && img.height > 0, "empty image")
    // SOF0 stores dimensions as u16 — larger values would silently
    // truncate mod 65536 in the header and corrupt the stream.
    require(img.width <= 0xffff && img.height <= 0xffff,
      s"JPEG dimensions exceed u16: ${img.width}x${img.height}")
    val bos = new java.io.ByteArrayOutputStream()
    def m(marker: Int): Unit = { bos.write(0xff); bos.write(marker) }
    def seg(marker: Int, body: Array[Int]): Unit = {
      m(marker); bos.write((body.length + 2) >> 8); bos.write((body.length + 2) & 0xff)
      body.foreach(bos.write)
    }
    m(0xd8) // SOI
    seg(0xdb, 0 +: Array.tabulate(64)(z => StdQuant(Zigzag(z)))) // DQT id 0
    seg(0xc0, Array(8, // SOF0: precision
      img.height >> 8, img.height & 0xff, img.width >> 8, img.width & 0xff,
      1, 1, 0x11, 0)) // 1 component, id 1, 1x1 sampling, quant 0
    seg(0xc4, 0x00 +: (StdDcBits ++ StdDcVals)) // DHT DC 0
    seg(0xc4, 0x10 +: (StdAcBits ++ StdAcVals)) // DHT AC 0
    seg(0xda, Array(1, 1, 0x00, 0, 63, 0)) // SOS: comp 1, DC0/AC0, full spectral
    val w = new BitWriter(bos)
    val bw = (img.width + 7) / 8
    val bh = (img.height + 7) / 8
    val block = new Array[Double](64)
    val coef = new Array[Int](64)
    val tmp = new Array[Double](64)
    var pred = 0
    var by = 0
    while (by < bh) {
      var bx = 0
      while (bx < bw) {
        fdctQuantBlock(img, bx, by, block, tmp, coef)
        // entropy-encode: DC diff then AC run-lengths in zigzag order
        val diff = coef(0) - pred
        pred = coef(0)
        val s = category(diff)
        val (dc, dl) = DcCodes(s)
        w.write(dc, dl)
        if (s > 0) w.write(if (diff < 0) diff + (1 << s) - 1 else diff, s)
        var run = 0
        var k = 1
        while (k < 64) {
          val c = coef(Zigzag(k))
          if (c == 0) run += 1
          else {
            while (run > 15) { val (z, zl) = AcCodes(0xf0); w.write(z, zl); run -= 16 }
            val size = category(c)
            val (ac, al) = AcCodes((run << 4) | size)
            w.write(ac, al)
            w.write(if (c < 0) c + (1 << size) - 1 else c, size)
            run = 0
          }
          k += 1
        }
        if (run > 0) { val (e, el) = AcCodes(0x00); w.write(e, el) } // EOB
        bx += 1
      }
      by += 1
    }
    w.flushWithOnes()
    m(0xd9) // EOI
    bos.toByteArray
  }
}
