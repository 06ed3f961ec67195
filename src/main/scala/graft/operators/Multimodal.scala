package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing for the training-data pipeline: media
  * payloads are opaque `binary` columns with typed metadata; decode /
  * feature-extraction runs partition-batched over the payload bytes.
  *
  * Decode is REAL for four formats here (plus baseline JPEG in
  * [[Jpeg]]) — PGM (P5), uncompressed BMP (8-bit paletted + 24-bit
  * BGR), 8-bit non-interlaced PNG in all five color types (JDK
  * Inflater, verified CRCs, all five scanline filters, color to
  * ITU-R 601 luma), and 16-bit PCM WAV (RIFF chunk walk, fmt
  * cross-field validation) —
  * header parse, pixel/sample access, nearest-neighbor resize and
  * resample, and concatenated-frame/clip sampling all operate on
  * actual pixels or samples (MultimodalSpec asserts known values end
  * to end). Anything
  * else falls back to the deterministic byte-statistics STUB (lossy
  * image/audio codecs aren't in this container; see the README format
  * table); the partition-batched execution shape — one decoder
  * instantiation per partition, NOT per row, the same shape a
  * vectorized/Arrow UDF would use — is identical on both paths.
  *
  * 100 TB notes: payloads never shuffle uncompacted — bucketing happens
  * on the 8-byte content hash, and features (small, fixed-width) are
  * what flows downstream; `spark.sql.files.maxPartitionBytes` governs
  * scan-side batch size for large media files.
  */
object Multimodal {

  // ---- PGM (P5) codec --------------------------------------------------
  // Netpbm "portable graymap", binary variant: the classic codec-free
  // raster format — ASCII header `P5 <width> <height> <maxval>` (with
  // `#` comments and arbitrary whitespace), then width*height raw bytes
  // (maxval <= 255). Public spec: netpbm's pgm(5).

  case class PgmImage(width: Int, height: Int, maxVal: Int, pixels: Array[Byte]) {
    def pixel(x: Int, y: Int): Int = pixels(y * width + x) & 0xff
  }

  /** Parse one P5 image starting at `offset`; returns the image and the
    * offset just past its raster, or None if the bytes there are not a
    * well-formed P5 header + complete raster.
    */
  def decodePgmAt(payload: Array[Byte], offset: Int): Option[(PgmImage, Int)] = {
    var i = offset
    def skipSpaceAndComments(): Unit = {
      var go = true
      while (go && i < payload.length) {
        val b = payload(i)
        if (b == ' ' || b == '\t' || b == '\n' || b == '\r') i += 1
        else if (b == '#') { while (i < payload.length && payload(i) != '\n') i += 1 }
        else go = false
      }
    }
    def readInt(): Option[Int] = {
      skipSpaceAndComments()
      var v = 0L
      var any = false
      while (i < payload.length && payload(i) >= '0' && payload(i) <= '9') {
        v = v * 10 + (payload(i) - '0'); any = true; i += 1
        if (v > Int.MaxValue) return None
      }
      if (any) Some(v.toInt) else None
    }
    def isSpace(b: Byte): Boolean =
      b == ' ' || b == '\t' || b == '\n' || b == '\r'
    if (i + 1 >= payload.length || payload(i) != 'P' || payload(i + 1) != '5')
      return None
    i += 2
    // the magic must be followed by whitespace or a comment — without
    // this check "P512 ..." would silently parse 12 as the width
    if (i >= payload.length || (!isSpace(payload(i)) && payload(i) != '#'))
      return None
    for {
      w <- readInt()
      h <- readInt()
      mv <- readInt()
      if w > 0 && h > 0 && mv > 0 && mv <= 255 && w.toLong * h <= Int.MaxValue
      // exactly ONE whitespace byte separates the header from the
      // raster — VERIFIED whitespace, so a junk-separated header is
      // rejected (stub fallback) instead of decoding a one-byte-shifted
      // raster; a CRLF pair (common from Windows writers) is consumed
      // whole, the standard lenient reading
      if i < payload.length && isSpace(payload(i))
      _ = {
        val wasCr = payload(i) == '\r'
        i += 1
        if (wasCr && i < payload.length && payload(i) == '\n') i += 1
      }
      if payload.length - i >= w.toLong * h
    } yield {
      val px = java.util.Arrays.copyOfRange(payload, i, i + w * h)
      (PgmImage(w, h, mv, px), i + w * h)
    }
  }

  def decodePgm(payload: Array[Byte]): Option[PgmImage] =
    decodePgmAt(payload, 0).map(_._1)

  /** Serialize as minimal canonical P5 (`P5\n<w> <h>\n<maxval>\n` + raster). */
  def encodePgm(img: PgmImage): Array[Byte] = {
    val header = s"P5\n${img.width} ${img.height}\n${img.maxVal}\n"
      .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    val out = new Array[Byte](header.length + img.pixels.length)
    System.arraycopy(header, 0, out, 0, header.length)
    System.arraycopy(img.pixels, 0, out, header.length, img.pixels.length)
    out
  }

  /** Nearest-neighbor resample on real pixels. */
  def resizePgm(img: PgmImage, w: Int, h: Int): PgmImage = {
    val out = new Array[Byte](w * h)
    var y = 0
    while (y < h) {
      val sy = (y.toLong * img.height / h).toInt
      var x = 0
      while (x < w) {
        out(y * w + x) = img.pixels(sy * img.width + (x.toLong * img.width / w).toInt)
        x += 1
      }
      y += 1
    }
    PgmImage(w, h, img.maxVal, out)
  }

  /** Generic concatenated-container walk shared by every codec's
    * `decodeXFrames`: decode frames back to back from offset 0 and
    * accept only a full-coverage parse (at least one frame, zero
    * trailing bytes) — anything else returns Nil so callers fall
    * through to the next codec / stub path. The acceptance rule lives
    * HERE, once, so a future change (e.g. tolerating a pad byte) can't
    * drift between formats.
    */
  private[operators] def decodeFramesWith[A](payload: Array[Byte],
      decodeAt: (Array[Byte], Int) => Option[(A, Int)]): Seq[A] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[A]
    var off = 0
    var more = payload.nonEmpty
    while (more) decodeAt(payload, off) match {
      case Some((a, next)) => out += a; off = next; more = off < payload.length
      case None => more = false
    }
    if (out.nonEmpty && off == payload.length) out.toSeq else Nil
  }

  /** All P5 frames of a concatenated-PGM container ("video": frames are
    * consecutive P5 images back to back), or Nil if the payload doesn't
    * start with one.
    */
  def decodePgmFrames(payload: Array[Byte]): Seq[PgmImage] =
    decodeFramesWith(payload, decodePgmAt)

  /** All frames of a concatenated-BMP container (each frame's declared
    * file size delimits it), or Nil if the payload isn't one.
    */
  def decodeBmpFrames(payload: Array[Byte]): Seq[PgmImage] =
    decodeFramesWith(payload, decodeBmpAt)

  // ---- BMP (Windows bitmap) codec --------------------------------------
  // Second genuine codec-free raster format: BITMAPFILEHEADER (14 bytes,
  // 'BM' magic, little-endian u32 file size, u32 pixel-data offset) +
  // BITMAPINFOHEADER (40 bytes) + optional palette + raster. Supported:
  // uncompressed (BI_RGB) 8-bit paletted and 24-bit BGR, bottom-up
  // (positive height, the common case) and top-down (negative height),
  // 4-byte-padded rows — the layout every uncompressed .bmp writer
  // emits. Decoded to the same grayscale PgmImage the PGM path uses
  // (ITU-R 601 integer luma for color inputs), so resize / features /
  // frame logic is codec-agnostic past the parser.

  private def u16(p: Array[Byte], i: Int): Int =
    (p(i) & 0xff) | ((p(i + 1) & 0xff) << 8)
  private def u32(p: Array[Byte], i: Int): Long =
    (p(i) & 0xffL) | ((p(i + 1) & 0xffL) << 8) |
      ((p(i + 2) & 0xffL) << 16) | ((p(i + 3) & 0xffL) << 24)
  private def luma(r: Int, g: Int, b: Int): Byte =
    ((r * 299 + g * 587 + b * 114) / 1000).toByte

  /** Parse one BMP starting at `offset`; returns the grayscale image
    * and the offset just past the declared file size, or None if the
    * bytes are not a well-formed uncompressed 8/24-bit BMP.
    */
  def decodeBmpAt(payload: Array[Byte], offset: Int): Option[(PgmImage, Int)] = {
    val o = offset
    if (o + 54 > payload.length || payload(o) != 'B' || payload(o + 1) != 'M')
      return None
    val fileSize = u32(payload, o + 2)
    val pixOff = u32(payload, o + 10)
    val dibSize = u32(payload, o + 14)
    if (dibSize != 40) return None // BITMAPINFOHEADER only
    val width = u32(payload, o + 18).toInt
    val rawHeight = u32(payload, o + 22).toInt // signed: <0 = top-down
    val planes = u16(payload, o + 26)
    val bpp = u16(payload, o + 28)
    val compression = u32(payload, o + 30)
    val topDown = rawHeight < 0
    val height = math.abs(rawHeight)
    if (width <= 0 || height <= 0 || planes != 1 || compression != 0L ||
        (bpp != 8 && bpp != 24) || width.toLong * height > Int.MaxValue)
      return None
    val rowBytes = ((width.toLong * bpp / 8 + 3) / 4 * 4) // 4-byte padded
    val rasterEnd = pixOff + rowBytes * height
    if (pixOff < 54 || rasterEnd > payload.length - o || fileSize < rasterEnd ||
        o + fileSize > payload.length)
      return None
    // 8-bit: palette sits between the headers and the raster
    val paletteOff = o + 54
    val paletteEntries = ((pixOff - 54) / 4).toInt
    if (bpp == 8 && paletteEntries < 1) return None
    val px = new Array[Byte](width * height)
    var row = 0
    while (row < height) {
      val srcRow = if (topDown) row else height - 1 - row
      val base = o + pixOff.toInt + (srcRow * rowBytes).toInt
      var x = 0
      while (x < width) {
        px(row * width + x) =
          if (bpp == 8) {
            val idx = payload(base + x) & 0xff
            if (idx >= paletteEntries) return None
            val pe = paletteOff + idx * 4 // BGRA palette entry
            luma(payload(pe + 2) & 0xff, payload(pe + 1) & 0xff, payload(pe) & 0xff)
          } else {
            val pe = base + x * 3 // BGR triple
            luma(payload(pe + 2) & 0xff, payload(pe + 1) & 0xff, payload(pe) & 0xff)
          }
        x += 1
      }
      row += 1
    }
    Some((PgmImage(width, height, 255, px), o + fileSize.toInt))
  }

  def decodeBmp(payload: Array[Byte]): Option[PgmImage] =
    decodeBmpAt(payload, 0).map(_._1)

  /** Serialize as an 8-bit grayscale BMP: 256-entry identity-gray
    * palette, bottom-up rows padded to 4 bytes — byte-exact round trip
    * through [[decodeBmp]] (gray palette luma is the identity).
    */
  def encodeBmp(img: PgmImage): Array[Byte] = {
    val rowBytes = (img.width + 3) / 4 * 4
    val pixOff = 14 + 40 + 256 * 4
    val fileSize = pixOff + rowBytes * img.height
    val out = new Array[Byte](fileSize)
    def putU16(i: Int, v: Int): Unit = { out(i) = v.toByte; out(i + 1) = (v >> 8).toByte }
    def putU32(i: Int, v: Int): Unit = {
      out(i) = v.toByte; out(i + 1) = (v >> 8).toByte
      out(i + 2) = (v >> 16).toByte; out(i + 3) = (v >> 24).toByte
    }
    out(0) = 'B'; out(1) = 'M'
    putU32(2, fileSize); putU32(10, pixOff)
    putU32(14, 40); putU32(18, img.width); putU32(22, img.height)
    putU16(26, 1); putU16(28, 8); putU32(30, 0)
    putU32(34, rowBytes * img.height)
    var i = 0
    while (i < 256) { // BGRA gray ramp
      val b = i.toByte
      out(54 + i * 4) = b; out(54 + i * 4 + 1) = b; out(54 + i * 4 + 2) = b
      i += 1
    }
    var y = 0
    while (y < img.height) {
      val dst = pixOff + (img.height - 1 - y) * rowBytes // bottom-up
      System.arraycopy(img.pixels, y * img.width, out, dst, img.width)
      y += 1
    }
    out
  }

  // ---- PNG codec (8-bit, non-interlaced, all five color types) ---------
  // Third real raster format. PNG's only compression is DEFLATE, which
  // the JDK ships (java.util.zip.Inflater) — still zero third-party
  // codec dependencies, same spirit as PGM/BMP. Structure (W3C PNG
  // spec / RFC 2083): 8-byte signature, then chunks of
  // [length u32 BE][type 4CC][data][CRC32 over type+data]. Supported:
  // IHDR bit depth 8, color types 0/2/3/4/6 (grayscale, truecolor,
  // paletted, gray+alpha, RGBA — color collapses to ITU-R 601 luma),
  // compression 0, filter method 0, interlace 0; all five scanline
  // filter types (None/Sub/Up/Average/Paeth) are unfiltered with the
  // channel stride. Chunk CRCs are VERIFIED — a corrupted chunk
  // rejects the payload (stub fallback) instead of decoding garbage.
  // Ancillary chunks (tEXt, gAMA, ...) are skipped, per spec.

  private val PngSig: Array[Byte] =
    Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

  private def u32be(p: Array[Byte], i: Int): Long =
    ((p(i) & 0xffL) << 24) | ((p(i + 1) & 0xffL) << 16) |
      ((p(i + 2) & 0xffL) << 8) | (p(i + 3) & 0xffL)

  /** Parse one PNG starting at `offset`; returns the image and the
    * offset just past its IEND chunk, or None if the bytes are not a
    * well-formed 8-bit non-interlaced PNG (CRC mismatches, truncated/
    * overlong zlib streams, and unknown filter types all reject).
    *
    * All five 8-bit color types decode: 0 grayscale, 2 truecolor RGB,
    * 3 paletted (PLTE required before IDAT), 4 gray+alpha, 6 RGBA —
    * color collapses to the same ITU-R 601 integer luma the BMP path
    * uses, and alpha is ignored (the downstream features are
    * luma-plane statistics; compositing against a background is a
    * rendering decision, not a decode one). 16-bit depths and
    * interlaced images reject to the stub.
    */
  def decodePngAt(payload: Array[Byte], offset: Int): Option[(PgmImage, Int)] = {
    var i = offset
    if (i + 8 > payload.length) return None
    var s = 0
    while (s < 8) { if (payload(i + s) != PngSig(s)) return None; s += 1 }
    i += 8
    var width = 0
    var height = 0
    var channels = 0
    var colorType = -1
    var sampleBytes = 1
    var interlaced = false
    var paletteOff = -1
    var paletteEntries = 0
    var seenIdat = false
    var seenIhdr = false
    var done = false
    val idat = new java.io.ByteArrayOutputStream()
    while (!done) {
      if (i + 8 > payload.length) return None
      val len = u32be(payload, i)
      // long arithmetic: a hostile length must not overflow the bound check
      if (len > Int.MaxValue - 12 || i + 12L + len > payload.length) return None
      val dataOff = i + 8
      val crc = new java.util.zip.CRC32()
      crc.update(payload, i + 4, 4 + len.toInt)
      if (crc.getValue != u32be(payload, dataOff + len.toInt)) return None
      val typ = new String(payload, i + 4, 4,
        java.nio.charset.StandardCharsets.US_ASCII)
      typ match {
        case "IHDR" =>
          if (seenIhdr || len != 13) return None
          width = u32be(payload, dataOff).toInt
          height = u32be(payload, dataOff + 4).toInt
          val bitDepth = payload(dataOff + 8) & 0xff
          colorType = payload(dataOff + 9) & 0xff
          val comp = payload(dataOff + 10) & 0xff
          val filterMethod = payload(dataOff + 11) & 0xff
          val interlace = payload(dataOff + 12) & 0xff
          channels = colorType match {
            case 0 => 1; case 2 => 3; case 3 => 1; case 4 => 2; case 6 => 4
            case _ => return None
          }
          // Legal depth/type combos (spec §11.2.2): 16-bit everywhere
          // except paletted (whose indices are at most 8-bit); sub-byte
          // depths (1/2/4, gray + paletted only) still reject to the
          // stub — documented posture, same as compressed audio.
          val depthOk = bitDepth == 8 || (bitDepth == 16 && colorType != 3)
          if (!depthOk || comp != 0 || filterMethod != 0 ||
              interlace > 1) return None
          sampleBytes = bitDepth / 8
          interlaced = interlace == 1
          if (width <= 0 || height <= 0 ||
              (width.toLong * channels * sampleBytes + 1) * height > Int.MaxValue ||
              width.toLong * height > Int.MaxValue) return None
          seenIhdr = true
        case "PLTE" =>
          // legal only for color types 2, 3, 6; mandatory for 3 (§11.2.3)
          if (!seenIhdr || seenIdat || paletteOff >= 0) return None
          if (colorType == 0 || colorType == 4) return None
          if (len == 0 || len % 3 != 0 || len > 768) return None
          paletteOff = dataOff
          paletteEntries = len.toInt / 3
        case "IDAT" =>
          if (!seenIhdr) return None
          if (colorType == 3 && paletteOff < 0) return None
          seenIdat = true
          idat.write(payload, dataOff, len.toInt)
        case "IEND" =>
          if (!seenIhdr || len != 0) return None
          done = true
        case _ => () // ancillary chunk: skip
      }
      i += 12 + len.toInt
    }
    // Scanline layout: one pass for a sequential image; the seven
    // Adam7 passes (spec §8.2 — (x0, y0, dx, dy) sub-grids) for an
    // interlaced one. Each pass is an INDEPENDENT sub-image: its own
    // scanlines, its own filter bytes, filters referencing only rows
    // within the pass. A pass whose sub-grid is empty (e.g. pass 2 of
    // a width-4 image) contributes NO scanlines — not even filter
    // bytes (§8.2) — which is exactly the edge a naive ceil() walk
    // gets wrong on tiny images.
    val bpp = channels * sampleBytes
    val passes: Array[(Int, Int, Int, Int)] =
      if (!interlaced) Array((0, 0, 1, 1))
      else Array((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
                 (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))
    def passDims(p: (Int, Int, Int, Int)): (Int, Int) = {
      val (x0, y0, dx, dy) = p
      (if (width > x0) (width - x0 + dx - 1) / dx else 0,
       if (height > y0) (height - y0 + dy - 1) / dy else 0)
    }
    var rawLenL = 0L
    passes.foreach { p =>
      val (pw, ph) = passDims(p)
      if (pw > 0 && ph > 0) rawLenL += ph.toLong * (pw.toLong * bpp + 1)
    }
    if (rawLenL > Int.MaxValue) return None
    // Inflate to exactly the pass scanlines of (1 filter byte + the
    // pixel bytes). Allocation is bounded by the ACTUAL payload bytes,
    // not header claims alone (the same discipline as decodePgmAt's
    // raster check): DEFLATE tops out near 1032:1, so a few-hundred-
    // byte payload declaring a 65535 x 32000 raster — a classic
    // decompression bomb — rejects here instead of allocating ~2 GB
    // per hostile asset row. The +64 covers fixed zlib framing on
    // tiny legitimate rasters.
    val rawLen = rawLenL.toInt
    val idatBytes = idat.toByteArray
    if (rawLen.toLong > 1032L * idatBytes.length + 64) return None
    val raw = new Array[Byte](rawLen)
    val inf = new java.util.zip.Inflater()
    try {
      inf.setInput(idatBytes)
      var got = 0
      while (got < raw.length) {
        val n = inf.inflate(raw, got, raw.length - got)
        // needsDictionary: an FDICT (preset dictionary) stream makes
        // inflate() return 0 with finished()=false AND needsInput()=
        // false forever — without this check one crafted payload spins
        // the executor task for good. PNG forbids FDICT, so reject.
        if (n == 0 && (inf.finished() || inf.needsInput() ||
            inf.needsDictionary())) return None // truncated or FDICT
        got += n
      }
      // the stream must END here — extra pixels would mean the header lied
      val scratch = new Array[Byte](1)
      if (!inf.finished() && inf.inflate(scratch) != 0) return None
    } catch { case _: java.util.zip.DataFormatException => return None }
    finally inf.end()
    // 16-bit samples collapse to 8 by linear rescale with rounding
    // (spec §13.12 recommends round(v * 255 / 65535), which libpng's
    // png_do_scale_16 also implements); the encoder's v -> v * 257
    // (hi = lo = v) expansion inverts exactly under it, so 16-bit
    // round trips are pixel-exact.
    def sample8(off: Int): Int =
      if (sampleBytes == 1) raw(off) & 0xff
      else {
        val v = ((raw(off) & 0xff) << 8) | (raw(off + 1) & 0xff)
        (510 * v + 65535) / 131070
      }
    // Palette index luma precomputed once (indices are 8-bit only)
    val palLuma: Array[Byte] =
      if (colorType != 3) null
      else {
        val pl = new Array[Byte](paletteEntries)
        var pi = 0
        while (pi < paletteEntries) {
          val pe = paletteOff + pi * 3
          pl(pi) = luma(payload(pe) & 0xff, payload(pe + 1) & 0xff,
            payload(pe + 2) & 0xff)
          pi += 1
        }
        pl
      }
    // Per pass: unfilter (spec §9) IN PLACE — filters operate on BYTES
    // with the pixel stride bpp (a = bpp bytes left, b = same byte one
    // row up WITHIN THE PASS, c = both; 0 off-image / off-pass) — then
    // collapse to luma and scatter into the full raster at the pass's
    // (x0 + x*dx, y0 + y*dy) grid positions.
    val px = new Array[Byte](width * height)
    var passOff = 0
    var pi = 0
    while (pi < passes.length) {
      val (x0, y0, dx, dy) = passes(pi)
      val (pw, ph) = passDims(passes(pi))
      if (pw > 0 && ph > 0) {
        val prb = pw * bpp
        var y = 0
        while (y < ph) {
          val ft = raw(passOff + y * (prb + 1)) & 0xff
          if (ft > 4) return None
          val rowOff = passOff + y * (prb + 1) + 1
          val prevOff = rowOff - (prb + 1)
          var x = 0
          while (x < prb) {
            val rawv = raw(rowOff + x) & 0xff
            val a = if (x >= bpp) raw(rowOff + x - bpp) & 0xff else 0
            val b = if (y > 0) raw(prevOff + x) & 0xff else 0
            val c = if (x >= bpp && y > 0) raw(prevOff + x - bpp) & 0xff else 0
            val v = ft match {
              case 0 => rawv
              case 1 => rawv + a
              case 2 => rawv + b
              case 3 => rawv + (a + b) / 2
              case 4 =>
                val p = a + b - c
                val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
                rawv + (if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c)
            }
            raw(rowOff + x) = v.toByte // mod-256 per spec
            x += 1
          }
          y += 1
        }
        if (colorType == 0 && sampleBytes == 1 && !interlaced) {
          // fast path (the overwhelmingly common crawl case): the
          // scanline IS the luma row, one block copy per row
          y = 0
          while (y < ph) {
            System.arraycopy(raw, passOff + y * (prb + 1) + 1, px, y * width, width)
            y += 1
          }
        } else {
          y = 0
          while (y < ph) {
            val rowOff = passOff + y * (prb + 1) + 1
            val outRow = (y0 + y * dy) * width
            var x = 0
            while (x < pw) {
              val p = rowOff + x * bpp
              val v: Byte = colorType match {
                case 0 | 4 => sample8(p).toByte // gray (alpha skipped)
                case 3 =>
                  val idx = raw(p) & 0xff
                  if (idx >= paletteEntries) return None
                  palLuma(idx)
                case _ => // 2/6: RGB(A), alpha skipped
                  luma(sample8(p), sample8(p + sampleBytes),
                    sample8(p + 2 * sampleBytes))
              }
              px(outRow + x0 + x * dx) = v
              x += 1
            }
            y += 1
          }
        }
        passOff += ph * (prb + 1)
      }
      pi += 1
    }
    Some((PgmImage(width, height, 255, px), i))
  }

  def decodePng(payload: Array[Byte]): Option[PgmImage] =
    decodePngAt(payload, 0).map(_._1)

  /** Serialize as 8-bit grayscale non-interlaced PNG: filter-0
    * scanlines, one IDAT, verified-CRC chunks — pixel-exact round trip
    * through [[decodePng]].
    */
  def encodePng(img: PgmImage): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    bos.write(PngSig, 0, PngSig.length)
    def be(v: Long): Array[Byte] = Array(
      (v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte)
    def chunk(typ: String, data: Array[Byte]): Unit = {
      bos.write(be(data.length.toLong), 0, 4)
      val tb = typ.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      bos.write(tb, 0, 4)
      bos.write(data, 0, data.length)
      val crc = new java.util.zip.CRC32()
      crc.update(tb); crc.update(data)
      bos.write(be(crc.getValue), 0, 4)
    }
    val ihdr = new Array[Byte](13)
    System.arraycopy(be(img.width.toLong), 0, ihdr, 0, 4)
    System.arraycopy(be(img.height.toLong), 0, ihdr, 4, 4)
    ihdr(8) = 8 // bit depth
    // color type 0 (grayscale), compression 0, filter 0, interlace 0
    chunk("IHDR", ihdr)
    val rawLines = new Array[Byte](img.height * (img.width + 1))
    var y = 0
    while (y < img.height) {
      // filter byte 0 then the raw row
      System.arraycopy(img.pixels, y * img.width,
        rawLines, y * (img.width + 1) + 1, img.width)
      y += 1
    }
    // BEST_SPEED: the pixels are already exact (DEFLATE is lossless at
    // every level), so level only trades encode CPU for transfer bytes
    // — and this encoder's hot caller is the per-row synthetic path in
    // the oracled multimodal queries, where encode cost is the bill
    val deflater = new java.util.zip.Deflater(java.util.zip.Deflater.BEST_SPEED)
    val compressed = try {
      deflater.setInput(rawLines); deflater.finish()
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      while (!deflater.finished()) out.write(buf, 0, deflater.deflate(buf))
      out.toByteArray
    } finally deflater.end()
    chunk("IDAT", compressed)
    chunk("IEND", Array.emptyByteArray)
    bos.toByteArray
  }

  /** All frames of a concatenated-PNG container, or Nil if the payload
    * isn't one.
    */
  def decodePngFrames(payload: Array[Byte]): Seq[PgmImage] =
    decodeFramesWith(payload, decodePngAt)

  /** Codec-dispatching single-image decode: PGM, then BMP, then PNG,
    * then baseline-grayscale JPEG (see [[Jpeg]]). The kernels below are
    * format-agnostic past this point.
    */
  def decodeImage(payload: Array[Byte]): Option[PgmImage] =
    decodePgm(payload).orElse(decodeBmp(payload)).orElse(decodePng(payload))
      .orElse(Jpeg.decodeJpeg(payload))

  // ---- WAV (RIFF PCM) codec --------------------------------------------
  // Fourth real format, and the first AUDIO one: canonical RIFF/WAVE
  // container with 16-bit integer PCM — the interchange format every
  // audio toolchain reads and the only one that needs no entropy coder,
  // so it stays zero-third-party like PGM/BMP/PNG. Structure (Microsoft
  // RIFF spec / RFC 2361 WAVE taxonomy): "RIFF" + u32 LE payload size +
  // "WAVE", then chunks of [4CC][u32 LE size][data][pad byte when size
  // is odd]. Supported: format tag 1 (linear PCM), 16 bits/sample,
  // 1..8 channels, "fmt " before "data", unknown chunks (LIST, fact,
  // cue...) skipped per spec. The fmt chunk's redundant fields
  // (blockAlign, byteRate) are VERIFIED against channels/rate — an
  // inconsistent header rejects (stub fallback) instead of decoding
  // misaligned samples.

  /** Interleaved 16-bit PCM: `samples.length = frames * channels`,
    * channel-major within a frame (the WAV interleave order).
    */
  case class PcmAudio(sampleRate: Int, channels: Int, samples: Array[Short]) {
    def frames: Int = samples.length / channels
    /** Whole milliseconds of audio (integer floor — replayable in SQL). */
    def durationMs: Long = frames.toLong * 1000L / sampleRate
  }

  /** Parse one WAV starting at `offset`; returns the audio and the
    * offset just past the RIFF chunk (including its pad byte), or None
    * if the bytes are not a well-formed 16-bit PCM WAV.
    */
  def decodeWavAt(payload: Array[Byte], offset: Int): Option[(PcmAudio, Int)] = {
    val o = offset
    if (o + 12 > payload.length || payload(o) != 'R' || payload(o + 1) != 'I' ||
        payload(o + 2) != 'F' || payload(o + 3) != 'F' ||
        payload(o + 8) != 'W' || payload(o + 9) != 'A' ||
        payload(o + 10) != 'V' || payload(o + 11) != 'E')
      return None
    val riffSize = u32(payload, o + 4)
    // long arithmetic: a hostile size must not overflow the bound check
    val end = o + 8L + riffSize
    if (riffSize < 4 || end > payload.length) return None
    var i = o + 12L
    var rate = 0
    var channels = 0
    var dataOff = -1L
    var dataLen = 0L
    while (i + 8 <= end && dataOff < 0) {
      val size = u32(payload, (i + 4).toInt)
      val body = i + 8
      if (body + size > end) return None
      val tag = new String(payload, i.toInt, 4,
        java.nio.charset.StandardCharsets.US_ASCII)
      tag match {
        case "fmt " =>
          if (size < 16 || channels != 0) return None // duplicate fmt rejects
          val b = body.toInt
          val fmtTag = u16(payload, b)
          channels = u16(payload, b + 2)
          rate = u32(payload, b + 4).toInt
          val byteRate = u32(payload, b + 8)
          val blockAlign = u16(payload, b + 12)
          val bits = u16(payload, b + 14)
          if (fmtTag != 1 || bits != 16 || channels < 1 || channels > 8 ||
              rate <= 0 || blockAlign != channels * 2 ||
              byteRate != rate.toLong * blockAlign) return None
        case "data" =>
          if (channels == 0) return None // fmt must precede data
          dataOff = body; dataLen = size
        case _ => () // ancillary chunk: skip
      }
      i = body + size + (size & 1) // chunks are even-aligned
    }
    if (dataOff < 0) return None
    // data must hold whole frames; total samples must fit one array
    if (dataLen % (channels * 2) != 0 || dataLen / 2 > Int.MaxValue) return None
    val n = (dataLen / 2).toInt
    val samples = new Array[Short](n)
    var s = 0
    while (s < n) {
      samples(s) = u16(payload, (dataOff + s * 2L).toInt).toShort
      s += 1
    }
    // An odd riffSize is even-padded by the spec, but an unpadded file at
    // the tail of a concatenated payload is still decodable — only consume
    // the pad byte when it actually exists.
    val next = end + (riffSize & 1)
    Some((PcmAudio(rate, channels, samples),
      math.min(next, payload.length.toLong).toInt))
  }

  def decodeWav(payload: Array[Byte]): Option[PcmAudio] =
    decodeWavAt(payload, 0).map(_._1)

  /** Serialize as the canonical 44-byte-header WAV (fmt 16 + data) —
    * sample-exact round trip through [[decodeWav]].
    */
  def encodeWav(a: PcmAudio): Array[Byte] = {
    val dataLen = a.samples.length * 2
    val out = new Array[Byte](44 + dataLen + (dataLen & 1))
    def put4(i: Int, s: String): Unit = { var k = 0; while (k < 4) { out(i + k) = s.charAt(k).toByte; k += 1 } }
    def putU16(i: Int, v: Int): Unit = { out(i) = v.toByte; out(i + 1) = (v >> 8).toByte }
    def putU32(i: Int, v: Long): Unit = {
      out(i) = v.toByte; out(i + 1) = (v >> 8).toByte
      out(i + 2) = (v >> 16).toByte; out(i + 3) = (v >> 24).toByte
    }
    put4(0, "RIFF"); putU32(4, 36L + dataLen + (dataLen & 1)); put4(8, "WAVE")
    put4(12, "fmt "); putU32(16, 16L)
    putU16(20, 1); putU16(22, a.channels); putU32(24, a.sampleRate.toLong)
    putU32(28, a.sampleRate.toLong * a.channels * 2) // byte rate
    putU16(32, a.channels * 2); putU16(34, 16) // block align, bits
    put4(36, "data"); putU32(40, dataLen.toLong)
    var s = 0
    while (s < a.samples.length) {
      out(44 + s * 2) = a.samples(s).toByte
      out(44 + s * 2 + 1) = (a.samples(s) >> 8).toByte
      s += 1
    }
    out
  }

  /** Nearest-neighbor sample-rate conversion on real samples — the
    * audio analog of [[resizePgm]]: frame f of the output copies frame
    * floor(f * inFrames / outFrames) of the input, all channels moving
    * together so interleave never skews.
    */
  def resampleWav(a: PcmAudio, newRate: Int): PcmAudio = {
    require(newRate > 0, s"sample rate must be positive, got $newRate")
    if (newRate == a.sampleRate || a.frames == 0)
      return PcmAudio(newRate, a.channels, a.samples.clone())
    // Long arithmetic end to end: upsampling a large decodable clip can
    // push frames*newRate/sampleRate (and outFrames*channels) past
    // Int.MaxValue, which would otherwise wrap into a 1-frame output or
    // a NegativeArraySizeException.
    val outFramesL = math.max(1L, a.frames.toLong * newRate / a.sampleRate)
    require(outFramesL * a.channels <= Int.MaxValue,
      s"resampled audio too large: $outFramesL frames x ${a.channels} channels")
    val outFrames = outFramesL.toInt
    val out = new Array[Short](outFrames * a.channels)
    var f = 0
    while (f < outFrames) {
      val src = (f.toLong * a.frames / outFrames).toInt
      var c = 0
      while (c < a.channels) {
        out(f * a.channels + c) = a.samples(src * a.channels + c)
        c += 1
      }
      f += 1
    }
    PcmAudio(newRate, a.channels, out)
  }

  /** All clips of a concatenated-WAV container, or Nil if the payload
    * isn't one.
    */
  def decodeWavFrames(payload: Array[Byte]): Seq[PcmAudio] =
    decodeFramesWith(payload, decodeWavAt)

  /** Deterministic concatenated-WAV container for a document row — the
    * audio twin of [[syntheticPgmContainer]]. Clip parameters (rate,
    * channel count, frames per clip, clip count) derive from the doc's
    * content hash / byte length by arithmetic the `multimodal_audio`
    * DuckDB oracle replays; samples are filled from the hash bytes. The
    * oracled query ENCODES with this and reports what
    * [[decodeWavFrames]] reads back, so the hash gate fails on any
    * chunk-walk, fmt-validation, or clip-boundary misparse.
    */
  /** Deterministic mono WAV with REAL leading/trailing silence for the
    * trim operator: lead/tail silent sample counts derive from hash
    * chars 3 and 4 ((ascii % 4) * 16 — whole 16-sample windows), the
    * loud middle's samples are guaranteed |amp| >= 1024 (alternating
    * sign), frames = 256 + (ascii(char 2) % 8) * 32. The arithmetic is
    * exactly what the `multimodal_audio_trim` DuckDB oracle replays;
    * bytes go through the REAL encoder so the consumer exercises the
    * codec path.
    */
  def syntheticWavWithSilence(contentHash: String): Array[Byte] = {
    val frames = 256 + (contentHash.charAt(1).toInt % 8) * 32
    val lead = (contentHash.charAt(2).toInt % 4) * 16
    val tail = (contentHash.charAt(3).toInt % 4) * 16
    val samples = new Array[Short](frames)
    var i = lead
    while (i < frames - tail) {
      val mag = 1024 + (contentHash.charAt(i % contentHash.length).toInt * 131 + i * 7) % 20000
      samples(i) = (if (i % 2 == 0) mag else -mag).toShort
      i += 1
    }
    encodeWav(PcmAudio(8000, 1, samples))
  }

  /** Cut the maximal leading and trailing runs of `window`-sample
    * windows whose peak |amplitude| is below `threshold` — the
    * standard silence-trim pass an audio-dataset curation pipeline
    * runs before feature extraction (dead air carries no training
    * signal but costs storage and compute). Window-aligned: a partial
    * final window is trimmed only if IT also stays under the
    * threshold. Returns (leadSamplesCut, tailSamplesCut, kept).
    */
  def trimSilence(a: PcmAudio, window: Int = 16, threshold: Int = 1024): (Int, Int, PcmAudio) = {
    val n = a.samples.length
    def windowLoud(start: Int): Boolean = {
      var i = start; val end = math.min(start + window, n); var loud = false
      while (i < end && !loud) {
        if (math.abs(a.samples(i).toInt) >= threshold) loud = true
        i += 1
      }
      loud
    }
    var lead = 0
    while (lead < n && !windowLoud(lead)) lead += window
    lead = math.min(lead, n)
    // tail windows sit on the SAME start-aligned grid as the lead scan
    // (k * window boundaries), so the final — possibly partial —
    // window is judged as one unit
    var tailStart = n
    var b = if (n == 0) 0 else ((n - 1) / window) * window
    while (b >= lead && tailStart > lead && !windowLoud(b)) {
      tailStart = b
      b -= window
    }
    val kept = java.util.Arrays.copyOfRange(a.samples, lead, tailStart)
    (lead, n - tailStart, PcmAudio(a.sampleRate, a.channels, kept))
  }

  def syntheticWavContainer(contentHash: String, nBytes: Long): Array[Byte] = {
    val rate = 8000 * (1 + contentHash.charAt(0).toInt % 3) // 8/16/24 kHz
    val channels = 1 + (nBytes % 2).toInt
    val framesPerClip = 200 + (contentHash.charAt(1).toInt % 16) * 25
    val nClips = (nBytes % 5 + 1).toInt
    val samples = new Array[Short](framesPerClip * channels)
    var i = 0
    while (i < samples.length) {
      // spread hash chars across the full 16-bit range, sign included
      samples(i) =
        ((contentHash.charAt(i % contentHash.length).toInt * 1009 + i * 131) % 65536 - 32768).toShort
      i += 1
    }
    val one = encodeWav(PcmAudio(rate, channels, samples))
    val out = new Array[Byte](one.length * nClips)
    var c = 0
    while (c < nClips) { System.arraycopy(one, 0, out, c * one.length, one.length); c += 1 }
    out
  }

  /** Deterministic multi-frame P5 container for a document row — the
    * zero-egress stand-in for a real media column. Frame dimensions and
    * frame count derive from the doc's content hash / byte length by
    * the SAME arithmetic the `multimodal_features` DuckDB oracle
    * replays (width/height from the first two md5 hex chars, frames
    * from length mod 7); pixels are filled from the hash bytes. The
    * oracled query ENCODES with this and reports what
    * [[decodePgmFrames]] reads back, so the hash gate exercises the
    * real decoder, not the construction arithmetic.
    */
  /** Family-structured synthetic WAV for the audio-fingerprint dedup
    * query — the audio twin of [[syntheticFamilyPng]]: docs sharing
    * `baseHash` get the same mono 16-bit PCM signal (8 kHz, 64..176
    * frames from the first base-hash char, samples from the hash
    * bytes), and each doc perturbs ONE sample from its own `pertHash`
    * — re-encoded audio with a click, the near-dup case. Construction
    * arithmetic is exactly what the DuckDB oracle replays; bytes go
    * through the REAL WAV encoder so the consuming query exercises the
    * codec path.
    */
  def syntheticFamilyWav(baseHash: String, pertHash: String): Array[Byte] = {
    val n = 64 + (baseHash.charAt(0).toInt % 8) * 16
    val samples = new Array[Short](n)
    var i = 0
    while (i < n) {
      samples(i) = ((baseHash.charAt(i % baseHash.length).toInt - 80) * 256).toShort
      i += 1
    }
    val ppos = (pertHash.charAt(0).toInt * 31 + pertHash.charAt(1).toInt) % n
    samples(ppos) = ((pertHash.charAt(2).toInt - 80) * 256).toShort
    encodeWav(PcmAudio(8000, 1, samples))
  }

  /** 64-bit energy-envelope difference hash for audio — the acoustic
    * analog of [[dhashBands]] (and the same shape chromaprint-style
    * fingerprints reduce to: coarse spectral/energy envelope, one bit
    * per adjacent-frame comparison): the signal is cut into 65
    * windows (`window(i) = i*65/n` — integer, resolution-tolerant the
    * same way the dHash grid is), each window's energy is the exact
    * integer sum of |sample|, and bit w says whether window w out-
    * powers window w+1 in MEAN energy. The mean matters: `i*65/n`
    * yields windows of floor/ceil(n/65) samples in a fixed pattern per
    * n, and comparing raw sums makes that size pattern — identical
    * for every equal-length signal — dominate the bits (measured: the
    * sum variant collapsed a 5000-doc corpus into ~500-member
    * 0x5555-band buckets). Mean comparison stays in exact integer
    * algebra by cross-multiplying: `e(w)*cnt(w+1) > e(w+1)*cnt(w)` —
    * no division, so the DuckDB oracle replays it bit-for-bit. Four
    * 16-bit bands double as the LSH bucket keys of the consuming
    * near-dup join.
    */
  def audioFingerprintBands(a: PcmAudio): Array[Int] = {
    val n = a.samples.length
    val e = new Array[Long](65)
    val cnt = new Array[Long](65)
    var i = 0
    while (i < n) {
      val w = (i.toLong * 65 / n).toInt
      e(w) += math.abs(a.samples(i).toInt)
      cnt(w) += 1
      i += 1
    }
    val bands = new Array[Int](4)
    var w = 0
    while (w < 64) {
      if (e(w) * cnt(w + 1) > e(w + 1) * cnt(w)) bands(w / 16) |= 1 << (w % 16)
      w += 1
    }
    bands
  }

  /** Family-structured synthetic WAV for the SHIFT-TOLERANT audio
    * near-dup query (`dedup_audio_shingle`) — the time-offset re-upload
    * case the global-envelope fingerprint is structurally blind to:
    * docs sharing `baseHash` get the same mono PCM signal (1280..2176
    * samples, fill `(c[(k%32)] * (k*13+7)) % 4093 - 2046`: the hash
    * char MULTIPLIES the position term so different families'
    * sequences decorrelate — an ADDITIVE position term is shared
    * across every doc and measured as the dominant signal (max
    * (value)-bucket 884 at sf0.1, past the 512 cap); the modulus is
    * PRIME because a power-of-two modulus leaks gcd structure from
    * even chars — and each doc carries a one-sample click
    * from its own `pertHash`, AND each doc is prefixed by 0..3
    * shingle-window-aligned windows of doc-unique noise (`pertHash`
    * char 4) — a clip that starts up to 24 samples later. All lengths
    * are multiples of the window size, so the base signal's windows
    * stay aligned after the prefix and its shingles survive the shift.
    * Construction arithmetic is exactly what the DuckDB oracle
    * replays; bytes go through the REAL WAV encoder.
    */
  def syntheticFamilyWavShifted(baseHash: String, pertHash: String): Array[Byte] = {
    val n = 1280 + (baseHash.charAt(0).toInt % 8) * 128
    val off = (pertHash.charAt(3).toInt % 4) * ShingleWindow
    val ppos = (pertHash.charAt(0).toInt * 31 + pertHash.charAt(1).toInt) % n
    val samples = new Array[Short](off + n)
    var i = 0
    while (i < off) {
      samples(i) = ((pertHash.charAt(i % 32).toInt * (i * 13 + 7)) % 4093 - 2046).toShort
      i += 1
    }
    var k = 0
    while (k < n) {
      samples(off + k) =
        if (k == ppos) ((pertHash.charAt(2).toInt * (k * 13 + 7)) % 4093 - 2046).toShort
        else ((baseHash.charAt(k % 32).toInt * (k * 13 + 7)) % 4093 - 2046).toShort
      k += 1
    }
    encodeWav(PcmAudio(8000, 1, samples))
  }

  /** Fixed-size analysis window (samples) and bits per shingle for the
    * shift-tolerant audio fingerprint. The windows are FIXED-size
    * (unlike [[audioFingerprintBands]]' 65-way split of the whole
    * clip), which is the property that buys shift tolerance: a clip
    * offset by a whole number of windows produces the same window
    * energies at shifted indices, and shingle VALUES — not positions —
    * are the LSH keys.
    */
  val ShingleWindow = 8
  val ShingleBits = 32

  /** Overlapping energy-envelope sub-fingerprints (shingles) — the
    * chromaprint-style answer to time offsets: cut the signal into
    * fixed [[ShingleWindow]]-sample windows (trailing partial window
    * dropped), compare adjacent windows' exact integer |sample| sums
    * (equal-size windows, so plain sums — no size-pattern bias to
    * cross-multiply away), and pack every run of [[ShingleBits]]
    * consecutive comparison bits into one 32-bit value, sliding one
    * window at a time. A clip offset by k whole windows emits the
    * same values k positions later — the consuming query buckets on
    * VALUE only, so the offset is invisible. All integer algebra,
    * replayed bit-for-bit by the DuckDB oracle; values are returned as
    * unsigned-range Longs (bit 31 set would flip an Int negative and
    * diverge from the oracle's BIGINT shift sum).
    */
  def audioShingleValues(a: PcmAudio): Array[Long] = {
    val nw = a.samples.length / ShingleWindow
    if (nw < ShingleBits + 1) return Array.empty
    val e = new Array[Long](nw)
    var i = 0
    while (i < nw * ShingleWindow) {
      e(i / ShingleWindow) += math.abs(a.samples(i).toInt)
      i += 1
    }
    val nBits = nw - 1
    val out = new Array[Long](nBits - ShingleBits + 1)
    var j = 0
    while (j < out.length) {
      var v = 0L
      var k = 0
      while (k < ShingleBits) {
        if (e(j + k) > e(j + k + 1)) v |= 1L << k
        k += 1
      }
      out(j) = v
      j += 1
    }
    out
  }

  /** Family-structured synthetic image for the perceptual-hash dedup
    * query: all docs sharing `baseHash` (one hash per FAMILY) get the
    * same base raster, and each doc perturbs ONE pixel from its own
    * `pertHash` — the image analog of near-duplicate crawl assets
    * (same photo, one watermark/EXIF byte different). Construction
    * arithmetic (dims from the first two base-hash chars, fill from
    * the base-hash bytes, perturbation position/value from the first
    * three pert-hash chars) is exactly what the DuckDB oracle replays;
    * the bytes go through the REAL PNG encoder so the consuming query
    * exercises the codec path, not the arithmetic.
    */
  def syntheticFamilyPng(baseHash: String, pertHash: String): Array[Byte] = {
    val w = 16 + (baseHash.charAt(0).toInt % 8) * 4
    val h = 16 + (baseHash.charAt(1).toInt % 8) * 4
    val px = new Array[Byte](w * h)
    var i = 0
    while (i < px.length) { px(i) = baseHash.charAt(i % baseHash.length).toByte; i += 1 }
    val ppos = (pertHash.charAt(0).toInt * 31 + pertHash.charAt(1).toInt) % (w * h)
    px(ppos) = pertHash.charAt(2).toInt.toByte
    encodePng(PgmImage(w, h, 255, px))
  }

  /** 64-bit difference hash (dHash — the classic perceptual image
    * fingerprint: sample a 9x8 brightness grid, emit one bit per
    * horizontally-adjacent pair) returned as FOUR 16-bit band values
    * rather than one packed long. Two reasons: the bands ARE the LSH
    * bucket keys of the consuming near-dup join (pigeonhole: hamming
    * <= 6 over 64 bits forces at least one of four 16-bit bands equal),
    * and 16-bit values keep every engine's integer arithmetic far from
    * the sign bit, so the DuckDB oracle replays bit-for-bit with plain
    * `<<`/`xor`/`bit_count`. Grid sampling is integer-floor
    * (`gy*h/8`, `gx*w/9`) — cheap, deterministic, and resolution-
    * tolerant, which is the property that makes dHash a NEAR-dup
    * fingerprint rather than an exact one.
    */
  def dhashBands(img: PgmImage): Array[Int] = {
    val bands = new Array[Int](4)
    var gy = 0
    while (gy < 8) {
      val sy = gy * img.height / 8
      var gx = 0
      while (gx < 8) {
        val l = img.pixels(sy * img.width + gx * img.width / 9) & 0xff
        val r = img.pixels(sy * img.width + (gx + 1) * img.width / 9) & 0xff
        if (l > r) bands(gy / 2) |= 1 << ((gy % 2) * 8 + gx)
        gx += 1
      }
      gy += 1
    }
    bands
  }
  /** One (id, frame index, dHash bands 0..3) row per frame of a video. */
  def frameDhashRows(id: Long, frames: IndexedSeq[PgmImage]): Iterator[(Long, Int, Int, Int, Int, Int)] =
    frames.iterator.zipWithIndex.map { case (fr, f) =>
      val b = dhashBands(fr)
      (id, f, b(0), b(1), b(2), b(3))
    }


  def syntheticPgmContainer(contentHash: String, nBytes: Long): Array[Byte] = {
    // dims kept small (16..44 px): decoder correctness is independent
    // of raster size, and the oracled query re-encodes the whole corpus
    // per run — pixels beyond what exercises the parser are pure cost
    val w = 16 + (contentHash.charAt(0).toInt % 8) * 4
    val h = 16 + (contentHash.charAt(1).toInt % 8) * 4
    val nFrames = (nBytes % 7 + 1).toInt
    val px = new Array[Byte](w * h)
    var i = 0
    while (i < px.length) {
      px(i) = contentHash.charAt(i % contentHash.length).toByte; i += 1
    }
    val one = encodePgm(PgmImage(w, h, 255, px))
    val out = new Array[Byte](one.length * nFrames)
    var f = 0
    while (f < nFrames) { System.arraycopy(one, 0, out, f * one.length, one.length); f += 1 }
    out
  }

  case class Asset(asset_id: Long, modality: String, payload: Array[Byte],
      source: String)
  case class AssetFeatures(asset_id: Long, modality: String, n_bytes: Long,
      bucket: Int, features: Array[Float])

  val FeatureDim = 16

  /** STUB decoder for non-PGM payloads: a real build plugs the lossy
    * image/audio codec in here; the contract (bytes in, fixed-width
    * float features out, pure, batched per partition) is what the
    * pipeline depends on. Current impl: a 16-bin byte histogram
    * normalized by length — deterministic and fast, so the plumbing is
    * testable.
    */
  def decodeStub(payload: Array[Byte]): Array[Float] = {
    val hist = new Array[Float](FeatureDim)
    var i = 0
    while (i < payload.length) { hist((payload(i) & 0xff) % FeatureDim) += 1f; i += 1 }
    if (payload.length > 0) {
      var j = 0
      while (j < FeatureDim) { hist(j) /= payload.length.toFloat; j += 1 }
    }
    hist
  }

  /** REAL decode when the payload is a P5, BMP, or PNG image: 16-bin
    * luminance histogram over the decoded PIXELS (bin = 16 * value /
    * (maxval+1)), normalized by pixel count — header bytes never
    * pollute the features. A Y4M video gets the same histogram over
    * ALL frames' luma pixels; a WAV payload gets the audio analog: a
    * 16-bin amplitude histogram over the decoded SAMPLES (bin =
    * 16 * (sample + 32768) / 65536), normalized by sample count. Falls
    * back to [[decodeStub]] for anything else.
    */
  def decodeFeatures(payload: Array[Byte]): Array[Float] =
    decodeImage(payload) match {
      case Some(img) =>
        val hist = new Array[Float](FeatureDim)
        var i = 0
        while (i < img.pixels.length) {
          // min-clamp: a malformed raster byte above maxval must not
          // index past the last bin
          hist(math.min(FeatureDim - 1,
            ((img.pixels(i) & 0xff) * FeatureDim) / (img.maxVal + 1))) += 1f
          i += 1
        }
        if (img.pixels.length > 0) {
          var j = 0
          while (j < FeatureDim) { hist(j) /= img.pixels.length.toFloat; j += 1 }
        }
        hist
      case None => Y4m.decodeY4m(payload).filter(_.frames.nonEmpty) match {
        case Some(v) =>
          val hist = new Array[Float](FeatureDim)
          var n = 0L
          v.frames.foreach { f =>
            var i = 0
            while (i < f.pixels.length) {
              hist(((f.pixels(i) & 0xff) * FeatureDim) / 256) += 1f
              i += 1
            }
            n += f.pixels.length
          }
          var j = 0
          while (j < FeatureDim) { hist(j) /= n.toFloat; j += 1 }
          hist
        case None => decodeWav(payload) match {
        case Some(a) =>
          val hist = new Array[Float](FeatureDim)
          var i = 0
          while (i < a.samples.length) {
            hist(((a.samples(i) + 32768) * FeatureDim) >>> 16) += 1f
            i += 1
          }
          if (a.samples.length > 0) {
            var j = 0
            while (j < FeatureDim) { hist(j) /= a.samples.length.toFloat; j += 1 }
          }
            hist
          case None => decodeStub(payload)
        }
      }
    }

  /** Documents table -> binary assets (text bytes as the opaque payload;
    * stands in for a real media table with identical plumbing).
    */
  def assetsFromDocuments(spark: SparkSession, dir: String): Dataset[Asset] = {
    import spark.implicits._
    graft.Tables.documents(spark, dir)
      .select(col("doc_id").as("asset_id"), lit("text").as("modality"),
        col("text").cast("binary").as("payload"), col("source"))
      .as[Asset]
  }

  /** Bucket by content hash (not by id — id ranges skew under append
    * workloads; content hash is uniform) then decode partition-batched.
    */
  def extractFeatures(assets: Dataset[Asset], buckets: Int): Dataset[AssetFeatures] = {
    import assets.sparkSession.implicits._
    assets
      .withColumn("bucket", pmod(xxhash64(col("payload")), lit(buckets)).cast("int"))
      .repartition(col("bucket"))
      .as[(Long, String, Array[Byte], String, Int)]
      .mapPartitions { it =>
        // per-partition setup happens HERE (decoder/codec init once):
        it.map { case (id, modality, payload, _, bucket) =>
          AssetFeatures(id, modality, payload.length.toLong, bucket,
            decodeFeatures(payload))
        }
      }
  }

  /** DataFrame facade used by the query surface. */
  def features(spark: SparkSession, dir: String, buckets: Int = 32): DataFrame =
    extractFeatures(assetsFromDocuments(spark, dir), buckets).toDF()

  // ---- Resize / frame-sample plumbing ---------------------------------

  case class ResizedAsset(asset_id: Long, modality: String, width: Int,
      height: Int, payload: Array[Byte])
  case class Frame(asset_id: Long, frame_idx: Int, n_frames_total: Int,
      frame: Array[Byte])

  /** Resize kernel: REAL nearest-neighbor pixel resample for P5, BMP,
    * and PNG payloads — output re-encoded in the INPUT's format (a
    * .bmp in is a .bmp out), so a mixed-format asset column keeps
    * per-row format stability through the pipeline. Byte-stride
    * stand-in for payloads no shipped parser covers. Pure
    * bytes-in/bytes-out on every path.
    */
  def resizeKernel(payload: Array[Byte], w: Int, h: Int): Array[Byte] =
    decodePgm(payload) match {
      case Some(img) => encodePgm(resizePgm(img, w, h))
      case None => decodeBmp(payload) match {
        case Some(img) => encodeBmp(resizePgm(img, w, h))
        case None => decodePng(payload) match {
          case Some(img) => encodePng(resizePgm(img, w, h))
          case None => Jpeg.decodeJpeg(payload) match {
            case Some(img) => Jpeg.encodeJpeg(resizePgm(img, w, h))
            case None => Y4m.decodeY4m(payload) match {
              case Some(v) =>
                // odd target dims can't carry a subsampled chroma tag;
                // fall back to 4:4:4 (always legal) instead of throwing
                // inside an executor — kernel stays pure bytes->bytes
                val chroma =
                  if (v.chroma != "mono" && (w % 2 != 0 || h % 2 != 0)) "444"
                  else v.chroma
                Y4m.encodeY4m(v.copy(width = w, height = h, chroma = chroma,
                  frames = v.frames.map(f => resizePgm(f, w, h))))
              case None => resizeStub(payload, w, h)
            }
          }
        }
      }
    }

  /** STUB resize for non-PGM payloads: deterministic byte-stride
    * downsample to exactly w*h bytes (a real build calls the lossy
    * codec here).
    */
  def resizeStub(payload: Array[Byte], w: Int, h: Int): Array[Byte] = {
    val out = new Array[Byte](w * h)
    if (payload.nonEmpty) {
      var i = 0
      while (i < out.length) {
        out(i) = payload((i.toLong * payload.length / out.length).toInt)
        i += 1
      }
    }
    out
  }

  /** Partition-batched resize: one kernel/codec instantiation per
    * partition, payload-to-payload, metadata typed alongside. Output
    * payloads are fixed-size, so downstream batch shapes are uniform —
    * exactly what a training loader wants.
    */
  def resize(assets: Dataset[Asset], w: Int, h: Int): Dataset[ResizedAsset] = {
    // driver-side validation: fail at plan build, not as a bare
    // ArithmeticException inside a distributed task
    require(w > 0 && h > 0 && w.toLong * h <= Int.MaxValue,
      s"resize dims must be positive and w*h must fit an Int, got ${w}x$h")
    import assets.sparkSession.implicits._
    assets.mapPartitions { it =>
      // codec init would happen here, once per partition
      it.map(a => ResizedAsset(a.asset_id, a.modality, w, h,
        resizeKernel(a.payload, w, h)))
    }
  }

  case class ResampledAsset(asset_id: Long, modality: String, sample_rate: Int,
      n_frames: Int, payload: Array[Byte])

  /** Partition-batched sample-rate conversion — the audio twin of
    * [[resize]]: WAV payloads are decoded, nearest-neighbor resampled
    * to `rate`, and re-encoded; anything else passes through with
    * `n_frames = -1` so a mixed-modality asset column never loses rows
    * (filter on `n_frames >= 0` for the audio subset).
    */
  def resample(assets: Dataset[Asset], rate: Int): Dataset[ResampledAsset] = {
    require(rate > 0, s"sample rate must be positive, got $rate")
    import assets.sparkSession.implicits._
    assets.mapPartitions { it =>
      // codec init would happen here, once per partition
      it.map { a =>
        decodeWav(a.payload) match {
          case Some(audio) =>
            val r = resampleWav(audio, rate)
            ResampledAsset(a.asset_id, a.modality, rate, r.frames, encodeWav(r))
          case None =>
            ResampledAsset(a.asset_id, a.modality, rate, -1, a.payload)
        }
      }
    }
  }

  /** Frame sampling: split the payload into frames, keep every
    * `stride`-th — ONE asset row fans out to N frame rows (flatMap, the
    * Spark shape of a video frame sampler). A concatenated-PGM
    * container splits at REAL image boundaries (each emitted frame is
    * one complete re-encoded P5 image); any other payload falls back to
    * fixed `frameBytes` chunks. Frame index and total ride along so
    * downstream ops can reconstruct order without re-reading the
    * source.
    */
  def sampleFrames(assets: Dataset[Asset], frameBytes: Int,
      stride: Int): Dataset[Frame] = {
    require(frameBytes > 0, s"frameBytes must be positive, got $frameBytes")
    require(stride > 0, s"stride must be positive, got $stride")
    import assets.sparkSession.implicits._
    assets.flatMap { a =>
      val pgmFrames = decodePgmFrames(a.payload)
      val frames =
        if (pgmFrames.nonEmpty) pgmFrames.map(encodePgm).toArray
        else {
          val bmpFrames = decodeBmpFrames(a.payload)
          if (bmpFrames.nonEmpty) bmpFrames.map(encodeBmp).toArray
          else {
            val pngFrames = decodePngFrames(a.payload)
            if (pngFrames.nonEmpty) pngFrames.map(encodePng).toArray
            else {
              val wavClips = decodeWavFrames(a.payload)
              if (wavClips.nonEmpty) wavClips.map(encodeWav).toArray
              else {
                val jpegFrames = Jpeg.decodeJpegFrames(a.payload)
                if (jpegFrames.nonEmpty) jpegFrames.map(Jpeg.encodeJpeg).toArray
                else Y4m.decodeY4m(a.payload).filter(_.frames.nonEmpty) match {
                  // a VIDEO splits at its own FRAME boundaries — each
                  // emitted frame is a complete single-frame .y4m
                  // (format stability, like every codec branch above)
                  case Some(v) => v.frames.map(f =>
                    Y4m.encodeY4m(v.copy(frames = Vector(f)))).toArray
                  case None => a.payload.grouped(frameBytes).toArray
                }
              }
            }
          }
        }
      frames.indices.collect {
        case i if i % stride == 0 => Frame(a.asset_id, i, frames.length, frames(i))
      }
    }
  }
}
