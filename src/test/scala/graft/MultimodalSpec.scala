package graft

import org.apache.spark.sql.functions._
import graft.operators.{Jpeg, JpegProgressive, Multimodal}

/** Multimodal: the Spark plumbing (schema, bucketed partitioning,
  * batch shape, determinism) plus the five real codecs — PGM, BMP,
  * PNG, baseline-grayscale JPEG, and 16-bit PCM WAV; everything else
  * must reject cleanly to the documented stub path.
  */
class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("feature extraction: fixed width, normalized, deterministic") {
    val f1 = Multimodal.features(spark, sf0001, buckets = 8)
    val f2 = Multimodal.features(spark, sf0001, buckets = 8)
    val rows = f1.orderBy("asset_id").collect()
    assert(rows.length === 500)
    assert(rows.forall(_.getAs[scala.collection.Seq[Float]]("features").length === Multimodal.FeatureDim))
    // histogram of a non-empty payload sums to ~1
    val sums = f1.select(aggregate(col("features"),
      lit(0.0f), (a, x) => a + x).as("s")).as[Float].collect()
    assert(sums.forall(s => math.abs(s - 1.0f) < 1e-3))
    // deterministic across runs
    assert(f1.orderBy("asset_id").collect().map(_.getAs[scala.collection.Seq[Float]]("features"))
      .sameElements(f2.orderBy("asset_id").collect().map(_.getAs[scala.collection.Seq[Float]]("features"))))
  }

  test("bucketing spreads assets across partitions by content hash") {
    val f = Multimodal.features(spark, sf0001, buckets = 8)
    val perBucket = f.groupBy("bucket").count().as[(Int, Long)].collect().toMap
    assert(perBucket.keys.forall(b => b >= 0 && b < 8))
    assert(perBucket.size === 8) // all buckets populated at 500 assets
    assert(perBucket.values.max < 500) // no single-bucket collapse
  }

  test("decode stub: empty payload yields zero vector, not NaN") {
    val z = Multimodal.decodeStub(Array.emptyByteArray)
    assert(z.forall(_ == 0f) && z.length === Multimodal.FeatureDim)
  }

  test("resize: fixed output size, typed dims, deterministic") {
    val assets = Multimodal.assetsFromDocuments(spark, sf0001).limit(50)
    val resized = Multimodal.resize(assets, w = 8, h = 4).collect()
    assert(resized.length === 50)
    assert(resized.forall(r => r.payload.length === 32 && r.width === 8 && r.height === 4))
    val again = Multimodal.resize(assets, w = 8, h = 4).collect()
    assert(resized.map(_.payload.toSeq).toSeq === again.map(_.payload.toSeq).toSeq)
  }

  test("PGM codec: encode/decode round-trip with known pixels; quirky headers parse") {
    val img = Multimodal.PgmImage(4, 2, 255,
      Array[Byte](0, 10, 20, 30, 40, 50, 60, 70))
    val back = Multimodal.decodePgm(Multimodal.encodePgm(img)).get
    assert(back.width === 4 && back.height === 2 && back.maxVal === 255)
    assert(back.pixels.toSeq === img.pixels.toSeq)
    assert(back.pixel(2, 1) === 60)
    // comment- and whitespace-tolerant header per the netpbm spec
    val quirky = "P5 # a comment\n 2 1\n255\n".getBytes("US-ASCII") ++ Array[Byte](7, 9)
    val q = Multimodal.decodePgm(quirky).get
    assert(q.width === 2 && q.height === 1 && q.pixels.toSeq === Seq[Byte](7, 9))
    // truncated raster / non-PGM bytes are rejected, not mangled
    assert(Multimodal.decodePgm("P5\n3 3\n255\nxy".getBytes("US-ASCII")).isEmpty)
    assert(Multimodal.decodePgm("hello world".getBytes("US-ASCII")).isEmpty)
    // a CRLF separator (Windows writers) is consumed as a pair — the
    // raster must come back unshifted, not starting at the '\n'
    val crlf = "P5\r\n2 1\r\n255\r\n".getBytes("US-ASCII") ++ Array[Byte](7, 9)
    val c = Multimodal.decodePgm(crlf).get
    assert(c.width === 2 && c.pixels.toSeq === Seq[Byte](7, 9))
    // junk header/raster separator -> reject (stub fallback), never a
    // one-byte-shifted raster; digits glued to the magic are not a width
    assert(Multimodal.decodePgm(
      "P5\n2 1\n255X".getBytes("US-ASCII") ++ Array[Byte](7, 9, 0)).isEmpty)
    assert(Multimodal.decodePgm(
      "P512 1\n255\n".getBytes("US-ASCII") ++ Array.fill[Byte](12)(1)).isEmpty)
  }

  test("PGM resize operates on real pixels end-to-end through the Dataset op") {
    // 4x4 gradient 0..15; nearest-neighbor to 2x2 keeps rows 0,2 and
    // cols 0,2 -> exactly pixels 0, 2, 8, 10
    val src = Multimodal.PgmImage(4, 4, 255, Array.tabulate(16)(_.toByte))
    val assets = Seq(Multimodal.Asset(1L, "image",
      Multimodal.encodePgm(src), "s")).toDS()
    val out = Multimodal.resize(assets, w = 2, h = 2).collect().head
    val outImg = Multimodal.decodePgm(out.payload).get
    assert(outImg.width === 2 && outImg.height === 2)
    assert(outImg.pixels.toSeq === Seq[Byte](0, 2, 8, 10))
  }

  test("PGM features: luminance histogram over pixels, not header bytes") {
    val img = Multimodal.PgmImage(2, 2, 255, Array[Byte](0, 0, -1, -1)) // 0,0,255,255
    val f = Multimodal.decodeFeatures(Multimodal.encodePgm(img))
    assert(f(0) === 0.5f && f(Multimodal.FeatureDim - 1) === 0.5f)
    assert(f.sum === 1.0f)
  }

  test("PGM container frame sampling splits at real image boundaries") {
    val frames = (0 until 3).map(i =>
      Multimodal.PgmImage(2, 1, 255, Array[Byte]((10 * i).toByte, (10 * i + 1).toByte)))
    val container = frames.map(Multimodal.encodePgm).reduce(_ ++ _)
    val assets = Seq(Multimodal.Asset(7L, "video", container, "s")).toDS()
    val got = Multimodal.sampleFrames(assets, frameBytes = 16, stride = 2)
      .orderBy("frame_idx").collect()
    assert(got.map(_.frame_idx).toSeq === Seq(0, 2))
    assert(got.forall(_.n_frames_total === 3))
    got.foreach { fr =>
      val img = Multimodal.decodePgm(fr.frame).get
      assert(img.pixels.toSeq === frames(fr.frame_idx).pixels.toSeq)
    }
  }

  test("BMP codec: encode/decode round-trip; 24-bit, top-down, and padding all parse") {
    // 8-bit gray round trip (3 wide -> padded rows exercise the stride)
    val img = Multimodal.PgmImage(3, 2, 255, Array[Byte](0, 10, 20, 30, 40, 50))
    val bytes = Multimodal.encodeBmp(img)
    val back = Multimodal.decodeBmp(bytes).get
    assert(back.width === 3 && back.height === 2)
    assert(back.pixels.toSeq === img.pixels.toSeq)
    assert(back.pixel(1, 1) === 40)
    // hand-built 24-bit BGR 2x2, bottom-up, rows padded to 8 bytes:
    // file = 14 + 40 + 2 rows * 8; gray via integer ITU-R 601 luma
    def u32(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    def u16(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)
    val header = "BM".getBytes("US-ASCII") ++ u32(70) ++ u32(0) ++ u32(54) ++
      u32(40) ++ u32(2) ++ u32(2) ++ u16(1) ++ u16(24) ++ u32(0) ++ u32(16) ++
      u32(0) ++ u32(0) ++ u32(0) ++ u32(0)
    // bottom row first: pure blue, pure green | top row: pure red, white
    val raster = Array[Byte](-1, 0, 0, 0, -1, 0, 0, 0, // (B,G,R)x2 + pad
      0, 0, -1, -1, -1, -1, 0, 0)
    val rgb = Multimodal.decodeBmp(header ++ raster).get
    assert(rgb.width === 2 && rgb.height === 2)
    // decoded top row = red(76), white(255); bottom row = blue(29), green(149)
    assert(rgb.pixels.map(_ & 0xff).toSeq === Seq(76, 255, 29, 149))
    // top-down variant (negative height) flips row order back to identical
    val tdHeader = header.clone(); u32(-2).copyToArray(tdHeader, 22)
    val tdRaster = Array[Byte](0, 0, -1, -1, -1, -1, 0, 0,
      -1, 0, 0, 0, -1, 0, 0, 0)
    val td = Multimodal.decodeBmp(tdHeader ++ tdRaster).get
    assert(td.pixels.toSeq === rgb.pixels.toSeq)
    // malformed inputs reject to the stub path, never mis-decode
    assert(Multimodal.decodeBmp("BMnope".getBytes("US-ASCII")).isEmpty)
    assert(Multimodal.decodeBmp(header.dropRight(1)).isEmpty) // truncated raster
  }

  test("BMP resize and features run on real pixels through the shared kernels") {
    // same 4x4 gradient as the PGM test, but landed as a BMP: the
    // format-agnostic kernels must produce the same pixels, and the
    // output must come back as a BMP (format stability per row)
    val src = Multimodal.PgmImage(4, 4, 255, Array.tabulate(16)(_.toByte))
    val assets = Seq(Multimodal.Asset(1L, "image",
      Multimodal.encodeBmp(src), "s")).toDS()
    val out = Multimodal.resize(assets, w = 2, h = 2).collect().head
    val outImg = Multimodal.decodeBmp(out.payload).get
    assert(outImg.pixels.toSeq === Seq[Byte](0, 2, 8, 10))
    assert(Multimodal.decodePgm(out.payload).isEmpty, "BMP in must mean BMP out")
    // features: 2x2 black/white BMP -> same histogram as its PGM twin
    val bw = Multimodal.PgmImage(2, 2, 255, Array[Byte](0, 0, -1, -1))
    val f = Multimodal.decodeFeatures(Multimodal.encodeBmp(bw))
    assert(f(0) === 0.5f && f(Multimodal.FeatureDim - 1) === 0.5f)
  }

  test("BMP container frame sampling splits at declared file-size boundaries") {
    val frames = (0 until 3).map(i =>
      Multimodal.PgmImage(2, 1, 255, Array[Byte]((10 * i).toByte, (10 * i + 1).toByte)))
    val container = frames.map(Multimodal.encodeBmp).reduce(_ ++ _)
    val assets = Seq(Multimodal.Asset(7L, "video", container, "s")).toDS()
    val got = Multimodal.sampleFrames(assets, frameBytes = 16, stride = 2)
      .orderBy("frame_idx").collect()
    assert(got.map(_.frame_idx).toSeq === Seq(0, 2))
    assert(got.forall(_.n_frames_total === 3))
    got.foreach { fr =>
      val img = Multimodal.decodeBmp(fr.frame).get
      assert(img.pixels.toSeq === frames(fr.frame_idx).pixels.toSeq)
    }
  }

  test("property: BMP and PGM encode/decode round-trip any image") {
    import org.scalacheck.{Gen, Prop}
    import org.scalacheck.Test.{check => scCheck, Parameters}
    val genImg = for {
      w <- Gen.choose(1, 37) // odd widths exercise BMP row padding
      h <- Gen.choose(1, 19)
      px <- Gen.containerOfN[Array, Byte](w * h, Gen.choose(Byte.MinValue, Byte.MaxValue))
    } yield Multimodal.PgmImage(w, h, 255, px)
    val prop = Prop.forAll(genImg) { img =>
      val viaBmp = Multimodal.decodeBmp(Multimodal.encodeBmp(img)).get
      val viaPgm = Multimodal.decodePgm(Multimodal.encodePgm(img)).get
      viaBmp.width == img.width && viaBmp.height == img.height &&
        java.util.Arrays.equals(viaBmp.pixels, img.pixels) &&
        java.util.Arrays.equals(viaPgm.pixels, img.pixels) &&
        // cross-codec agreement: both decoders feed the same kernels
        Multimodal.decodeImage(Multimodal.encodeBmp(img)).get.pixels.toSeq ==
          Multimodal.decodeImage(Multimodal.encodePgm(img)).get.pixels.toSeq
    }
    assert(scCheck(Parameters.default.withMinSuccessfulTests(50), prop).passed)
  }

  test("PNG codec: hand-built grayscale image exercises all five scanline filters") {
    val w = 4; val h = 5
    val target = Array.tabulate(w * h)(i => ((i * 37 + 11) % 256).toByte)
    // FORWARD-filter each row with a different filter type — an
    // independent reimplementation of spec §6 the decoder must invert
    def px(x: Int, y: Int): Int = if (x < 0 || y < 0) 0 else target(y * w + x) & 0xff
    val raw = new Array[Byte](h * (w + 1))
    for (y <- 0 until h) {
      val ft = y % 5
      raw(y * (w + 1)) = ft.toByte
      for (x <- 0 until w) {
        val v = px(x, y)
        val a = px(x - 1, y); val b = px(x, y - 1); val c = px(x - 1, y - 1)
        val f = ft match {
          case 0 => v
          case 1 => v - a
          case 2 => v - b
          case 3 => v - (a + b) / 2
          case 4 =>
            val p = a + b - c
            val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
            v - (if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c)
        }
        raw(y * (w + 1) + 1 + x) = f.toByte
      }
    }
    val defl = new java.util.zip.Deflater()
    defl.setInput(raw); defl.finish()
    val cOut = new java.io.ByteArrayOutputStream()
    val cbuf = new Array[Byte](1024)
    while (!defl.finished()) cOut.write(cbuf, 0, defl.deflate(cbuf))
    defl.end()
    def be(v: Long) = Array((v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte)
    def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
      val tb = typ.getBytes("US-ASCII")
      val crc = new java.util.zip.CRC32(); crc.update(tb); crc.update(data)
      be(data.length.toLong) ++ tb ++ data ++ be(crc.getValue)
    }
    val sig = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)
    val ihdr = be(w.toLong) ++ be(h.toLong) ++ Array[Byte](8, 0, 0, 0, 0)
    val png = sig ++ chunk("IHDR", ihdr) ++
      chunk("tEXt", "comment\u0000skip me".getBytes("US-ASCII")) ++ // ancillary: skipped
      chunk("IDAT", cOut.toByteArray) ++ chunk("IEND", Array.emptyByteArray)
    val img = Multimodal.decodePng(png).get
    assert(img.width === w && img.height === h && img.maxVal === 255)
    assert(img.pixels.toSeq === target.toSeq)
    // a flipped IDAT byte fails the chunk CRC -> reject, never mis-decode
    val idatAt = png.indexOfSlice("IDAT".getBytes("US-ASCII"))
    val corrupt = png.clone()
    corrupt(idatAt + 4) = (corrupt(idatAt + 4) ^ 0x40).toByte
    assert(Multimodal.decodePng(corrupt).isEmpty)
    // truncation rejects
    assert(Multimodal.decodePng(png.dropRight(1)).isEmpty)
    // unsupported bit depth (16) rejects even with a valid CRC
    val ihdr16 = ihdr.clone(); ihdr16(8) = 16
    assert(Multimodal.decodePng(sig ++ chunk("IHDR", ihdr16) ++
      chunk("IDAT", cOut.toByteArray) ++ chunk("IEND", Array.emptyByteArray)).isEmpty)
    // a zlib stream DECLARING fewer pixels than IHDR rejects (truncated raster)
    val short = new java.util.zip.Deflater()
    short.setInput(raw.dropRight(w + 1)); short.finish()
    val sOut = new java.io.ByteArrayOutputStream()
    while (!short.finished()) sOut.write(cbuf, 0, short.deflate(cbuf))
    short.end()
    assert(Multimodal.decodePng(sig ++ chunk("IHDR", ihdr) ++
      chunk("IDAT", sOut.toByteArray) ++ chunk("IEND", Array.emptyByteArray)).isEmpty)
    // an FDICT (preset-dictionary) zlib stream must REJECT, not hang:
    // CMF=0x78 FLG=0x20 passes the zlib check ((0x7820 % 31) == 0 with
    // bit 5 set), then Inflater reports needsDictionary forever
    val fdict = Array[Byte](0x78, 0x20, 1, 2, 3, 4, 9, 9, 9, 9)
    assert(Multimodal.decodePng(sig ++ chunk("IHDR", ihdr) ++
      chunk("IDAT", fdict) ++ chunk("IEND", Array.emptyByteArray)).isEmpty)
    // decompression bomb: a valid-CRC header declaring a ~2 GB raster
    // over a few IDAT bytes must reject BEFORE allocating
    val bombIhdr = be(65535L) ++ be(32000L) ++ Array[Byte](8, 0, 0, 0, 0)
    assert(Multimodal.decodePng(sig ++ chunk("IHDR", bombIhdr) ++
      chunk("IDAT", cOut.toByteArray) ++ chunk("IEND", Array.emptyByteArray)).isEmpty)
  }

  test("PNG color types 2/3/4/6 decode to ITU-R 601 luma (stride-aware filters)") {
    def be(v: Long) = Array((v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte)
    def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
      val tb = typ.getBytes("US-ASCII")
      val crc = new java.util.zip.CRC32(); crc.update(tb); crc.update(data)
      be(data.length.toLong) ++ tb ++ data ++ be(crc.getValue)
    }
    val sig = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)
    def deflate(raw: Array[Byte]): Array[Byte] = {
      val d = new java.util.zip.Deflater(); d.setInput(raw); d.finish()
      val o = new java.io.ByteArrayOutputStream(); val b = new Array[Byte](1024)
      while (!d.finished()) o.write(b, 0, d.deflate(b))
      d.end(); o.toByteArray
    }
    // forward-filter with the CHANNEL stride — an independent spec §6
    // reimplementation; each row uses a different filter type so the
    // decoder's byte-stride inversion is exercised on every filter
    def buildPng(w: Int, h: Int, colorType: Int, channels: Int,
        data: Array[Byte], plte: Option[Array[Byte]] = None): Array[Byte] = {
      val rowBytes = w * channels
      def at(x: Int, y: Int): Int =
        if (x < 0 || y < 0) 0 else data(y * rowBytes + x) & 0xff
      val raw = new Array[Byte](h * (rowBytes + 1))
      for (y <- 0 until h) {
        val ft = y % 5
        raw(y * (rowBytes + 1)) = ft.toByte
        for (x <- 0 until rowBytes) {
          val v = at(x, y)
          val a = at(x - channels, y); val b = at(x, y - 1); val c = at(x - channels, y - 1)
          val f = ft match {
            case 0 => v
            case 1 => v - a
            case 2 => v - b
            case 3 => v - (a + b) / 2
            case 4 =>
              val p = a + b - c
              val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
              v - (if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c)
          }
          raw(y * (rowBytes + 1) + 1 + x) = f.toByte
        }
      }
      val ihdr = be(w.toLong) ++ be(h.toLong) ++
        Array[Byte](8, colorType.toByte, 0, 0, 0)
      sig ++ chunk("IHDR", ihdr) ++
        plte.map(p => chunk("PLTE", p)).getOrElse(Array.emptyByteArray) ++
        chunk("IDAT", deflate(raw)) ++ chunk("IEND", Array.emptyByteArray)
    }
    def lum(r: Int, g: Int, b: Int): Byte = ((r * 299 + g * 587 + b * 114) / 1000).toByte
    val w = 3; val h = 5
    // truecolor RGB (ct 2)
    val rgb = Array.tabulate(w * h * 3)(i => ((i * 41 + 7) % 256).toByte)
    val gotRgb = Multimodal.decodePng(buildPng(w, h, 2, 3, rgb)).get
    val expRgb = Array.tabulate(w * h)(i =>
      lum(rgb(i * 3) & 0xff, rgb(i * 3 + 1) & 0xff, rgb(i * 3 + 2) & 0xff))
    assert(gotRgb.width === w && gotRgb.height === h)
    assert(gotRgb.pixels.toSeq === expRgb.toSeq)
    // RGBA (ct 6): alpha bytes must not perturb the luma
    val rgba = Array.tabulate(w * h * 4)(i => ((i * 59 + 3) % 256).toByte)
    val gotRgba = Multimodal.decodePng(buildPng(w, h, 6, 4, rgba)).get
    val expRgba = Array.tabulate(w * h)(i =>
      lum(rgba(i * 4) & 0xff, rgba(i * 4 + 1) & 0xff, rgba(i * 4 + 2) & 0xff))
    assert(gotRgba.pixels.toSeq === expRgba.toSeq)
    // gray+alpha (ct 4): gray channel passes through
    val ga = Array.tabulate(w * h * 2)(i => ((i * 23 + 5) % 256).toByte)
    val gotGa = Multimodal.decodePng(buildPng(w, h, 4, 2, ga)).get
    assert(gotGa.pixels.toSeq === Array.tabulate(w * h)(i => ga(i * 2)).toSeq)
    // paletted (ct 3): indices -> RGB triples -> luma
    val plte = Array[Byte](
      0, 0, 0, // 0: black
      -1, -1, -1, // 1: white
      -1, 0, 0, // 2: red
      0, -1, 0) // 3: green
    val idx = Array.tabulate(w * h)(i => (i % 4).toByte)
    val gotPal = Multimodal.decodePng(buildPng(w, h, 3, 1, idx, Some(plte))).get
    val palLuma = Array[Byte](0, -1 /* 255 */, lum(255, 0, 0), lum(0, 255, 0))
    assert(gotPal.pixels.toSeq === idx.map(i => palLuma(i & 0xff)).toSeq)
    // hostile: ct3 without PLTE rejects
    assert(Multimodal.decodePng(buildPng(w, h, 3, 1, idx, None)).isEmpty)
    // hostile: palette index out of range rejects
    val oob = idx.clone(); oob(0) = 9
    assert(Multimodal.decodePng(buildPng(w, h, 3, 1, oob, Some(plte))).isEmpty)
    // hostile: PLTE on grayscale rejects (spec: prohibited for ct 0/4)
    val gray = Array.tabulate(w * h)(i => (i * 17).toByte)
    assert(Multimodal.decodePng(buildPng(w, h, 0, 1, gray, Some(plte))).isEmpty)
    // hostile: empty / non-multiple-of-3 / oversized PLTE reject
    assert(Multimodal.decodePng(buildPng(w, h, 3, 1, idx,
      Some(Array.emptyByteArray))).isEmpty)
    assert(Multimodal.decodePng(buildPng(w, h, 3, 1, idx,
      Some(Array[Byte](1, 2)))).isEmpty)
    assert(Multimodal.decodePng(buildPng(w, h, 3, 1, idx,
      Some(new Array[Byte](771)))).isEmpty)
    // the gray path still decodes identically through the same loop
    assert(Multimodal.decodePng(buildPng(w, h, 0, 1, gray)).get.pixels.toSeq
      === gray.toSeq)
  }

  test("PNG Adam7 interlace and 16-bit depths decode exactly (independent forward build)") {
    // Independent spec reimplementation (§8.2 pass extraction + §9
    // forward filtering at the BYTE stride bpp), generalized over
    // bitDepth and interlace — NOT built via encodePng, so the decoder
    // and this builder can only agree by both following the spec.
    def be(v: Long) = Array((v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte)
    def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
      val tb = typ.getBytes("US-ASCII")
      val crc = new java.util.zip.CRC32(); crc.update(tb); crc.update(data)
      be(data.length.toLong) ++ tb ++ data ++ be(crc.getValue)
    }
    val sig = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)
    def deflate(raw: Array[Byte]): Array[Byte] = {
      val d = new java.util.zip.Deflater(); d.setInput(raw); d.finish()
      val o = new java.io.ByteArrayOutputStream(); val b = new Array[Byte](1024)
      while (!d.finished()) o.write(b, 0, d.deflate(b))
      d.end(); o.toByteArray
    }
    val adam7 = Array((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
                      (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))
    // samples(x, y, ch) gives the FULL-DEPTH sample value (0..255 for
    // depth 8, 0..65535 for depth 16)
    def buildPng(w: Int, h: Int, colorType: Int, channels: Int, depth: Int,
        interlace: Boolean, samples: (Int, Int, Int) => Int): Array[Byte] = {
      val sb = depth / 8
      val bpp = channels * sb
      val passes = if (interlace) adam7 else Array((0, 0, 1, 1))
      val raw = new java.io.ByteArrayOutputStream()
      for ((x0, y0, dx, dy) <- passes) {
        val pw = if (w > x0) (w - x0 + dx - 1) / dx else 0
        val ph = if (h > y0) (h - y0 + dy - 1) / dy else 0
        if (pw > 0 && ph > 0) {
          // serialize the pass sub-image, then forward-filter its rows
          val prb = pw * bpp
          val sub = new Array[Byte](ph * prb)
          for (y <- 0 until ph; x <- 0 until pw; ch <- 0 until channels) {
            val v = samples(x0 + x * dx, y0 + y * dy, ch)
            val off = y * prb + x * bpp + ch * sb
            if (sb == 1) sub(off) = v.toByte
            else { sub(off) = (v >>> 8).toByte; sub(off + 1) = v.toByte }
          }
          def at(i: Int, y: Int): Int = if (i < 0 || y < 0) 0 else sub(y * prb + i) & 0xff
          for (y <- 0 until ph) {
            val ft = (y + x0 + y0) % 5 // rotate filters; offset varies per pass
            raw.write(ft)
            for (i <- 0 until prb) {
              val v = at(i, y)
              val a = at(i - bpp, y); val b = at(i, y - 1); val c = at(i - bpp, y - 1)
              val f = ft match {
                case 0 => v
                case 1 => v - a
                case 2 => v - b
                case 3 => v - (a + b) / 2
                case 4 =>
                  val p = a + b - c
                  val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
                  v - (if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c)
              }
              raw.write(f & 0xff)
            }
          }
        }
      }
      val ihdr = be(w.toLong) ++ be(h.toLong) ++
        Array[Byte](depth.toByte, colorType.toByte, 0, 0,
          if (interlace) 1.toByte else 0.toByte)
      sig ++ chunk("IHDR", ihdr) ++ chunk("IDAT", deflate(raw.toByteArray)) ++
        chunk("IEND", Array.emptyByteArray)
    }
    def scale16(v: Int): Int = (510 * v + 65535) / 131070 // §13.12 round(v*255/65535)
    def lum(r: Int, g: Int, b: Int): Byte = ((r * 299 + g * 587 + b * 114) / 1000).toByte

    // Adam7 grayscale at sizes where passes go EMPTY (1x1 keeps only
    // pass 1; 2x2 drops passes 2-4; 5x3 has single-pixel passes) plus
    // sizes exercising partial final blocks — decode must equal the
    // sequential decode of the same pixels, pixel for pixel.
    for ((w, h) <- Seq((1, 1), (2, 2), (3, 3), (4, 4), (5, 3), (5, 5),
                       (8, 8), (10, 9), (16, 16), (17, 5))) {
      val pix = (x: Int, y: Int, _: Int) => (x * 31 + y * 57 + 11) % 256
      val gotI = Multimodal.decodePng(buildPng(w, h, 0, 1, 8, interlace = true, pix))
      assert(gotI.isDefined, s"${w}x$h interlaced gray failed to decode")
      val exp = Array.tabulate(w * h)(i => pix(i % w, i / w, 0).toByte)
      assert(gotI.get.pixels.toSeq === exp.toSeq, s"${w}x$h interlaced gray pixels")
    }
    // Adam7 truecolor: the pass walk must keep the 3-byte pixel stride
    val (cw, ch2) = (10, 9)
    val rgbAt = (x: Int, y: Int, c: Int) => ((x * 7 + y * 13 + c * 101 + 3) * 37) % 256
    val gotRgbI = Multimodal.decodePng(buildPng(cw, ch2, 2, 3, 8, interlace = true, rgbAt)).get
    val expRgbI = Array.tabulate(cw * ch2)(i =>
      lum(rgbAt(i % cw, i / cw, 0), rgbAt(i % cw, i / cw, 1), rgbAt(i % cw, i / cw, 2)))
    assert(gotRgbI.pixels.toSeq === expRgbI.toSeq, "interlaced RGB luma")

    // 16-bit gray, hi==lo expansion (v*257): inverts EXACTLY under the
    // §13.12 rescale, so decode equals the 8-bit original
    val g8 = (x: Int, y: Int, _: Int) => (x * 19 + y * 43 + 5) % 256
    val got16 = Multimodal.decodePng(
      buildPng(7, 6, 0, 1, 16, interlace = false, (x, y, c) => g8(x, y, c) * 257)).get
    assert(got16.pixels.toSeq === Array.tabulate(42)(i => g8(i % 7, i / 7, 0).toByte).toSeq,
      "16-bit v*257 gray must round-trip to the 8-bit value")
    // 16-bit gray, ARBITRARY samples: decode = round(v*255/65535), and
    // the 2-byte stride must thread the filters (rotating per row)
    val g16 = (x: Int, y: Int, _: Int) => (x * 9176 + y * 21523 + 77) % 65536
    val gotArb = Multimodal.decodePng(buildPng(9, 5, 0, 1, 16, interlace = false, g16)).get
    assert(gotArb.pixels.toSeq ===
      Array.tabulate(45)(i => scale16(g16(i % 9, i / 9, 0)).toByte).toSeq,
      "16-bit arbitrary gray rescale")
    // 16-bit RGBA + interlace together: stride 8, alpha skipped, luma
    // of the RESCALED channels (matching the decoder's sample8-then-
    // luma order)
    val s16 = (x: Int, y: Int, c: Int) => ((x * 5081 + y * 12289 + c * 31013 + 9) * 7) % 65536
    val gotRgba16 = Multimodal.decodePng(buildPng(6, 7, 6, 4, 16, interlace = true, s16)).get
    val expRgba16 = Array.tabulate(42)(i =>
      lum(scale16(s16(i % 6, i / 6, 0)), scale16(s16(i % 6, i / 6, 1)),
        scale16(s16(i % 6, i / 6, 2))))
    assert(gotRgba16.pixels.toSeq === expRgba16.toSeq, "interlaced 16-bit RGBA luma")

    // Reject postures stay: 16-bit paletted is illegal (§11.2.2),
    // sub-byte depths and unknown interlace methods reject to the stub
    assert(Multimodal.decodePng(buildPng(4, 4, 3, 1, 16, interlace = false, g16)).isEmpty,
      "16-bit paletted must reject")
    // (rebuilt with valid CRCs so the rejection is the HEADER check,
    // not a CRC mismatch)
    def headerOnly(depth: Int, interlaceMethod: Int): Array[Byte] = {
      val ihdr = be(4L) ++ be(4L) ++
        Array[Byte](depth.toByte, 0, 0, 0, interlaceMethod.toByte)
      sig ++ chunk("IHDR", ihdr) ++ chunk("IDAT", deflate(new Array[Byte](20))) ++
        chunk("IEND", Array.emptyByteArray)
    }
    assert(Multimodal.decodePng(headerOnly(4, 0)).isEmpty, "4-bit depth must reject")
    assert(Multimodal.decodePng(headerOnly(8, 2)).isEmpty, "interlace method 2 must reject")
  }

  test("dHash bands: known patterns, resolution tolerance, family perturbation") {
    import Multimodal.{PgmImage, dhashBands}
    // ascending rows: every left sample < its right neighbor -> no bits
    val asc = PgmImage(9, 8, 255, Array.tabulate(72)(i => (i % 9).toByte))
    assert(dhashBands(asc).toSeq === Seq(0, 0, 0, 0))
    // descending rows: every comparison fires -> all 16 bits per band
    val desc = PgmImage(9, 8, 255, Array.tabulate(72)(i => (9 - i % 9).toByte))
    assert(dhashBands(desc).toSeq === Seq(0xffff, 0xffff, 0xffff, 0xffff))
    // resolution tolerance — the property that makes dHash a NEAR-dup
    // fingerprint: pixel-doubling the raster (2x in each axis) samples
    // the same brightness structure, so the fingerprint is unchanged
    val rnd = new scala.util.Random(7)
    val base = Array.fill(9 * 8)((rnd.nextInt(256)).toByte)
    val small = PgmImage(9, 8, 255, base)
    val big = PgmImage(18, 16, 255, Array.tabulate(18 * 16) { i =>
      val x = (i % 18) / 2; val y = (i / 18) / 2; base(y * 9 + x)
    })
    assert(dhashBands(small).toSeq === dhashBands(big).toSeq,
      "2x upscale must not move the fingerprint")
    // family perturbation: same base hash -> same raster except ONE
    // pixel, so two members' fingerprints differ in at most 4 bits
    // (the perturbed pixel borders at most 2 samples x 2 comparisons)
    val bh = "0123456789abcdef0123456789abcdef"
    val imgs = Seq("aa07", "3f19", "c2b8").map { ph =>
      Multimodal.decodePng(Multimodal.syntheticFamilyPng(bh, ph)).get
    }
    for (Seq(a, b) <- imgs.combinations(2)) {
      val (ba, bb) = (dhashBands(a), dhashBands(b))
      val ham = (0 until 4).map(i => Integer.bitCount(ba(i) ^ bb(i))).sum
      assert(ham <= 8, s"family members too far apart: hamming $ham")
    }
    // determinism: identical inputs -> identical bytes
    assert(java.util.Arrays.equals(
      Multimodal.syntheticFamilyPng(bh, "aa07"),
      Multimodal.syntheticFamilyPng(bh, "aa07")))
  }

  test("audio fingerprint: known envelopes, size-bias regression, family locality") {
    import Multimodal.{PcmAudio, audioFingerprintBands}
    // n=65: one sample per window, so the envelope IS the samples.
    // strictly rising -> no window out-powers its successor -> no bits
    val rising = PcmAudio(8000, 1, Array.tabulate(65)(i => (i * 100).toShort))
    assert(audioFingerprintBands(rising).toSeq === Seq(0, 0, 0, 0))
    // strictly falling -> every comparison fires -> all 64 bits
    val falling = PcmAudio(8000, 1, Array.tabulate(65)(i => ((65 - i) * 100).toShort))
    assert(audioFingerprintBands(falling).toSeq === Seq(0xffff, 0xffff, 0xffff, 0xffff))
    // MEAN normalization regression: a constant signal at a length
    // with UNEVEN window sizes (176/65 -> 3,2-sample pattern) must
    // fingerprint to zero — the sum variant emitted the size pattern
    // itself, collapsing every equal-length signal into one bucket
    val flat = PcmAudio(8000, 1, Array.fill(176)(1000.toShort))
    assert(audioFingerprintBands(flat).toSeq === Seq(0, 0, 0, 0),
      "window-size pattern leaked into a constant signal's fingerprint")
    // resolution tolerance: sample-doubling preserves window means
    val rnd = new scala.util.Random(11)
    val base = Array.fill(65)((rnd.nextInt(8000) - 4000).toShort)
    val doubled = base.flatMap(s => Array(s, s))
    assert(audioFingerprintBands(PcmAudio(8000, 1, base)).toSeq ===
      audioFingerprintBands(PcmAudio(16000, 1, doubled)).toSeq,
      "2x resample must not move the fingerprint")
    // family perturbation: one-sample click moves one window's mean,
    // so two members differ in at most ~4 bits
    val bh = "0123456789abcdef0123456789abcdef"
    val clips = Seq("aa07", "3f19", "c2b8").map { ph =>
      Multimodal.decodeWav(Multimodal.syntheticFamilyWav(bh, ph)).get
    }
    for (Seq(a, b) <- clips.combinations(2)) {
      val (ba, bb) = (audioFingerprintBands(a), audioFingerprintBands(b))
      val ham = (0 until 4).map(i => Integer.bitCount(ba(i) ^ bb(i))).sum
      assert(ham <= 8, s"family members too far apart: hamming $ham")
    }
  }

  test("audio shingles: offset invariance, click locality, short-clip guard") {
    import Multimodal.{PcmAudio, audioShingleValues, syntheticFamilyWavShifted, decodeWav}
    val bh = "0123456789abcdef0123456789abcdef"
    // ph chars: 0-1 click pos, 2 click value, 3 offset selector.
    // '0' % 4 = 0 windows of prefix; '3' % 4 = 3 windows (24 samples).
    val noShift = decodeWav(syntheticFamilyWavShifted(bh, "aa0034567890123456789012345678ab")).get
    val shifted = decodeWav(syntheticFamilyWavShifted(bh, "aa0334567890123456789012345678ab")).get
    assert(shifted.samples.length === noShift.samples.length + 24)
    val (s0, s3) = (audioShingleValues(noShift).toSet, audioShingleValues(shifted).toSet)
    // OFFSET INVARIANCE — the reason this fingerprint exists: every
    // shingle of the unshifted clip survives in the shifted clip (the
    // prefix only ADDS values at the front); the global-envelope
    // fingerprint realigns its 65 windows and loses this entirely
    assert(s0.subsetOf(s3),
      s"shift destroyed ${(s0 -- s3).size} of ${s0.size} shingles")
    // different click AND different offset: the click perturbs one
    // window -> at most ShingleBits + 1 shingle positions change; the
    // rest of the (large) shingle set is shared across the shift
    val other = decodeWav(syntheticFamilyWavShifted(bh, "ff9904567890123456789012345678ab")).get
    val sOther = audioShingleValues(other).toSet
    assert((s0 & sOther).size >= 8,
      s"family members share only ${(s0 & sOther).size} shingles")
    // a clip too short for even one full shingle fingerprint is empty,
    // not a crash (33 windows = 264 samples minimum)
    assert(audioShingleValues(PcmAudio(8000, 1, new Array[Short](263))).isEmpty)
    assert(audioShingleValues(PcmAudio(8000, 1, new Array[Short](264))).length === 1)
  }

  test("PNG resize and features run on real pixels through the shared kernels") {
    val src = Multimodal.PgmImage(4, 4, 255, Array.tabulate(16)(_.toByte))
    val assets = Seq(Multimodal.Asset(1L, "image",
      Multimodal.encodePng(src), "s")).toDS()
    val out = Multimodal.resize(assets, w = 2, h = 2).collect().head
    val outImg = Multimodal.decodePng(out.payload).get
    assert(outImg.pixels.toSeq === Seq[Byte](0, 2, 8, 10))
    assert(Multimodal.decodePgm(out.payload).isEmpty &&
      Multimodal.decodeBmp(out.payload).isEmpty, "PNG in must mean PNG out")
    // features: 2x2 black/white PNG -> same histogram as its PGM/BMP twins
    val bw = Multimodal.PgmImage(2, 2, 255, Array[Byte](0, 0, -1, -1))
    val f = Multimodal.decodeFeatures(Multimodal.encodePng(bw))
    assert(f(0) === 0.5f && f(Multimodal.FeatureDim - 1) === 0.5f)
  }

  test("PNG container frame sampling splits at IEND boundaries") {
    val frames = (0 until 3).map(i =>
      Multimodal.PgmImage(2, 1, 255, Array[Byte]((10 * i).toByte, (10 * i + 1).toByte)))
    val container = frames.map(Multimodal.encodePng).reduce(_ ++ _)
    val assets = Seq(Multimodal.Asset(7L, "video", container, "s")).toDS()
    val got = Multimodal.sampleFrames(assets, frameBytes = 16, stride = 2)
      .orderBy("frame_idx").collect()
    assert(got.map(_.frame_idx).toSeq === Seq(0, 2))
    assert(got.forall(_.n_frames_total === 3))
    got.foreach { fr =>
      val img = Multimodal.decodePng(fr.frame).get
      assert(img.pixels.toSeq === frames(fr.frame_idx).pixels.toSeq)
    }
  }

  test("property: PNG encode/decode round-trips any image, agreeing with PGM/BMP") {
    import org.scalacheck.{Gen, Prop}
    import org.scalacheck.Test.{check => scCheck, Parameters}
    val genImg = for {
      w <- Gen.choose(1, 37)
      h <- Gen.choose(1, 19)
      px <- Gen.containerOfN[Array, Byte](w * h, Gen.choose(Byte.MinValue, Byte.MaxValue))
    } yield Multimodal.PgmImage(w, h, 255, px)
    val prop = Prop.forAll(genImg) { img =>
      val via = Multimodal.decodePng(Multimodal.encodePng(img)).get
      via.width == img.width && via.height == img.height &&
        java.util.Arrays.equals(via.pixels, img.pixels) &&
        Multimodal.decodeImage(Multimodal.encodePng(img)).get.pixels.toSeq ==
          Multimodal.decodeImage(Multimodal.encodePgm(img)).get.pixels.toSeq
    }
    assert(scCheck(Parameters.default.withMinSuccessfulTests(50), prop).passed)
  }

  test("payloads outside the real-codec set (PGM/BMP/PNG/JPEG/WAV) take the stub path") {
    // the README format table promises: anything that isn't one of the
    // five shipped parsers falls back to the byte-statistics stub —
    // MALFORMED JPEG (an APP0 length pointing past the payload end) and
    // MALFORMED RIFF (declared size far past the end) must never
    // half-decode
    val jpeg = Array(0xff, 0xd8, 0xff, 0xe0).map(_.toByte) ++ Array.fill[Byte](64)(7)
    val riff = "RIFF1234WAVEfmt ".getBytes("US-ASCII") ++ Array.fill[Byte](32)(3)
    val noise = "not an image at all".getBytes("US-ASCII")
    for (p <- Seq(jpeg, riff, noise)) {
      assert(Multimodal.decodeImage(p).isEmpty)
      assert(Multimodal.decodeWav(p).isEmpty)
      assert(Multimodal.decodeFeatures(p).toSeq === Multimodal.decodeStub(p).toSeq)
    }
  }

  test("synthetic PGM container encodes the md5-derived params the decoder reads back") {
    val hash = "0123456789abcdef0123456789abcdef"
    val payload = Multimodal.syntheticPgmContainer(hash, nBytes = 10L)
    val frames = Multimodal.decodePgmFrames(payload)
    assert(frames.length === (10 % 7 + 1))
    assert(frames.head.width === 16 + ('0'.toInt % 8) * 4)
    assert(frames.head.height === 16 + ('1'.toInt % 8) * 4)
    assert(frames.forall(f => f.width === frames.head.width && f.height === frames.head.height))
  }

  test("WAV codec: hand-built fixture with ancillary chunk decodes sample-exact") {
    // Built byte by byte from the RIFF spec, NOT via encodeWav — so an
    // encoder/decoder pair that agree on the same wrong layout can't
    // pass. Mono 16-bit PCM at 8 kHz, 4 samples, with an odd-sized
    // LIST chunk (pad byte!) between "WAVE" and "fmt ".
    def u16le(v: Int) = Array(v.toByte, (v >> 8).toByte)
    def u32le(v: Long) = Array(v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    val samples = Seq(0, 1000, -1000, -32768)
    val data = samples.flatMap(s => u16le(s & 0xffff)).toArray
    val fmt = u16le(1) ++ u16le(1) ++ u32le(8000) ++ u32le(16000) ++ u16le(2) ++ u16le(16)
    val list = "LIST".getBytes("US-ASCII") ++ u32le(3) ++ Array[Byte]('I', 'N', 'F', 0) // 3 bytes + pad
    val body = "WAVE".getBytes("US-ASCII") ++ list ++
      "fmt ".getBytes("US-ASCII") ++ u32le(16) ++ fmt ++
      "data".getBytes("US-ASCII") ++ u32le(data.length.toLong) ++ data
    val wav = "RIFF".getBytes("US-ASCII") ++ u32le(body.length.toLong) ++ body
    val a = Multimodal.decodeWav(wav).get
    assert(a.sampleRate === 8000 && a.channels === 1 && a.frames === 4)
    assert(a.samples.toSeq === samples.map(_.toShort))
    assert(a.durationMs === 0L) // 4 frames at 8 kHz floors to 0 ms
    // encodeWav of the same audio round-trips through decodeWav exactly
    val back = Multimodal.decodeWav(Multimodal.encodeWav(a)).get
    assert(back.samples.toSeq === a.samples.toSeq && back.sampleRate === 8000)
  }

  test("WAV codec: inconsistent or hostile headers reject, never mis-decode") {
    val good = Multimodal.encodeWav(
      Multimodal.PcmAudio(8000, 2, Array[Short](1, 2, 3, 4)))
    assert(Multimodal.decodeWav(good).isDefined)
    def mut(off: Int, v: Byte): Array[Byte] = { val c = good.clone(); c(off) = v; c }
    assert(Multimodal.decodeWav(mut(20, 3)).isEmpty)  // fmt tag: IEEE float
    assert(Multimodal.decodeWav(mut(34, 8)).isEmpty)  // 8 bits/sample
    assert(Multimodal.decodeWav(mut(32, 3)).isEmpty)  // blockAlign != channels*2
    assert(Multimodal.decodeWav(mut(28, 99)).isEmpty) // byteRate != rate*blockAlign
    assert(Multimodal.decodeWav(mut(22, 0)).isEmpty)  // zero channels
    assert(Multimodal.decodeWav(good.dropRight(3)).isEmpty) // truncated data
    // data size not a whole number of frames
    val oddData = { val c = good.clone(); c(40) = 7; c } // dataLen 8 -> 7
    assert(Multimodal.decodeWav(oddData).isEmpty)
    // data chunk before any fmt chunk
    val dataFirst = {
      val c = good.clone()
      System.arraycopy("data".getBytes("US-ASCII"), 0, c, 12, 4)
      c
    }
    assert(Multimodal.decodeWav(dataFirst).isEmpty)
    // riffSize overflowing past the payload (hostile length)
    assert(Multimodal.decodeWav(mut(7, 0x7f)).isEmpty)
  }

  test("WAV resample: nearest-neighbor frames, channels move together") {
    // stereo: L channel counts up, R channel counts down — after any
    // resample each frame must still pair L=k with R=-k
    val frames = 100
    val inter = Array.tabulate[Short](frames * 2)(i =>
      if (i % 2 == 0) (i / 2).toShort else (-(i / 2)).toShort)
    val a = Multimodal.PcmAudio(16000, 2, inter)
    val down = Multimodal.resampleWav(a, 4000)
    assert(down.frames === 25 && down.channels === 2 && down.sampleRate === 4000)
    (0 until down.frames).foreach { f =>
      val l = down.samples(f * 2); val r = down.samples(f * 2 + 1)
      assert(l === (f * 4).toShort && r === (-(f * 4)).toShort) // src = floor(f*100/25)
    }
    val up = Multimodal.resampleWav(a, 32000)
    assert(up.frames === 200)
    (0 until up.frames).foreach { f =>
      assert(up.samples(f * 2) === (f / 2).toShort)
    }
    // same-rate resample is the identity
    assert(Multimodal.resampleWav(a, 16000).samples.toSeq === inter.toSeq)
  }

  test("WAV features: amplitude histogram over samples, not header bytes") {
    // all samples at 0 land mid-range: exactly one histogram bin = 1
    val silent = Multimodal.encodeWav(Multimodal.PcmAudio(8000, 1, Array.fill[Short](64)(0)))
    val f = Multimodal.decodeFeatures(silent)
    assert(f(8) === 1.0f && f.sum === 1.0f) // (0+32768)*16/65536 = bin 8
    // full-scale negative all in bin 0, full-scale positive in bin 15
    val lo = Multimodal.encodeWav(Multimodal.PcmAudio(8000, 1, Array.fill[Short](8)(Short.MinValue)))
    val hi = Multimodal.encodeWav(Multimodal.PcmAudio(8000, 1, Array.fill[Short](8)(Short.MaxValue)))
    assert(Multimodal.decodeFeatures(lo)(0) === 1.0f)
    assert(Multimodal.decodeFeatures(hi)(15) === 1.0f)
  }

  test("WAV container clip sampling splits at RIFF boundaries") {
    val clipA = Multimodal.encodeWav(Multimodal.PcmAudio(8000, 1, Array[Short](1, 2, 3)))
    val clipB = Multimodal.encodeWav(Multimodal.PcmAudio(16000, 2, Array[Short](4, 5, 6, 7)))
    val container = clipA ++ clipB ++ clipA
    val clips = Multimodal.decodeWavFrames(container)
    assert(clips.map(_.sampleRate) === Seq(8000, 16000, 8000))
    assert(clips(1).samples.toSeq === Seq[Short](4, 5, 6, 7))
    // trailing garbage means it is NOT a clean container
    assert(Multimodal.decodeWavFrames(container ++ Array[Byte](9)) === Nil)
    // through the Dataset op: one asset row fans out into clip rows,
    // each a complete re-encoded WAV
    val ds = spark.createDataset(Seq(
      Multimodal.Asset(7L, "audio", container, "test")))
    val rows = Multimodal.sampleFrames(ds, frameBytes = 999, stride = 1)
      .orderBy("frame_idx").collect()
    assert(rows.length === 3 && rows.forall(_.n_frames_total === 3))
    assert(rows.map(r => Multimodal.decodeWav(r.frame).get.sampleRate).toSeq
      === Seq(8000, 16000, 8000))
  }

  test("property: WAV encode/decode round-trips any clip; resample preserves rate contract") {
    import org.scalacheck.{Gen, Prop}
    import org.scalacheck.Test.{check => scCheck, Parameters}
    val genAudio = for {
      rate <- Gen.oneOf(8000, 16000, 22050, 44100)
      ch <- Gen.choose(1, 4)
      frames <- Gen.choose(1, 200)
      s <- Gen.containerOfN[Array, Short](frames * ch,
        Gen.choose(Short.MinValue, Short.MaxValue))
    } yield Multimodal.PcmAudio(rate, ch, s)
    val prop = Prop.forAll(genAudio) { a =>
      val back = Multimodal.decodeWav(Multimodal.encodeWav(a)).get
      back.sampleRate == a.sampleRate && back.channels == a.channels &&
        java.util.Arrays.equals(back.samples, a.samples) && {
          val r = Multimodal.resampleWav(a, 12000)
          r.sampleRate == 12000 && r.channels == a.channels &&
            r.samples.length == r.frames * r.channels && r.frames >= 1
        }
    }
    assert(scCheck(Parameters.default.withMinSuccessfulTests(50), prop).passed)
  }

  test("synthetic WAV container encodes the md5-derived params the decoder reads back") {
    val hash = "0123456789abcdef0123456789abcdef"
    val payload = Multimodal.syntheticWavContainer(hash, nBytes = 11L)
    val clips = Multimodal.decodeWavFrames(payload)
    assert(clips.length === (11 % 5 + 1))
    assert(clips.head.sampleRate === 8000 * (1 + '0'.toInt % 3))
    assert(clips.head.channels === 1 + (11 % 2))
    assert(clips.head.frames === 200 + ('1'.toInt % 16) * 25)
    assert(clips.forall(c => c.sampleRate === clips.head.sampleRate &&
      c.samples.toSeq === clips.head.samples.toSeq))
  }

  test("resample Dataset op: audio converts, non-audio passes through flagged") {
    val audio = Multimodal.encodeWav(
      Multimodal.PcmAudio(16000, 1, Array.tabulate[Short](160)(_.toShort)))
    val ds = spark.createDataset(Seq(
      Multimodal.Asset(1L, "audio", audio, "test"),
      Multimodal.Asset(2L, "text", "hello".getBytes("US-ASCII"), "test")))
    val out = Multimodal.resample(ds, 8000).orderBy("asset_id").collect()
    assert(out(0).n_frames === 80 && out(0).sample_rate === 8000)
    assert(Multimodal.decodeWav(out(0).payload).get.frames === 80)
    assert(out(1).n_frames === -1) // pass-through, payload untouched
    assert(out(1).payload.toSeq === "hello".getBytes("US-ASCII").toSeq)
  }

  test("frame sampling fans one asset into strided frame rows") {
    val one = Multimodal.assetsFromDocuments(spark, sf0001)
      .filter(col("asset_id") === 1)
    val payloadLen = one.collect().head.payload.length
    val frames = Multimodal.sampleFrames(one, frameBytes = 16, stride = 2)
      .orderBy("frame_idx").collect()
    val total = (payloadLen + 15) / 16
    assert(frames.forall(_.n_frames_total === total))
    assert(frames.map(_.frame_idx).toSeq === (0 until total by 2))
    // every kept frame is byte-exact the corresponding payload slice
    val payload = one.collect().head.payload
    frames.foreach { f =>
      val expect = payload.slice(f.frame_idx * 16, math.min((f.frame_idx + 1) * 16, payload.length))
      assert(f.frame.toSeq === expect.toSeq)
    }
  }

  // ---- JPEG (baseline grayscale) ---------------------------------------

  /** Independent test-side JPEG assembler: segment writer + MSB-first
    * bit packer, so the fixtures below owe NOTHING to the production
    * encoder — they are T.81 written out by hand.
    */
  private def jseg(marker: Int, body: Array[Int]): Array[Byte] =
    (Array(0xff, marker, (body.length + 2) >> 8, (body.length + 2) & 0xff) ++ body)
      .map(_.toByte)
  private def jbits(s: String): Array[Byte] = {
    val b = s.filter(c => c == '0' || c == '1')
    require(b.length % 8 == 0, "pad the fixture bitstring to whole bytes")
    b.grouped(8).map(g => Integer.parseInt(g, 2).toByte).toArray
  }

  test("JPEG codec: hand-built fixture with CUSTOM tables decodes DC-exact") {
    // 16x8 grayscale, two flat 8x8 blocks (left=200, right=136), with
    // quant and Huffman tables DIFFERENT from the encoder's Annex K
    // defaults — proving the decoder builds its entropy state from the
    // file's own DQT/DHT rather than assuming the standard tables.
    //   quant: all 16s (zigzag order == natural order for a constant)
    //   DC DHT: symbols {6 -> code 00, 3 -> code 01} (two 2-bit codes)
    //   AC DHT: symbol {0x00 (EOB) -> code 0} (one 1-bit code)
    // block1: p=200 -> FDCT DC (p-128)*8=576, /16 -> 36, diff=36 cat 6
    //         -> DC code 00 + 100100; EOB 0
    // block2: p=136 -> DC 4, diff 4-36=-32 cat 6 -> 00 + 011111; EOB 0
    // bits: 00 100100 0 | 00 011111 0 + six 1-pad = 0x24 0x0F 0xBF
    val sof = jseg(0xc0, Array(8, 0, 8, 0, 16, 1, 1, 0x11, 0))
    val dqt = jseg(0xdb, 0 +: Array.fill(64)(16))
    val dhtDc = jseg(0xc4, Array(0x00, 0, 2, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 6, 3))
    val dhtAc = jseg(0xc4, Array(0x10, 1, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0x00))
    val sos = jseg(0xda, Array(1, 1, 0x00, 0, 63, 0))
    val soi = Array(0xff, 0xd8).map(_.toByte)
    val eoi = Array(0xff, 0xd9).map(_.toByte)
    val com = jseg(0xfe, "ancillary comment, skip me".getBytes("US-ASCII").map(_.toInt))
    val entropy = jbits("00 100100 0 00 011111 0 111111")
    assert(entropy.toSeq === Seq(0x24.toByte, 0x0f.toByte, 0xbf.toByte))
    val fixture = soi ++ com ++ dqt ++ sof ++ dhtDc ++ dhtAc ++ sos ++ entropy ++ eoi
    val img = Jpeg.decodeJpeg(fixture).get
    assert(img.width === 16 && img.height === 8 && img.maxVal === 255)
    for (y <- 0 until 8; x <- 0 until 16)
      assert((img.pixels(y * 16 + x) & 0xff) === (if (x < 8) 200 else 136),
        s"pixel ($x,$y)")
    // the shared dispatch picks the JPEG branch for it
    assert(Multimodal.decodeImage(fixture).get.pixels.toSeq === img.pixels.toSeq)
    assert(Multimodal.decodePgm(fixture).isEmpty && Multimodal.decodeBmp(fixture).isEmpty
      && Multimodal.decodePng(fixture).isEmpty)
  }

  test("JPEG codec: YCbCr 4:4:4 color decodes the Y plane as luma") {
    // 8x8 color, one MCU = Y + Cb + Cr blocks, all flat. Y uses quant
    // table 0 (16s), chroma table 1 (32s) — per-component selection.
    // DC DHT: {6 -> 00, 3 -> 01, 0 -> 10}; AC DHT: {EOB -> 0}.
    //   Y=200: DC (200-128)*8/16 = 36, diff 36 cat 6 -> 00 100100, EOB
    //   Cb=144: DC (144-128)*8/32 = 4, diff 4 cat 3 -> 01 100, EOB
    //   Cr=112: DC -4, diff -4 cat 3 -> 01 011, EOB
    val dqtY = jseg(0xdb, 0 +: Array.fill(64)(16))
    val dqtC = jseg(0xdb, 1 +: Array.fill(64)(32))
    val dhtDc = jseg(0xc4, Array(0x00, 0, 3, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 6, 3, 0))
    val dhtAc = jseg(0xc4, Array(0x10, 1, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0x00))
    val sof = jseg(0xc0, Array(8, 0, 8, 0, 8, 3,
      1, 0x11, 0, 2, 0x11, 1, 3, 0x11, 1))
    val sos = jseg(0xda, Array(3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 63, 0))
    val soi = Array(0xff, 0xd8).map(_.toByte)
    val eoi = Array(0xff, 0xd9).map(_.toByte)
    val entropy = jbits("00 100100 0  01 100 0  01 011 0  111")
    val fixture = soi ++ dqtY ++ dqtC ++ sof ++ dhtDc ++ dhtAc ++ sos ++ entropy ++ eoi
    val img = Jpeg.decodeJpeg(fixture).get
    assert(img.width === 8 && img.height === 8)
    assert(img.pixels.forall(p => (p & 0xff) === 200), "luma == the Y plane")
    // the shared dispatch takes the JPEG branch for color too
    assert(Multimodal.decodeImage(fixture).get.pixels.toSeq === img.pixels.toSeq)
  }

  test("JPEG codec: 4:2:0 interleaved MCUs with per-component DC predictors") {
    // 16x16, one MCU: FOUR Y blocks (2x2 sampling) + Cb + Cr. Flat Y
    // quadrants 200/136/72/8; Y DC walk 36, 4, -28, -60 (diff -32 =
    // cat 6 -> 011111 each); chroma predictors start at 0 INDEPENDENT
    // of Y's (4 and -4, cat 3) — a shared predictor would corrupt them.
    val dqtY = jseg(0xdb, 0 +: Array.fill(64)(16))
    val dqtC = jseg(0xdb, 1 +: Array.fill(64)(32))
    val dhtDc = jseg(0xc4, Array(0x00, 0, 3, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 6, 3, 0))
    val dhtAc = jseg(0xc4, Array(0x10, 1, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0x00))
    val sof = jseg(0xc0, Array(8, 0, 16, 0, 16, 3,
      1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1))
    val sos = jseg(0xda, Array(3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 63, 0))
    val entropy = jbits(
      "00 100100 0  00 011111 0  00 011111 0  00 011111 0" + // Y x4
      "  01 100 0  01 011 0") // Cb, Cr — 48 bits, already byte-aligned
    val fixture = Array(0xff, 0xd8).map(_.toByte) ++ dqtY ++ dqtC ++ sof ++
      dhtDc ++ dhtAc ++ sos ++ entropy ++ Array(0xff, 0xd9).map(_.toByte)
    val img = Jpeg.decodeJpeg(fixture).get
    assert(img.width === 16 && img.height === 16)
    val quad = Array(200, 136, 72, 8)
    for (y <- 0 until 16; x <- 0 until 16) {
      val expect = quad((y / 8) * 2 + (x / 8))
      assert((img.pixels(y * 16 + x) & 0xff) === expect, s"pixel ($x,$y)")
    }
  }

  test("JPEG codec: subsampled-luma oddball replicates Y up to frame size") {
    // Legal-but-rare grid: Y 1x1 while Cb is 2x2 (hMax from chroma).
    // 16x16 frame -> Y grid is 8x8 and must replicate 2x to frame
    // size. Cb contributes FOUR blocks per MCU (first diff 4 = 01 100,
    // then three diff-0 = 10), Cr one.
    val dqtY = jseg(0xdb, 0 +: Array.fill(64)(16))
    val dqtC = jseg(0xdb, 1 +: Array.fill(64)(32))
    val dhtDc = jseg(0xc4, Array(0x00, 0, 3, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 6, 3, 0))
    val dhtAc = jseg(0xc4, Array(0x10, 1, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0x00))
    val sof = jseg(0xc0, Array(8, 0, 16, 0, 16, 3,
      1, 0x11, 0, 2, 0x22, 1, 3, 0x11, 1))
    val sos = jseg(0xda, Array(3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 63, 0))
    val entropy = jbits(
      "00 100100 0" + // Y
      "  01 100 0  10 0  10 0  10 0" + // Cb x4
      "  01 011 0" + // Cr
      "  11") // pad
    val fixture = Array(0xff, 0xd8).map(_.toByte) ++ dqtY ++ dqtC ++ sof ++
      dhtDc ++ dhtAc ++ sos ++ entropy ++ Array(0xff, 0xd9).map(_.toByte)
    val img = Jpeg.decodeJpeg(fixture).get
    assert(img.width === 16 && img.height === 16)
    assert(img.pixels.forall(p => (p & 0xff) === 200))
  }

  test("JPEG codec: malformed color frames reject, never mis-decode") {
    val dqtY = jseg(0xdb, 0 +: Array.fill(64)(16))
    val dqtC = jseg(0xdb, 1 +: Array.fill(64)(32))
    val dhtDc = jseg(0xc4, Array(0x00, 0, 3, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 6, 3, 0))
    val dhtAc = jseg(0xc4, Array(0x10, 1, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0x00))
    val sos3 = jseg(0xda, Array(3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 63, 0))
    val soi = Array(0xff, 0xd8).map(_.toByte)
    val eoi = Array(0xff, 0xd9).map(_.toByte)
    val bits = jbits("00 100100 0  01 100 0  01 011 0  111")
    def fix(sof: Array[Byte], sos: Array[Byte]): Array[Byte] =
      soi ++ dqtY ++ dqtC ++ sof ++ dhtDc ++ dhtAc ++ sos ++ bits ++ eoi
    val goodSof = jseg(0xc0, Array(8, 0, 8, 0, 8, 3,
      1, 0x11, 0, 2, 0x11, 1, 3, 0x11, 1))
    assert(Jpeg.decodeJpeg(fix(goodSof, sos3)).isDefined) // sanity
    // 2-component frames are outside the supported set
    val sof2 = jseg(0xc0, Array(8, 0, 8, 0, 8, 2, 1, 0x11, 0, 2, 0x11, 1))
    assert(Jpeg.decodeJpeg(fix(sof2,
      jseg(0xda, Array(2, 1, 0x00, 2, 0x00, 0, 63, 0))).clone()).isEmpty)
    // sampling factor 0 rejects
    assert(Jpeg.decodeJpeg(fix(jseg(0xc0, Array(8, 0, 8, 0, 8, 3,
      1, 0x01, 0, 2, 0x11, 1, 3, 0x11, 1)), sos3)).isEmpty)
    // non-divisible grid (3 vs max 2) rejects
    assert(Jpeg.decodeJpeg(fix(jseg(0xc0, Array(8, 0, 8, 0, 8, 3,
      1, 0x22, 0, 2, 0x33, 1, 3, 0x11, 1)), sos3)).isEmpty)
    // sum Hi*Vi > 10 rejects (4x4 + 1x1 + 1x1 = 18)
    assert(Jpeg.decodeJpeg(fix(jseg(0xc0, Array(8, 0, 8, 0, 8, 3,
      1, 0x44, 0, 2, 0x11, 1, 3, 0x11, 1)), sos3)).isEmpty)
    // duplicate component ids reject
    assert(Jpeg.decodeJpeg(fix(jseg(0xc0, Array(8, 0, 8, 0, 8, 3,
      1, 0x11, 0, 1, 0x11, 1, 3, 0x11, 1)), sos3)).isEmpty)
    // a single-component scan over a 3-component frame rejects
    // (baseline color is one interleaved scan)
    assert(Jpeg.decodeJpeg(fix(goodSof,
      jseg(0xda, Array(1, 1, 0x00, 0, 63, 0)))).isEmpty)
    // SOS selectors out of SOF order reject
    assert(Jpeg.decodeJpeg(fix(goodSof,
      jseg(0xda, Array(3, 2, 0x00, 1, 0x00, 3, 0x00, 0, 63, 0)))).isEmpty)
    // a chroma quant selector with no matching DQT rejects
    assert(Jpeg.decodeJpeg((soi ++ dqtY ++ goodSof ++ dhtDc ++ dhtAc ++
      sos3 ++ bits ++ eoi)).isEmpty)
    // an Adobe APP14 transform-0 tag declares RGB channels: decoding
    // comp 0 as luma would return the RED plane — must reject
    val app14rgb = jseg(0xee,
      "Adobe".getBytes("US-ASCII").map(_.toInt) ++ Array(0, 100, 0, 0, 0, 0, 0))
    assert(Jpeg.decodeJpeg(soi ++ app14rgb ++ dqtY ++ dqtC ++ goodSof ++
      dhtDc ++ dhtAc ++ sos3 ++ bits ++ eoi).isEmpty)
    // ... while transform 1 (YCbCr) still decodes
    val app14ycc = jseg(0xee,
      "Adobe".getBytes("US-ASCII").map(_.toInt) ++ Array(0, 100, 0, 0, 0, 0, 1))
    assert(Jpeg.decodeJpeg(soi ++ app14ycc ++ dqtY ++ dqtC ++ goodSof ++
      dhtDc ++ dhtAc ++ sos3 ++ bits ++ eoi).isDefined)
    // component ids spelling 'R','G','B' reject too
    val sofRgb = jseg(0xc0, Array(8, 0, 8, 0, 8, 3,
      'R'.toInt, 0x11, 0, 'G'.toInt, 0x11, 1, 'B'.toInt, 0x11, 1))
    assert(Jpeg.decodeJpeg(soi ++ dqtY ++ dqtC ++ sofRgb ++ dhtDc ++ dhtAc ++
      jseg(0xda, Array(3, 'R'.toInt, 0x00, 'G'.toInt, 0x00, 'B'.toInt, 0x00, 0, 63, 0)) ++
      bits ++ eoi).isEmpty)
  }

  test("JPEG codec: restart markers byte-align and reset the DC predictor") {
    // same two flat blocks, DRI=1: block1 (00 100100 0 -> pad to 16
    // bits), RST0, block2 re-predicting from 0: diff=4 cat 3 -> 01 +
    // 100, EOB 0 -> 01 100 0 + 2-pad
    val sof = jseg(0xc0, Array(8, 0, 8, 0, 16, 1, 1, 0x11, 0))
    val dqt = jseg(0xdb, 0 +: Array.fill(64)(16))
    val dhtDc = jseg(0xc4, Array(0x00, 0, 2, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 6, 3))
    val dhtAc = jseg(0xc4, Array(0x10, 1, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0x00))
    val dri = jseg(0xdd, Array(0, 1))
    val sos = jseg(0xda, Array(1, 1, 0x00, 0, 63, 0))
    val fixture = Array(0xff, 0xd8).map(_.toByte) ++ dqt ++ sof ++ dhtDc ++ dhtAc ++
      dri ++ sos ++ jbits("00 100100 0 1111111") ++ Array(0xff, 0xd0).map(_.toByte) ++
      jbits("01 100 0 11") ++ Array(0xff, 0xd9).map(_.toByte)
    val img = Jpeg.decodeJpeg(fixture).get
    assert(img.width === 16 && img.height === 8)
    for (y <- 0 until 8; x <- 0 until 16)
      assert((img.pixels(y * 16 + x) & 0xff) === (if (x < 8) 200 else 136),
        s"pixel ($x,$y)")
    // a WRONG restart ordinal (RST3 where RST0 is due) must reject
    val bad = fixture.clone()
    val rstAt = fixture.indexOfSlice(Array(0xff.toByte, 0xd0.toByte))
    bad(rstAt + 1) = 0xd3.toByte
    assert(Jpeg.decodeJpeg(bad).isEmpty)
    // B.1.1.2 fill bytes are legal before RSTn too: splice an extra
    // 0xff ahead of the restart marker and the decode must be identical
    val filled = fixture.take(rstAt) ++ Array(0xff.toByte) ++ fixture.drop(rstAt)
    val imgF = Jpeg.decodeJpeg(filled)
    assert(imgF.isDefined, "fill byte before RST0 rejected")
    assert(java.util.Arrays.equals(imgF.get.pixels, img.pixels))
  }

  test("0xff fill bytes before a marker are legal; stray TEM rejects") {
    val img = Multimodal.PgmImage(8, 8, 255, Array.tabulate(64)(i => (i * 3).toByte))
    val enc = Jpeg.encodeJpeg(img)
    val want = Jpeg.decodeJpeg(enc).get
    // T.81 B.1.1.2: any number of 0xff fill bytes may precede a marker —
    // splice two after SOI and the decode must be byte-identical
    val padded = enc.take(2) ++ Array[Byte](0xff.toByte, 0xff.toByte) ++ enc.drop(2)
    val got = Jpeg.decodeJpeg(padded).get
    assert(got.width === want.width && got.height === want.height)
    assert(java.util.Arrays.equals(got.pixels, want.pixels))
    // a standalone TEM (0xff 0x01) between segments carries no length —
    // it must reject cleanly, not be misparsed as a length-bearing segment
    val tem = enc.take(2) ++ Array[Byte](0xff.toByte, 0x01.toByte) ++ enc.drop(2)
    assert(Jpeg.decodeJpeg(tem).isEmpty)
  }

  test("unpadded odd-riffSize WAV at the tail of a container still decodes") {
    def u16le(v: Int) = Array(v.toByte, (v >> 8).toByte)
    def u32le(v: Long) = Array(v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    val data = u16le(7) ++ u16le(0xfff9) // samples 7, -7
    val fmt = u16le(1) ++ u16le(1) ++ u32le(8000) ++ u32le(16000) ++ u16le(2) ++ u16le(16)
    // trailing odd-size ancillary chunk with NO pad byte -> odd riffSize,
    // file ends exactly at the RIFF boundary (spec-sloppy but seen in the
    // wild); the decoder must not demand a pad byte past payload end
    val body = "WAVE".getBytes("US-ASCII") ++
      "fmt ".getBytes("US-ASCII") ++ u32le(16) ++ fmt ++
      "data".getBytes("US-ASCII") ++ u32le(data.length.toLong) ++ data ++
      "note".getBytes("US-ASCII") ++ u32le(3) ++ Array[Byte]('e', 'n', 'd')
    assert(body.length % 2 === 1)
    val odd = "RIFF".getBytes("US-ASCII") ++ u32le(body.length.toLong) ++ body
    assert(Multimodal.decodeWav(odd).exists(_.samples.toSeq === Seq[Short](7, -7)))
    val clipA = Multimodal.encodeWav(Multimodal.PcmAudio(8000, 1, Array[Short](1, 2)))
    val clips = Multimodal.decodeWavFrames(clipA ++ odd)
    assert(clips.length === 2)
    assert(clips(1).samples.toSeq === Seq[Short](7, -7))
  }

  test("progressive JPEG: hand-built fixture decodes to known pixels") {
    // 8x8 flat gray 144, quant all-16: FDCT DC = 8*(144-128) = 128,
    // quantized 8. Built byte by byte from T.81 Annex G with MINIMAL
    // hand tables (DC cats 0-3 at 3 bits, AC table = EOB only), NOT via
    // JpegProgressive.encode — an encoder/decoder pair agreeing on the
    // same wrong scan semantics can't pass. Scans: DC first at Al=1
    // (sends 8>>1 = 4, cat 3 code '011' + bits '100'), AC first 1-63
    // (EOB '00'), DC refine (bit (8>>0)&1 = 0).
    val fix =
      Array(0xff, 0xd8).map(_.toByte) ++
      jseg(0xdb, 0 +: Array.fill(64)(16)) ++
      jseg(0xc2, Array(8, 0, 8, 0, 8, 1, 1, 0x11, 0)) ++
      jseg(0xc4, 0x00 +: (Array(0, 0, 4, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0) ++
        Array(0, 1, 2, 3))) ++
      jseg(0xc4, 0x10 +: (Array(0, 1, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0) ++
        Array(0))) ++
      jseg(0xda, Array(1, 1, 0x00, 0, 0, 0x01)) ++ jbits("01110011") ++
      jseg(0xda, Array(1, 1, 0x00, 1, 63, 0x00)) ++ jbits("00111111") ++
      jseg(0xda, Array(1, 1, 0x00, 0, 0, 0x10)) ++ jbits("01111111") ++
      Array(0xff, 0xd9).map(_.toByte)
    val img = Jpeg.decodeJpeg(fix).get
    assert(img.width === 8 && img.height === 8)
    assert(img.pixels.forall(p => (p & 0xff) === 144), img.pixels.map(_ & 0xff).toSeq)
    // truncating any scan's entropy data rejects (EOI required)
    for (cut <- Seq(1, fix.length / 2, fix.length - 3, fix.length - 1))
      assert(Jpeg.decodeJpeg(fix.take(cut)).isEmpty, s"cut at $cut")
  }

  test("progressive encode decodes pixel-identical to the sequential encode") {
    // Same FDCT + quantizer on both paths, so the SEQUENTIAL decode is
    // the oracle for the whole progressive scan machinery: any
    // first/refine/EOB-run/correction-bit disagreement between the
    // progressive encoder and decoder shows up as a pixel diff against
    // the independently-fixtured baseline path.
    val rnd = new scala.util.Random(7)
    for (trial <- 0 until 60) {
      val w = 1 + rnd.nextInt(40)
      val h = 1 + rnd.nextInt(24)
      val px = trial % 3 match {
        case 0 => // smooth gradient: long EOB runs across blocks
          val ax = rnd.nextInt(9) - 4; val by = rnd.nextInt(9) - 4
          val c = 60 + rnd.nextInt(130)
          Array.tabulate(w * h)(i =>
            math.max(0, math.min(255, c + ax * (i % w) + by * (i / w))).toByte)
        case 1 => // noise: dense AC coefficients, ZRLs, correction bits
          Array.fill(w * h)(rnd.nextInt(256).toByte)
        case _ => // flat: DC-only, maximal EOB runs
          Array.fill(w * h)(rnd.nextInt(256).toByte).map(_ => rnd.nextInt(256).toByte)
      }
      val img = Multimodal.PgmImage(w, h, 255, px)
      val seqDec = Jpeg.decodeJpeg(Jpeg.encodeJpeg(img)).get
      val prog = JpegProgressive.encode(img)
      val progDec = Jpeg.decodeJpeg(prog)
      assert(progDec.isDefined, s"trial $trial ${w}x$h: progressive decode failed")
      assert(progDec.get.width === w && progDec.get.height === h)
      assert(java.util.Arrays.equals(progDec.get.pixels, seqDec.pixels),
        s"trial $trial ${w}x$h: progressive != sequential decode")
    }
    // Large smooth images: EOB runs make per-block cost FAR below one
    // byte (a 512x512 flat image is ~4096 blocks in well under 4 KB of
    // entropy data), so these trials pin the bits-based bomb bound at
    // Jpeg.decodeProgressiveFrom — the old one-block-per-BYTE bound
    // rejected exactly these valid files. Flat and gradient both, at
    // sizes the small random trials above (max 40x24) never reach.
    for ((w, h, kind) <- Seq((128, 128, "flat"), (256, 256, "flat"),
                             (512, 512, "flat"), (512, 512, "gradient"))) {
      val px = kind match {
        case "flat" => Array.fill(w * h)(128.toByte)
        case _ => Array.tabulate(w * h)(i =>
          math.max(0, math.min(255, 40 + (i % w) / 4 + (i / w) / 8)).toByte)
      }
      val img = Multimodal.PgmImage(w, h, 255, px)
      val seqDec = Jpeg.decodeJpeg(Jpeg.encodeJpeg(img)).get
      val progDec = Jpeg.decodeJpeg(JpegProgressive.encode(img))
      assert(progDec.isDefined, s"${w}x$h $kind: progressive decode failed")
      assert(java.util.Arrays.equals(progDec.get.pixels, seqDec.pixels),
        s"${w}x$h $kind: progressive != sequential decode")
    }
  }

  test("progressive JPEG survives fuzzing and mixes with baseline frames") {
    val img = Multimodal.PgmImage(20, 16, 255,
      Array.tabulate(320)(i => ((i * 7) % 251).toByte))
    val prog = JpegProgressive.encode(img)
    // random bit flips must never throw — reject or decode, both fine
    val rnd = new scala.util.Random(11)
    for (_ <- 0 until 300) {
      val mut = prog.clone()
      val at = rnd.nextInt(mut.length)
      mut(at) = (mut(at) ^ (1 << rnd.nextInt(8))).toByte
      Jpeg.decodeJpeg(mut) // must not throw
    }
    // every truncation rejects (EOI is mandatory)
    for (cut <- 0 until prog.length by 7)
      assert(Jpeg.decodeJpeg(prog.take(cut)).isEmpty, s"cut at $cut")
    // a concatenated container may mix progressive and baseline frames
    val base = Jpeg.encodeJpeg(img)
    val frames = Jpeg.decodeJpegFrames(prog ++ base)
    assert(frames.length === 2)
    assert(java.util.Arrays.equals(frames.head.pixels, frames(1).pixels))
  }

  test("JPEG codec: hostile and unsupported inputs reject, never mis-decode") {
    val good = Jpeg.encodeJpeg(
      Multimodal.PgmImage(16, 16, 255, Array.tabulate(256)(i => (i % 251).toByte)))
    assert(Jpeg.decodeJpeg(good).isDefined)
    // truncation (EOI gone, or mid-entropy) rejects
    assert(Jpeg.decodeJpeg(good.dropRight(1)).isEmpty)
    assert(Jpeg.decodeJpeg(good.dropRight(7)).isEmpty)
    // a SOF2 frame carrying a baseline-style full-band scan header
    // (Ss=0, Se=63 — an illegal progressive DC scan, G.1.1.1.1) rejects
    // rather than guessing which coding model the scan uses
    val sofAt = good.indexOfSlice(Array(0xff.toByte, 0xc0.toByte))
    assert(sofAt > 0)
    val prog = good.clone(); prog(sofAt + 1) = 0xc2.toByte
    assert(Jpeg.decodeJpeg(prog).isEmpty)
    assert(Multimodal.decodeFeatures(prog).toSeq === Multimodal.decodeStub(prog).toSeq)
    // decompression bomb: dims whose product overflows Int reject at SOF
    val bomb1 = jseg(0xc0, Array(8, 0xfe, 0xff, 0xfa, 0x00, 1, 1, 0x11, 0))
    assert(Jpeg.decodeJpeg(Array(0xff, 0xd8).map(_.toByte) ++
      jseg(0xdb, 0 +: Array.fill(64)(16)) ++ bomb1).isEmpty)
    // ... and plausible dims (4000x4000 = 250k blocks) over a few
    // entropy bytes reject on the blocks-vs-bytes bound, BEFORE the
    // 16 MB pixel allocation
    val dhtDc = jseg(0xc4, Array(0x00, 0, 2, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 6, 3))
    val dhtAc = jseg(0xc4, Array(0x10, 1, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0x00))
    val bigSof = jseg(0xc0, Array(8, 4000 >> 8, 4000 & 0xff, 4000 >> 8, 4000 & 0xff, 1, 1, 0x11, 0))
    val bomb2 = Array(0xff, 0xd8).map(_.toByte) ++ jseg(0xdb, 0 +: Array.fill(64)(16)) ++
      bigSof ++ dhtDc ++ dhtAc ++ jseg(0xda, Array(1, 1, 0x00, 0, 63, 0)) ++
      Array.fill[Byte](32)(0x55) ++ Array(0xff, 0xd9).map(_.toByte)
    assert(Jpeg.decodeJpeg(bomb2).isEmpty)
    // an over-subscribed Huffman tree (three 1-bit codes) rejects
    val badDht = jseg(0xc4, Array(0x00, 3, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 1, 2))
    assert(Jpeg.decodeJpeg(Array(0xff, 0xd8).map(_.toByte) ++
      jseg(0xdb, 0 +: Array.fill(64)(16)) ++
      jseg(0xc0, Array(8, 0, 8, 0, 8, 1, 1, 0x11, 0)) ++ badDht ++ dhtAc ++
      jseg(0xda, Array(1, 1, 0x00, 0, 63, 0)) ++ jbits("00000000") ++
      Array(0xff, 0xd9).map(_.toByte)).isEmpty)
    // a zero quant entry rejects (division-free guarantee)
    assert(Jpeg.decodeJpeg(Array(0xff, 0xd8).map(_.toByte) ++
      jseg(0xdb, 0 +: (Array.fill(63)(16) :+ 0)) ++ Array(0xff, 0xd9).map(_.toByte)).isEmpty)
  }

  test("JPEG codec: truncated/malformed SOS headers reject cleanly") {
    val dqt = jseg(0xdb, 0 +: Array.fill(64)(16))
    val sof = jseg(0xc0, Array(8, 0, 8, 0, 8, 1, 1, 0x11, 0))
    val dhtDc = jseg(0xc4, Array(0x00, 0, 2, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 6, 3))
    val dhtAc = jseg(0xc4, Array(0x10, 1, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0x00))
    val soi = Array(0xff, 0xd8).map(_.toByte)
    // an empty SOS segment as the FINAL payload bytes: the length field
    // passes the segment bound but the body is zero bytes — must return
    // None, not index one past the array (regression: pre-fix AIOOBE)
    assert(Jpeg.decodeJpeg(soi ++ dqt ++ sof ++ dhtDc ++ dhtAc ++
      jseg(0xda, Array.empty[Int])).isEmpty)
    // non-baseline spectral selection (Ss=1) must reject, not misdecode
    // as a full sequential scan
    assert(Jpeg.decodeJpeg(soi ++ dqt ++ sof ++ dhtDc ++ dhtAc ++
      jseg(0xda, Array(1, 1, 0x00, 1, 63, 0)) ++ jbits("00000000") ++
      Array(0xff, 0xd9).map(_.toByte)).isEmpty)
    // successive-approximation bits (Ah/Al != 0) likewise reject
    assert(Jpeg.decodeJpeg(soi ++ dqt ++ sof ++ dhtDc ++ dhtAc ++
      jseg(0xda, Array(1, 1, 0x00, 0, 63, 0x01)) ++ jbits("00000000") ++
      Array(0xff, 0xd9).map(_.toByte)).isEmpty)
    // a scan selecting a component the SOF never declared rejects
    assert(Jpeg.decodeJpeg(soi ++ dqt ++ sof ++ dhtDc ++ dhtAc ++
      jseg(0xda, Array(1, 2, 0x00, 0, 63, 0)) ++ jbits("00000000") ++
      Array(0xff, 0xd9).map(_.toByte)).isEmpty)
  }

  test("JPEG codec: 2-bit-per-block optimized streams clear the bomb bound") {
    // A legally minimal stream: 1-bit DC code for category 0 and a
    // 1-bit AC EOB make a flat block cost exactly 2 entropy bits. 300
    // such blocks (8x2400) fit in 75 entropy bytes — the old >=3-bit
    // bound falsely rejected this shape (regression); the 2-bit bound
    // must decode it.
    val dqt = jseg(0xdb, 0 +: Array.fill(64)(16))
    val sof = jseg(0xc0, Array(8, 2400 >> 8, 2400 & 0xff, 0, 8, 1, 1, 0x11, 0))
    val dhtDc = jseg(0xc4, Array(0x00, 1, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0))
    val dhtAc = jseg(0xc4, Array(0x10, 1, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0x00))
    val fixture = Array(0xff, 0xd8).map(_.toByte) ++ dqt ++ sof ++ dhtDc ++ dhtAc ++
      jseg(0xda, Array(1, 1, 0x00, 0, 63, 0)) ++ new Array[Byte](75) ++
      Array(0xff, 0xd9).map(_.toByte)
    val img = Jpeg.decodeJpeg(fixture).get
    assert(img.width === 8 && img.height === 2400)
    assert(img.pixels.forall(p => (p & 0xff) === 128)) // DC 0 => level-shift only
  }

  test("JPEG encoder rejects dimensions beyond the SOF0 u16 range") {
    // 70000 > 65535 would truncate mod 65536 in the header — must throw,
    // not silently emit a corrupt stream
    assertThrows[IllegalArgumentException] {
      Jpeg.encodeJpeg(Multimodal.PgmImage(70000, 1, 255, new Array[Byte](70000)))
    }
  }

  test("resampleWav bounds its output size instead of wrapping Int") {
    // frames * newRate / sampleRate > Int.MaxValue: pre-fix this wrapped
    // to a 1-frame output; now it must throw a clear error
    val a = Multimodal.PcmAudio(1, 1, new Array[Short](1 << 20))
    assertThrows[IllegalArgumentException] {
      Multimodal.resampleWav(a, 4000000)
    }
  }

  test("JPEG resize and features run on real pixels through the shared kernels") {
    // flat blocks survive JPEG exactly when (p-128) is even, so the
    // lossy codec still supports exact kernel assertions
    val flat = Multimodal.PgmImage(8, 8, 255, Array.fill[Byte](64)(200.toByte))
    val assets = Seq(Multimodal.Asset(1L, "image",
      Jpeg.encodeJpeg(flat), "s")).toDS()
    val out = Multimodal.resize(assets, w = 4, h = 4).collect().head
    val outImg = Jpeg.decodeJpeg(out.payload).get
    assert(outImg.width === 4 && outImg.height === 4)
    assert(outImg.pixels.forall(p => (p & 0xff) === 200), "JPEG in must mean JPEG out")
    assert(Multimodal.decodePng(out.payload).isEmpty &&
      Multimodal.decodeBmp(out.payload).isEmpty)
    // features: flat-black JPEG -> all luminance mass in histogram bin 0,
    // same as its exact-codec twins
    val black = Multimodal.PgmImage(8, 8, 255, Array.fill[Byte](64)(0))
    val f = Multimodal.decodeFeatures(Jpeg.encodeJpeg(black))
    assert(f.toSeq === Multimodal.decodeFeatures(Multimodal.encodePgm(black)).toSeq)
    assert(f(0) === 1.0f)
  }

  test("JPEG container frame sampling splits at EOI boundaries") {
    val values = Seq(200, 136, 72) // all even (p-128): DC-exact round trips
    val frames = values.map(v =>
      Multimodal.PgmImage(8, 8, 255, Array.fill[Byte](64)(v.toByte)))
    val container = frames.map(Jpeg.encodeJpeg).reduce(_ ++ _)
    assert(Jpeg.decodeJpegFrames(container).length === 3)
    val assets = Seq(Multimodal.Asset(7L, "video", container, "s")).toDS()
    val got = Multimodal.sampleFrames(assets, frameBytes = 16, stride = 2)
      .orderBy("frame_idx").collect()
    assert(got.map(_.frame_idx).toSeq === Seq(0, 2))
    assert(got.forall(_.n_frames_total === 3))
    got.foreach { fr =>
      val img = Jpeg.decodeJpeg(fr.frame).get
      assert(img.pixels.forall(p => (p & 0xff) === values(fr.frame_idx)))
    }
    // trailing garbage past the last EOI disqualifies the container
    assert(Jpeg.decodeJpegFrames(container :+ 0x00.toByte).isEmpty)
  }

  test("Y4M video frame sampling splits at FRAME boundaries") {
    import graft.operators.Y4m
    val values = Seq(10, 20, 30, 40)
    val frames = values.map(v =>
      Multimodal.PgmImage(4, 2, 255, Array.fill[Byte](8)(v.toByte))).toVector
    val video = Y4m.Y4mVideo(4, 2, 30, 1, "420", frames)
    val assets = Seq(Multimodal.Asset(8L, "video", Y4m.encodeY4m(video), "s")).toDS()
    val got = Multimodal.sampleFrames(assets, frameBytes = 16, stride = 2)
      .orderBy("frame_idx").collect()
    assert(got.map(_.frame_idx).toSeq === Seq(0, 2))
    assert(got.forall(_.n_frames_total === 4))
    got.foreach { fr =>
      // each emitted frame is a complete single-frame .y4m carrying the
      // parent's header (dims, rate, chroma)
      val one = Y4m.decodeY4m(fr.frame).get
      assert(one.width === 4 && one.chroma === "420" && one.frames.length === 1)
      assert(one.frames.head.pixels.forall(p => (p & 0xff) === values(fr.frame_idx)))
    }
  }

  test("property: JPEG round-trips are lossy-bounded; flat images exact to +-1") {
    import org.scalacheck.{Gen, Prop}
    import org.scalacheck.Test.{check => scCheck, Parameters}
    // flat images: only the DC coefficient is nonzero, so the error is
    // the DC quantization rounding alone: |err| <= quant(0)/(2*8) = 1
    val genFlat = for {
      w <- Gen.choose(1, 37)
      h <- Gen.choose(1, 19)
      v <- Gen.choose(0, 255)
    } yield Multimodal.PgmImage(w, h, 255, Array.fill[Byte](w * h)(v.toByte))
    val flatProp = Prop.forAll(genFlat) { img =>
      val back = Jpeg.decodeJpeg(Jpeg.encodeJpeg(img)).get
      back.width == img.width && back.height == img.height &&
        back.pixels.indices.forall(i =>
          math.abs((back.pixels(i) & 0xff) - (img.pixels(i) & 0xff)) <= 1)
    }
    assert(scCheck(Parameters.default.withMinSuccessfulTests(50), flatProp).passed)
    // smooth gradients: low-frequency energy, quantized by the small
    // top-left Annex K entries — empirically < 8, asserted at <= 12 to
    // leave headroom without letting a broken IDCT (errors ~100) pass
    val genGrad = for {
      w <- Gen.choose(2, 33)
      h <- Gen.choose(2, 21)
      ax <- Gen.choose(-3, 3)
      by <- Gen.choose(-3, 3)
      c <- Gen.choose(60, 190)
    } yield Multimodal.PgmImage(w, h, 255, Array.tabulate(w * h) { i =>
      math.max(0, math.min(255, c + ax * (i % w) + by * (i / w))).toByte
    })
    val gradProp = Prop.forAll(genGrad) { img =>
      val enc = Jpeg.encodeJpeg(img)
      val back = Jpeg.decodeJpeg(enc).get
      java.util.Arrays.equals(enc, Jpeg.encodeJpeg(img)) && // deterministic
        back.width == img.width && back.height == img.height &&
        back.pixels.indices.forall(i =>
          math.abs((back.pixels(i) & 0xff) - (img.pixels(i) & 0xff)) <= 12)
    }
    assert(scCheck(Parameters.default.withMinSuccessfulTests(50), gradProp).passed)
  }

  test("trimSilence: edges — all-silent, no-silence, boundary amp, unaligned tail") {
    import Multimodal.{PcmAudio, trimSilence}
    def pcm(ss: Seq[Int]) = PcmAudio(8000, 1, ss.map(_.toShort).toArray)
    // all-silent clip: everything attributed to the lead cut
    val (l1, t1, k1) = trimSilence(pcm(Seq.fill(64)(0)))
    assert((l1, t1, k1.samples.length) === ((64, 0, 0)))
    // no silence at all: untouched
    val loud = Seq.tabulate(64)(i => if (i % 2 == 0) 5000 else -5000)
    val (l2, t2, k2) = trimSilence(pcm(loud))
    assert((l2, t2, k2.samples.length) === ((0, 0, 64)))
    // threshold is >=: a 1024-amp window is LOUD, 1023 is silent
    val (l3, _, _) = trimSilence(pcm(Seq.fill(16)(1023) ++ Seq.fill(16)(1024)))
    assert(l3 === 16, "1023 must trim, 1024 must survive")
    // shorter than one window, silent: whole clip goes
    val (l4, t4, k4) = trimSilence(pcm(Seq.fill(7)(3)))
    assert(l4 === 7 && t4 === 0 && k4.samples.length === 0)
    // unaligned length: the partial FINAL window trims only if silent
    val (_, t5, k5) = trimSilence(pcm(loud ++ Seq.fill(9)(0)))
    assert(t5 === 9 && k5.samples.length === 64)
    val (_, t6, k6) = trimSilence(pcm(loud ++ Seq.fill(8)(0) :+ 4000))
    assert(t6 === 0 && k6.samples.length === 73, "a loud partial tail must survive")
    // one loud sample inside a silent run stops the cut at its window
    val (l7, _, _) = trimSilence(pcm(Seq.fill(16)(0) ++ (Seq.fill(5)(0) :+ 2000) ++
      Seq.fill(10)(0) ++ loud))
    assert(l7 === 16, "the window holding the first loud sample must survive")
  }
}
