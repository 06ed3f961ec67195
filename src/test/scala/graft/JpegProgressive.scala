package graft.operators

import graft.operators.Multimodal.PgmImage
import graft.operators.Jpeg._

/** Test encoder for the progressive (SOF2) decode path: nothing in the
  * engine writes progressive JPEG, so the encoder lives with the specs
  * that feed the decoder with it. It shares the baseline encoder's
  * FDCT, quantizer, DC table and bit writer (`Jpeg`'s package-private
  * encoder parts).
  */
object JpegProgressive {
  // AC table for the PROGRESSIVE encoder: the Annex K baseline table
  // has no EOBn symbols above EOB0 (sequential coding never emits
  // them), so progressive scans need their own table. A fixed flat
  // table — all 256 run/size symbols at 8 or 9 bits — is valid,
  // self-describing (written into DHT), and leaves every all-1-bits
  // code unused so byte-pad bits can never alias a symbol.
  private val ProgAcBits: Array[Int] = {
    val b = new Array[Int](16)
    b(7) = 128 // symbols 0x00-0x7f at 8 bits ('0' + 7)
    b(8) = 128 // symbols 0x80-0xff at 9 bits ('10' + 7)
    b
  }
  private val ProgAcVals: Array[Int] = (0 until 256).toArray
  private lazy val ProgAcCodes = buildCodes(ProgAcBits, ProgAcVals)

  /** Serialize as PROGRESSIVE grayscale JPEG (SOF2) with libjpeg's
    * classic 6-scan luminance script — DC first (Al=1), AC first bands
    * 1-5 and 6-63 (Al=2), full-band AC refinement to Al=1, the DC
    * refinement bit, and the final AC refinement to Al=0 — so one
    * encode exercises every progressive scan TYPE (DC/AC x
    * first/refine), EOB runs, ZRL-with-corrections, and buffered
    * correction bits. Same FDCT + quantizer as [[Jpeg.encodeJpeg]], so the
    * two encodings decode to IDENTICAL pixels (asserted in tests: the
    * independently-validated sequential path is the oracle for this
    * one).
    */
  def encode(img: PgmImage): Array[Byte] = {
    require(img.width > 0 && img.height > 0, "empty image")
    require(img.width <= 0xffff && img.height <= 0xffff,
      s"JPEG dimensions exceed u16: ${img.width}x${img.height}")
    val bw = (img.width + 7) / 8
    val bh = (img.height + 7) / 8
    val blocks = new Array[Array[Int]](bw * bh)
    locally {
      val block = new Array[Double](64)
      val tmp = new Array[Double](64)
      var by = 0
      while (by < bh) {
        var bx = 0
        while (bx < bw) {
          val c = new Array[Int](64)
          fdctQuantBlock(img, bx, by, block, tmp, c)
          blocks(by * bw + bx) = c
          bx += 1
        }
        by += 1
      }
    }
    val bos = new java.io.ByteArrayOutputStream()
    def m(marker: Int): Unit = { bos.write(0xff); bos.write(marker) }
    def seg(marker: Int, body: Array[Int]): Unit = {
      m(marker); bos.write((body.length + 2) >> 8); bos.write((body.length + 2) & 0xff)
      body.foreach(bos.write)
    }
    m(0xd8) // SOI
    seg(0xdb, 0 +: Array.tabulate(64)(z => StdQuant(Zigzag(z))))
    seg(0xc2, Array(8, // SOF2: precision
      img.height >> 8, img.height & 0xff, img.width >> 8, img.width & 0xff,
      1, 1, 0x11, 0)) // 1 component, id 1, 1x1 sampling, quant 0
    seg(0xc4, 0x00 +: (StdDcBits ++ StdDcVals)) // DHT DC 0
    seg(0xc4, 0x10 +: (ProgAcBits ++ ProgAcVals)) // DHT AC 0 (flat table)
    def sos(ss: Int, se: Int, ah: Int, al: Int): Unit =
      seg(0xda, Array(1, 1, 0x00, ss, se, (ah << 4) | al))

    // ---- scan 1: DC first, Al=1 (diff chain over the SHIFTED values)
    sos(0, 0, 0, 1)
    locally {
      val w = new BitWriter(bos)
      var pred = 0
      blocks.foreach { c =>
        val v = c(0) >> 1 // arithmetic shift: the DC point transform
        val diff = v - pred
        pred = v
        val s = category(diff)
        val (dc, dl) = DcCodes(s)
        w.write(dc, dl)
        if (s > 0) w.write(if (diff < 0) diff + (1 << s) - 1 else diff, s)
      }
      w.flushWithOnes()
    }

    // ---- AC first scan of one band (§G.1.2.2 semantics)
    def acFirst(ss: Int, se: Int, al: Int): Unit = {
      sos(ss, se, 0, al)
      val w = new BitWriter(bos)
      var eobrun = 0
      def emitEobrun(): Unit = if (eobrun > 0) {
        var nb = 0
        var t = eobrun
        while (t > 1) { t >>= 1; nb += 1 }
        val (c0, l0) = ProgAcCodes(nb << 4)
        w.write(c0, l0)
        if (nb > 0) w.write(eobrun & ((1 << nb) - 1), nb)
        eobrun = 0
      }
      blocks.foreach { c =>
        var r = 0
        var k = ss
        while (k <= se) {
          val raw = c(Zigzag(k))
          val v = if (raw < 0) -((-raw) >> al) else raw >> al // toward zero
          if (v == 0) r += 1
          else {
            emitEobrun()
            while (r > 15) { val (z, zl) = ProgAcCodes(0xf0); w.write(z, zl); r -= 16 }
            val size = category(v)
            val (ac, alen) = ProgAcCodes((r << 4) | size)
            w.write(ac, alen)
            w.write(if (v < 0) v + (1 << size) - 1 else v, size)
            r = 0
          }
          k += 1
        }
        if (r > 0) { eobrun += 1; if (eobrun == 0x7fff) emitEobrun() }
      }
      emitEobrun()
      w.flushWithOnes()
    }

    // ---- AC refinement scan (§G.1.2.3): newly-significant coefficients
    // carry (run, 1) + sign; already-nonzero ones contribute correction
    // bits BUFFERED until the next emitted symbol or EOB run
    def acRefine(ss: Int, se: Int, ah: Int, al: Int): Unit = {
      sos(ss, se, ah, al)
      val w = new BitWriter(bos)
      var eobrun = 0
      val runBits = new scala.collection.mutable.ArrayBuffer[Int]() // ride the EOB run
      def emitEobrun(): Unit = {
        if (eobrun > 0) {
          var nb = 0
          var t = eobrun
          while (t > 1) { t >>= 1; nb += 1 }
          val (c0, l0) = ProgAcCodes(nb << 4)
          w.write(c0, l0)
          if (nb > 0) w.write(eobrun & ((1 << nb) - 1), nb)
          eobrun = 0
        }
        runBits.foreach(b => w.write(b, 1))
        runBits.clear()
      }
      val absv = new Array[Int](64)
      blocks.foreach { c =>
        var eob = ss - 1 // last newly-significant index; band is EOB past it
        var k = ss
        while (k <= se) {
          val a = math.abs(c(Zigzag(k))) >> al
          absv(k) = a
          if (a == 1) eob = k
          k += 1
        }
        var r = 0
        val pending = new scala.collection.mutable.ArrayBuffer[Int]()
        k = ss
        while (k <= se) {
          val a = absv(k)
          if (a == 0) r += 1
          else {
            // ZRLs only when they can't fold into the EOB run
            while (r > 15 && k <= eob) {
              emitEobrun()
              val (z, zl) = ProgAcCodes(0xf0)
              w.write(z, zl)
              r -= 16
              pending.foreach(b => w.write(b, 1))
              pending.clear()
            }
            if (a > 1) pending += (a & 1) // history coefficient: correction bit
            else {
              emitEobrun()
              val (ac, alen) = ProgAcCodes((r << 4) | 1)
              w.write(ac, alen)
              w.write(if (c(Zigzag(k)) < 0) 0 else 1, 1)
              pending.foreach(b => w.write(b, 1))
              pending.clear()
              r = 0
            }
          }
          k += 1
        }
        if (r > 0 || pending.nonEmpty) {
          eobrun += 1
          runBits ++= pending
          if (eobrun == 0x7fff) emitEobrun()
        }
      }
      emitEobrun()
      w.flushWithOnes()
    }

    acFirst(1, 5, 2) // scan 2
    acFirst(6, 63, 2) // scan 3
    acRefine(1, 63, 2, 1) // scan 4
    // ---- scan 5: DC refinement — the next lower DC bit, one per block
    sos(0, 0, 1, 0)
    locally {
      val w = new BitWriter(bos)
      blocks.foreach(c => w.write(c(0) & 1, 1))
      w.flushWithOnes()
    }
    acRefine(1, 63, 1, 0) // scan 6
    m(0xd9) // EOI
    bos.toByteArray
  }
}
