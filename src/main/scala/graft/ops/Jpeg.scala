package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

import MediaBytes.{be16, u8}

/** REAL baseline JPEG pixel decode — pure JVM end to end (ITU T.81
  * baseline sequential DCT, SOF0): marker walk collecting DQT/DHT/DRI,
  * canonical Huffman entropy decode with byte-unstuffing and restart
  * markers, dequantization, 8x8 inverse DCT, chroma upsampling and
  * JFIF YCbCr -> RGB. The marker walk, [[walkMarkers]], is also
  * [[Multimodal.ImageCodec]]'s dimension sniff. Progressive (SOF2),
  * arithmetic coding, 12-bit precision and sampling factors above 2
  * classify as undecodable rather than throwing — the broken-file-skip
  * discipline (reference s3.rb:292-301 applied to media).
  *
  * Supported profile: SOF0, 8-bit precision, 1 component (grayscale)
  * or 3 components (YCbCr) with per-component sampling factors in
  * {1, 2} (covers 4:4:4, 4:2:2, 4:2:0), interleaved single scan,
  * optional restart intervals. Everything hostile is bounded: every
  * entropy read goes through ONE bounds-checked bit reader (no
  * exception-driven control flow), and the decoded buffer is gated at
  * [[MaxDecodedBytes]] BEFORE allocation with per-dimension caps
  * first (the m05/round-7 overflow discipline).
  *
  * Determinism contract (what the m08 oracle leans on): the IDCT is
  * double-precision separable with the exact T.81 basis, sample
  * reconstruction is floor(s + 128 + 0.5) clamped to [0,255], and
  * color conversion is floor(x + 0.5) over the JFIF constants — both
  * engines evaluate bit-identical IEEE doubles, so the comparison is
  * hash-exact.
  */
object Jpeg {

  /** Zip-bomb gate, shared shape with PixelCodec: one crafted small
    * blob declaring huge dims must not allocate gigabytes.
    */
  private val MaxDecodedBytes = 1L << 26 // 64 MiB

  /** Zig-zag order: ZigZag(k) = natural (row-major) index of the k-th
    * coefficient in transmission order (T.81 Figure 5).
    */
  private val ZigZag: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63)

  /** IDCT basis: Cos(u)(x) = C(u)/2 * cos((2x+1) u pi / 16). */
  private val Cos: Array[Array[Double]] = Array.tabulate(8, 8) { (u, x) =>
    val cu = if (u == 0) 1.0 / math.sqrt(2.0) else 1.0
    cu / 2.0 * math.cos((2 * x + 1) * u * math.Pi / 16.0)
  }

  /** Canonical Huffman table in the T.81 DECODE-procedure form. */
  private final class HuffTable(counts: Array[Int], vals: Array[Int]) {
    // mincode/maxcode/valptr indexed by code length 1..16
    val minCode = new Array[Int](17)
    val maxCode = new Array[Int](17)
    val valPtr = new Array[Int](17)
    val values: Array[Int] = vals
    locally {
      var code = 0
      var k = 0
      var l = 1
      while (l <= 16) {
        valPtr(l) = k
        minCode(l) = code
        code += counts(l - 1)
        k += counts(l - 1)
        maxCode(l) = if (counts(l - 1) == 0) -1 else code - 1
        code <<= 1
        l += 1
      }
    }
  }

  /** Bounds-checked MSB-first bit reader over the entropy-coded scan:
    * FF 00 unstuffs to a data FF; FF D0-D7 is a restart marker
    * (consumed by [[restart]]); any other FF-marker or running off the
    * payload sets `dead` — every downstream read then fails fast and
    * the decode classifies as undecodable. No exceptions anywhere.
    */
  private final class BitReader(p: Array[Byte], var pos: Int) {
    var dead = false
    private var bits = 0
    private var nBits = 0

    private def loadByte(): Boolean = {
      if (pos >= p.length) { dead = true; return false }
      val b = p(pos) & 0xff
      if (b != 0xff) { pos += 1; bits = (bits << 8) | b; nBits += 8; true }
      else {
        if (pos + 1 >= p.length) { dead = true; return false }
        val m = p(pos + 1) & 0xff
        if (m == 0x00) { // stuffed data FF
          pos += 2; bits = (bits << 8) | 0xff; nBits += 8; true
        } else { dead = true; false } // marker: scan data ends here
      }
    }

    def nextBit(): Int = {
      if (dead) return -1
      if (nBits == 0 && !loadByte()) return -1
      nBits -= 1
      (bits >>> nBits) & 1
    }

    /** RECEIVE: `n` bits MSB-first; -1 on exhaustion. */
    def receive(n: Int): Int = {
      var v = 0
      var i = 0
      while (i < n) {
        val b = nextBit()
        if (b < 0) return -1
        v = (v << 1) | b
        i += 1
      }
      v
    }

    /** T.81 DECODE: one Huffman symbol, or -1. */
    def decode(t: HuffTable): Int = {
      var code = nextBit()
      if (code < 0) return -1
      var l = 1
      while (l <= 16) {
        if (t.maxCode(l) >= 0 && code <= t.maxCode(l) &&
          code >= t.minCode(l)) {
          val idx = t.valPtr(l) + code - t.minCode(l)
          if (idx >= t.values.length) { dead = true; return -1 }
          return t.values(idx)
        }
        val b = nextBit()
        if (b < 0) return -1
        code = (code << 1) | b
        l += 1
      }
      dead = true // no code of any length matched: corrupt table/stream
      -1
    }

    /** Byte-align and consume the expected RST marker; false = corrupt. */
    def restart(expected: Int): Boolean = {
      if (dead) return false
      nBits = 0 // discard padding bits to the byte boundary
      if (pos + 1 >= p.length) { dead = true; return false }
      if ((p(pos) & 0xff) != 0xff ||
        (p(pos + 1) & 0xff) != (0xd0 + expected)) {
        dead = true; return false
      }
      pos += 2
      true
    }
  }

  /** EXTEND (T.81 F.2.2.1): map a `size`-bit magnitude to its signed
    * coefficient value.
    */
  private def extend(v: Int, size: Int): Int =
    if (size == 0) 0
    else if (v < (1 << (size - 1))) v - (1 << size) + 1
    else v

  private final case class Component(id: Int, h: Int, v: Int, tq: Int,
      var td: Int = -1, var ta: Int = -1)

  /** A SOFn frame-header marker: C0-CF except C4 (DHT), C8 (JPG
    * extension) and CC (DAC).
    */
  private[ops] def isSof(m: Int): Boolean =
    m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc

  /** The one marker-segment walk (T.81 B.1) from just after SOI,
    * skipping fill bytes (B.1.1.2) and the length-less RST0-7/TEM. Each
    * segment goes to `segment(marker, bodyStart, len)` (`len` counts
    * itself; the body may run past the payload end — each caller says
    * how much it needs), which returns whether to walk on. Lost marker
    * alignment, a cut fill run or length, a length < 2 and EOI end it.
    */
  private[ops] def walkMarkers(p: Array[Byte])(
      segment: (Int, Int, Int) => Boolean): Unit = {
    var i = 2
    while (i + 3 < p.length) {
      if (u8(p, i) != 0xff) return // lost marker alignment
      var j = i
      while (j + 1 < p.length && u8(p, j + 1) == 0xff) j += 1 // fill
      if (j + 1 >= p.length) return // cut mid fill-run
      val m = u8(p, j + 1)
      if (m == 0xd9) return // EOI
      else if ((m >= 0xd0 && m <= 0xd7) || m == 0x01) i = j + 2
      else {
        if (j + 3 >= p.length) return
        val len = be16(p, j + 2)
        if (len < 2 || !segment(m, j + 4, len)) return
        i = j + 2 + len
      }
    }
  }

  /** Decode a baseline JPEG payload to raw samples — grayscale
    * (channels = 1) or interleaved RGB (channels = 3); None for
    * anything outside the profile, corrupt, truncated or oversized.
    */
  def decodeBaseline(p: Array[Byte]): Option[Multimodal.PixelCodec.Pixels] = {
    if (p == null || p.length < 4 || u8(p, 0) != 0xff || u8(p, 1) != 0xd8)
      return None
    val quant = new Array[Array[Int]](4) // natural order
    val dcTabs = new Array[HuffTable](4)
    val acTabs = new Array[HuffTable](4)
    var dri = 0
    var frame: Option[(Int, Int, Array[Component])] = None
    var pixels: Option[Multimodal.PixelCodec.Pixels] = None // the scan
    // one segment, which must fit the payload whole; false ends the
    // walk: at the scan, or on a corrupt or unsupported segment
    def segment(m: Int, b: Int, len: Int): Boolean = {
      val e = b - 2 + len // segment end (exclusive)
      if (e > p.length) return false
      m match {
        case 0xdb => // DQT: one or more tables
          var q = b
          while (q < e) {
            val pq = u8(p, q) >> 4
            val tq = u8(p, q) & 0x0f
            if (tq > 3 || pq > 1) return false
            val entryBytes = if (pq == 0) 1 else 2
            if (q + 1 + 64 * entryBytes > e) return false
            val t = new Array[Int](64)
            var k = 0
            while (k < 64) {
              t(ZigZag(k)) =
                if (pq == 0) u8(p, q + 1 + k)
                else be16(p, q + 1 + 2 * k)
              k += 1
            }
            quant(tq) = t
            q += 1 + 64 * entryBytes
          }
          true
        case 0xc4 => // DHT: one or more tables
          var q = b
          while (q < e) {
            if (q + 17 > e) return false
            val tc = u8(p, q) >> 4
            val th = u8(p, q) & 0x0f
            if (tc > 1 || th > 3) return false
            val counts = Array.tabulate(16)(k => u8(p, q + 1 + k))
            val n = counts.sum
            if (n > 256 || q + 17 + n > e) return false
            val vals = Array.tabulate(n)(k => u8(p, q + 17 + k))
            val tab = new HuffTable(counts, vals)
            if (tc == 0) dcTabs(th) = tab else acTabs(th) = tab
            q += 17 + n
          }
          true
        case 0xdd => // DRI
          if (len != 4) return false
          dri = be16(p, b)
          true
        case 0xc0 => // SOF0: baseline sequential
          if (frame.isDefined || len < 8) return false
          val prec = u8(p, b)
          val h = be16(p, b + 1)
          val w = be16(p, b + 3)
          val nf = u8(p, b + 5)
          if (prec != 8 || w <= 0 || h <= 0) return false
          if (nf != 1 && nf != 3) return false
          if (len != 8 + 3 * nf) return false
          val comps = Array.tabulate(nf) { c =>
            val o = b + 6 + 3 * c
            Component(u8(p, o), u8(p, o + 1) >> 4, u8(p, o + 1) & 0x0f,
              u8(p, o + 2))
          }
          if (comps.exists(c => c.h < 1 || c.h > 2 || c.v < 1 ||
            c.v > 2 || c.tq > 3)) return false
          frame = Some((w, h, comps))
          true
        case sof if isSof(sof) =>
          false // progressive/arithmetic/hierarchical/12-bit
        case 0xda => // SOS: decode the single interleaved scan
          val (w, h, comps) = frame match {
            case Some(f) => f
            case None => return false
          }
          if (len < 6) return false
          val ns = u8(p, b)
          if (ns != comps.length || len != 6 + 2 * ns) return false
          var q = b + 1
          var c = 0
          while (c < ns) {
            val cs = u8(p, q)
            val comp = comps.find(_.id == cs) match {
              case Some(cm) => cm
              case None => return false
            }
            comp.td = u8(p, q + 1) >> 4
            comp.ta = u8(p, q + 1) & 0x0f
            if (comp.td > 3 || comp.ta > 3) return false
            q += 2
            c += 1
          }
          // baseline full scan: Ss=0, Se=63, Ah=Al=0
          if (u8(p, q) == 0 && u8(p, q + 1) == 63 && u8(p, q + 2) == 0)
            pixels = decodeScan(p, e, w, h, comps, quant, dcTabs, acTabs,
              dri)
          false
        case _ => true // APPn/COM/...: skipped
      }
    }
    walkMarkers(p)(segment)
    pixels // None when no SOS was reached
  }

  private def decodeScan(p: Array[Byte], scanStart: Int, w: Int, h: Int,
      comps: Array[Component], quant: Array[Array[Int]],
      dcTabs: Array[HuffTable], acTabs: Array[HuffTable],
      dri: Int): Option[Multimodal.PixelCodec.Pixels] = {
    val nf = comps.length
    val hMax = comps.map(_.h).max
    val vMax = comps.map(_.v).max
    // every referenced table must have been declared
    var c = 0
    while (c < nf) {
      val cm = comps(c)
      if (cm.tq < 0 || quant(cm.tq) == null) return None
      if (cm.td < 0 || dcTabs(cm.td) == null) return None
      if (cm.ta < 0 || acTabs(cm.ta) == null) return None
      c += 1
    }
    // size gates BEFORE allocation; w,h are 16-bit so the products are
    // safe in Long, but the decoded output + padded planes must fit
    val mcuW = 8 * hMax
    val mcuH = 8 * vMax
    val nMcuX = (w + mcuW - 1) / mcuW
    val nMcuY = (h + mcuH - 1) / mcuH
    val planeBytes = comps.map(cm =>
      (nMcuX.toLong * cm.h * 8) * (nMcuY.toLong * cm.v * 8)).sum
    if (w.toLong * h * nf + planeBytes > MaxDecodedBytes) return None
    // per-component padded sample planes
    val planeW = comps.map(cm => nMcuX * cm.h * 8)
    val planes = comps.zipWithIndex.map { case (cm, ci) =>
      new Array[Byte](planeW(ci) * (nMcuY * cm.v * 8))
    }
    val br = new BitReader(p, scanStart)
    val pred = new Array[Int](nf)
    val coef = new Array[Int](64)
    val tmp = new Array[Double](64)
    var mcu = 0
    val nMcu = nMcuX * nMcuY
    var rstIdx = 0
    while (mcu < nMcu) {
      if (dri > 0 && mcu > 0 && mcu % dri == 0) {
        if (!br.restart(rstIdx)) return None
        rstIdx = (rstIdx + 1) & 7
        java.util.Arrays.fill(pred, 0)
      }
      val my = mcu / nMcuX
      val mx = mcu % nMcuX
      c = 0
      while (c < nf) {
        val cm = comps(c)
        val qt = quant(cm.tq)
        var by = 0
        while (by < cm.v) {
          var bx = 0
          while (bx < cm.h) {
            java.util.Arrays.fill(coef, 0)
            // DC — category is at most 11 for 8-bit precision
            // (T.81 F.1.2.1.1); a bigger declared category is a
            // corrupt stream, not a bigger number
            val t = br.decode(dcTabs(cm.td))
            if (t < 0 || t > 11) return None
            val diffBits = br.receive(t)
            if (diffBits < 0) return None
            pred(c) += extend(diffBits, t)
            coef(0) = pred(c) * qt(0)
            // AC
            var k = 1
            var eob = false
            while (!eob && k < 64) {
              val rs = br.decode(acTabs(cm.ta))
              if (rs < 0) return None
              val r = rs >> 4
              val s = rs & 0x0f
              if (s == 0) {
                if (r == 15) k += 16 // ZRL
                else eob = true // EOB
              } else {
                if (s > 10) return None // 8-bit AC size cap (F.1.2.2.1)
                k += r
                if (k > 63) return None
                val v = br.receive(s)
                if (v < 0) return None
                coef(ZigZag(k)) = extend(v, s) * qt(ZigZag(k))
                k += 1
              }
            }
            idctBlock(coef, tmp, planes(c), planeW(c),
              (mx * cm.h + bx) * 8, (my * cm.v + by) * 8)
            bx += 1
          }
          by += 1
        }
        c += 1
      }
      mcu += 1
    }
    // assemble output: crop planes, upsample chroma, color-convert
    val out = new Array[Byte](w * h * nf)
    if (nf == 1) {
      val pw = planeW(0)
      var y = 0
      while (y < h) {
        System.arraycopy(planes(0), y * pw, out, y * w, w)
        y += 1
      }
    } else {
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          def sample(ci: Int): Int = {
            val cm = comps(ci)
            val sx = x * cm.h / hMax
            val sy = y * cm.v / vMax
            planes(ci)(sy * planeW(ci) + sx) & 0xff
          }
          val yy = sample(0).toDouble
          val cb = sample(1) - 128.0
          val cr = sample(2) - 128.0
          val o = (y * w + x) * 3
          out(o) = clamp255(math.floor(yy + 1.402 * cr + 0.5))
          out(o + 1) = clamp255(math.floor(
            yy - 0.344136 * cb - 0.714136 * cr + 0.5))
          out(o + 2) = clamp255(math.floor(yy + 1.772 * cb + 0.5))
          x += 1
        }
        y += 1
      }
    }
    Some(Multimodal.PixelCodec.Pixels(w, h, nf, out))
  }

  private def clamp255(v: Double): Byte =
    (if (v < 0) 0 else if (v > 255) 255 else v.toInt).toByte

  // ------------------------------------------------------------------
  // Deterministic REAL JPEG fixtures for the m08 oracle — DC-only
  // blocks, so every decoded sample has a CLOSED FORM the oracle
  // recomputes without touching a JPEG byte: the IDCT of a DC-only
  // block is flat, s = DC*q00/8 exactly, and the fixture pins
  // q00 = 8*qf so sample = dc*qf + 128 in exact integers (no rounding
  // boundary for the double IDCT to sit on). Variants fork on id:
  // grayscale 4:4:4 / color 4:4:4 / color 4:2:0; dims are MCU-aligned
  // (non-aligned crops are OpsSpec's job, against the naive reference
  // IDCT). AC coefficients and restart markers are likewise OpsSpec
  // coverage — the oracle keeps the closed form.
  // ------------------------------------------------------------------

  /** (width, height, mode): mode 0 = grayscale 4:4:4, 1 = color 4:4:4,
    * 2 = color 4:2:0.
    */
  def synthJpegParams(id: Long): (Int, Int, Int) = (
    16 * (1 + Math.floorMod(id * 2654435761L, 3L).toInt),
    16 * (1 + Math.floorMod(id * 40503L, 2L).toInt),
    (id % 3).toInt)

  def synthJpegQf(id: Long): Int = 1 + (id % 4).toInt // luma q00 = 8*qf
  def synthJpegQfC(id: Long): Int = 1 + (id % 3).toInt // chroma

  /** Per-LUMA-BLOCK DC values (block coords in the full-resolution
    * 8x8 grid; chroma in 4:2:0 uses (bx/2, by/2)).
    */
  def synthJpegDcY(id: Long, bx: Int, by: Int): Int =
    Math.floorMod(id * 7 + bx * 3 + by * 5, 32L).toInt - 16
  def synthJpegDcCb(id: Long, bx: Int, by: Int): Int =
    Math.floorMod(id * 11 + bx * 5 + by * 7, 24L).toInt - 12
  def synthJpegDcCr(id: Long, bx: Int, by: Int): Int =
    Math.floorMod(id * 13 + bx * 7 + by * 3, 24L).toInt - 12

  /** MSB-first bit writer with FF byte-stuffing, 1-padded at flush
    * (T.81 F.1.2.3).
    */
  private final class BitWriter(out: java.io.ByteArrayOutputStream) {
    private var acc = 0
    private var n = 0
    def bit(b: Int): Unit = {
      acc = (acc << 1) | (b & 1); n += 1
      if (n == 8) {
        out.write(acc & 0xff)
        if ((acc & 0xff) == 0xff) out.write(0x00)
        acc = 0; n = 0
      }
    }
    def bits(v: Int, len: Int): Unit = {
      var i = len - 1
      while (i >= 0) { bit((v >>> i) & 1); i -= 1 }
    }
    def pad(): Unit = while (n != 0) bit(1)
  }

  /** Encode one DC-only block: 4-bit DC category code (the fixture's
    * canonical DC table is 12 codes of length 4, so code(cat) == cat),
    * the diff's magnitude bits, then the 1-bit AC EOB code "0".
    */
  private def writeDcOnlyBlock(bw: BitWriter, diff: Int): Unit = {
    val t = if (diff == 0) 0
      else 32 - Integer.numberOfLeadingZeros(math.abs(diff))
    bw.bits(t, 4)
    if (t > 0)
      bw.bits(if (diff >= 0) diff else diff + (1 << t) - 1, t)
    bw.bit(0) // EOB
  }

  /** A complete baseline JPEG with the closed-form DC-only content.
    * `restartEvery` > 0 inserts DRI + RST markers every that many MCUs
    * (decoded values are IDENTICAL — DC predictors reset on both
    * sides — which is exactly what the OpsSpec restart test asserts).
    */
  def synthJpegPayload(id: Long, restartEvery: Int = 0): Array[Byte] = {
    val (w, h, mode) = synthJpegParams(id)
    val nf = if (mode == 0) 1 else 3
    val out = new java.io.ByteArrayOutputStream()
    def marker(m: Int, body: Array[Byte]): Unit = {
      out.write(0xff); out.write(m)
      val len = body.length + 2
      out.write(len >> 8); out.write(len & 0xff)
      out.write(body, 0, body.length)
    }
    out.write(0xff); out.write(0xd8) // SOI
    def dqt(tq: Int, q00: Int): Array[Byte] = {
      val b = new Array[Byte](65)
      b(0) = tq.toByte
      b(1) = q00.toByte // zigzag 0 == DC
      var k = 2
      while (k < 65) { b(k) = 16; k += 1 } // unused with DC-only content
      b
    }
    marker(0xdb, dqt(0, 8 * synthJpegQf(id)))
    if (nf == 3) marker(0xdb, dqt(1, 8 * synthJpegQfC(id)))
    if (restartEvery > 0)
      marker(0xdd, Array((restartEvery >> 8).toByte,
        (restartEvery & 0xff).toByte))
    val sof = new java.io.ByteArrayOutputStream()
    sof.write(8) // precision
    sof.write(h >> 8); sof.write(h & 0xff)
    sof.write(w >> 8); sof.write(w & 0xff)
    sof.write(nf)
    sof.write(1); sof.write(if (mode == 2) 0x22 else 0x11); sof.write(0)
    if (nf == 3) {
      sof.write(2); sof.write(0x11); sof.write(1)
      sof.write(3); sof.write(0x11); sof.write(1)
    }
    marker(0xc0, sof.toByteArray)
    // DC table 0: 12 codes of length 4 (values = categories 0..11, so
    // code == category); AC table 0: the single 1-bit EOB code "0"
    val dht = new java.io.ByteArrayOutputStream()
    dht.write(0x00)
    val dcCounts = Array(0, 0, 0, 12, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
    dcCounts.foreach(dht.write)
    (0 to 11).foreach(dht.write)
    marker(0xc4, dht.toByteArray)
    val dhtAc = new java.io.ByteArrayOutputStream()
    dhtAc.write(0x10)
    val acCounts = Array(1, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
    acCounts.foreach(dhtAc.write)
    dhtAc.write(0x00)
    marker(0xc4, dhtAc.toByteArray)
    val sos = new java.io.ByteArrayOutputStream()
    sos.write(nf)
    var c = 1
    while (c <= nf) { sos.write(c); sos.write(0x00); c += 1 }
    sos.write(0); sos.write(63); sos.write(0)
    marker(0xda, sos.toByteArray)
    // entropy-coded scan: MCU raster order, per MCU each component's
    // h x v blocks in by-major/bx-minor order (the T.81 interleave)
    val bw = new BitWriter(out)
    val (mcuX, mcuY) = if (mode == 2) (w / 16, h / 16) else (w / 8, h / 8)
    val pred = new Array[Int](nf)
    var rstIdx = 0
    var mcu = 0
    while (mcu < mcuX * mcuY) {
      if (restartEvery > 0 && mcu > 0 && mcu % restartEvery == 0) {
        bw.pad()
        out.write(0xff); out.write(0xd0 + rstIdx)
        rstIdx = (rstIdx + 1) & 7
        java.util.Arrays.fill(pred, 0)
      }
      val mx = mcu % mcuX
      val my = mcu / mcuX
      if (mode == 2) {
        var by = 0
        while (by < 2) {
          var bx = 0
          while (bx < 2) {
            val dc = synthJpegDcY(id, 2 * mx + bx, 2 * my + by)
            writeDcOnlyBlock(bw, dc - pred(0)); pred(0) = dc
            bx += 1
          }
          by += 1
        }
        val cb = synthJpegDcCb(id, mx, my)
        writeDcOnlyBlock(bw, cb - pred(1)); pred(1) = cb
        val cr = synthJpegDcCr(id, mx, my)
        writeDcOnlyBlock(bw, cr - pred(2)); pred(2) = cr
      } else {
        val dc = synthJpegDcY(id, mx, my)
        writeDcOnlyBlock(bw, dc - pred(0)); pred(0) = dc
        if (nf == 3) {
          val cb = synthJpegDcCb(id, mx, my)
          writeDcOnlyBlock(bw, cb - pred(1)); pred(1) = cb
          val cr = synthJpegDcCr(id, mx, my)
          writeDcOnlyBlock(bw, cr - pred(2)); pred(2) = cr
        }
      }
      mcu += 1
    }
    bw.pad()
    out.write(0xff); out.write(0xd9) // EOI
    out.toByteArray
  }

  /** Distributed JPEG pixel decode over the synthetic fixtures — the
    * m08 query body (the m05 shape: narrow map, blobs never shuffled,
    * per-channel integer sums so the comparison is hash-exact).
    */
  def jpegPixelStats(spark: SparkSession, n: Long): DataFrame = {
    import spark.implicits._
    spark.range(0L, n, 1L, spark.sparkContext.defaultParallelism)
      .map { id =>
        decodeBaseline(synthJpegPayload(id)) match {
          case Some(px) =>
            val sums = Multimodal.channelSums(px)
            def s(c: Int): Option[Long] =
              if (c < px.channels) Some(sums(c)) else None
            (id, px.width, px.height, px.channels, s(0), s(1), s(2))
          case None =>
            (id, -1, -1, -1, Option.empty[Long], Option.empty[Long],
              Option.empty[Long])
        }
      }
      .toDF("media_id", "width", "height", "channels",
        "sum_c0", "sum_c1", "sum_c2")
  }

  /** Separable double-precision IDCT of one dequantized block into the
    * sample plane: s(x,y) = sum_u sum_v Cos(u)(x) Cos(v)(y) F(u,v),
    * sample = floor(s + 128 + 0.5) clamped — the stated determinism
    * contract.
    */
  private def idctBlock(coef: Array[Int], tmp: Array[Double],
      plane: Array[Byte], planeW: Int, ox: Int, oy: Int): Unit = {
    // natural order is row-major with row r = VERTICAL frequency and
    // column c = HORIZONTAL frequency (the ZigZag map above follows
    // T.81 Figure 5). First pass transforms each frequency row over
    // the horizontal axis: tmp(r*8 + x) = sum_c Cos(c)(x) * F(r,c).
    var r = 0
    while (r < 8) {
      var x = 0
      while (x < 8) {
        var acc = 0.0
        var cc = 0
        while (cc < 8) {
          val f = coef(r * 8 + cc)
          if (f != 0) acc += Cos(cc)(x) * f
          cc += 1
        }
        tmp(r * 8 + x) = acc
        x += 1
      }
      r += 1
    }
    // second pass over the vertical axis:
    // s(x,y) = sum_r Cos(r)(y) * tmp(r*8 + x)
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        var acc = 0.0
        r = 0
        while (r < 8) {
          acc += Cos(r)(y) * tmp(r * 8 + x)
          r += 1
        }
        plane(((oy + y) * planeW) + ox + x) =
          clamp255(math.floor(acc + 128.0 + 0.5))
        x += 1
      }
      y += 1
    }
  }
}
