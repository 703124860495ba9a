package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{BinaryType, IntegerType, LongType, StructField, StructType}

/** REAL baseline JPEG pixel decode — the web's dominant image format,
  * previously the one documented codec-stub seam (prompt family:
  * multimodal; ref `ingestion/image_extractor.py` stores page figures
  * whose crawl-side siblings are overwhelmingly JPEG). Zero-dep, pure
  * ITU-T T.81 (1992) baseline sequential DCT:
  *
  *  - marker walk (SOI, APPn/COM skip, DQT, SOF0/SOF1, DHT, DRI, SOS),
  *  - canonical Huffman decode (T.81 §F.2.2.3 MINCODE/MAXCODE/VALPTR),
  *  - entropy-coded segment with 0xFF00 stuffing and RSTn restart
  *    markers (byte-realign + DC predictor reset),
  *  - dequantization, de-zigzag, double-precision separable IDCT,
  *  - per-component planes at their sampled resolution with h/v factors
  *    in {1,2} (4:4:4, 4:2:2, 4:2:0), replication upsampling,
  *  - YCbCr→RGB (the JFIF full-range matrix) for 3-component scans;
  *    1-component scans return the gray plane.
  *
  * Progressive DCT (SOF2) decodes for real too — T.81 Annex G spectral
  * selection AND successive approximation: multi-scan marker walk with a
  * per-component coefficient accumulator, DC first/refine scans
  * (interleaved or not), AC first scans with EOBn run codes, and the
  * AC refinement correction-bit pass, all with restart support. A
  * progressive image pays one coefficient buffer (≤16 ints/pixel, so
  * the decode-size bound is tighter than baseline's).
  *
  * Out of scope (→ None, never garbage — the crawl quarantine contract):
  * lossless/hierarchical SOFs, arithmetic coding, 12-bit precision,
  * 4-component CMYK, sampling factors above 2. Any truncation, bad
  * marker, missing table, or scan overrun also fails closed.
  *
  * The companion [[encodeGray]] writes single-component baseline JPEGs
  * with the Annex K example Huffman tables and a caller-supplied flat
  * quantization step. With step 8, a per-8×8-block CONSTANT image
  * round-trips EXACTLY (a constant block has only a DC coefficient,
  * 8·(v−128), and 8·(v−128)/8 is integral) — which is what lets the m12
  * oracle predict decoded pixels arithmetically, and lets an independent
  * decoder (ImageIO, JpegSpec) validate the encoder bit-for-bit.
  *
  * Scale shape: decode is a row-wise executor stage (map-only, no
  * shuffle) exactly like [[Image.decodePng]].
  */
object Jpeg {

  /** Decoded image: `pixels` is w·h gray bytes (components = 1) or
    * w·h·3 interleaved RGB (components = 3). */
  final case class Decoded(width: Int, height: Int, components: Int, pixels: Array[Byte]) {

    /** Integer luma of pixel `i`: the gray byte, or RGB through the
      * shared 299/587/114 conversion. */
    def gray(i: Int): Int =
      if (components == 1) pixels(i) & 0xff
      else (299 * (pixels(3 * i) & 0xff) + 587 * (pixels(3 * i + 1) & 0xff) +
        114 * (pixels(3 * i + 2) & 0xff)) / 1000

    /** Sum of every channel byte. */
    def pixelSum: Long = {
      var sum = 0L
      var k = 0
      while (k < pixels.length) { sum += pixels(k) & 0xff; k += 1 }
      sum
    }

    /** The center-pixel (w/2, h/2) gray probe. */
    def grayMid: Int = gray((height / 2) * width + width / 2)
  }

  // T.81 Figure A.6 zigzag: zigzag index -> natural (row-major) index
  private[graft] val Zigzag: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)

  // T.81 Annex K.3.3 example luminance Huffman tables (public spec
  // constants; the encoder emits them, the decoder handles ANY tables)
  private val StdDcBits = Array(0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
  private val StdDcVals = (0 to 11).toArray
  private val StdAcBits = Array(0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7d)
  private val StdAcVals = Array(
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
    0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xa1, 0x08,
    0x23, 0x42, 0xb1, 0xc1, 0x15, 0x52, 0xd1, 0xf0, 0x24, 0x33, 0x62, 0x72,
    0x82, 0x09, 0x0a, 0x16, 0x17, 0x18, 0x19, 0x1a, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2a, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3a, 0x43, 0x44, 0x45,
    0x46, 0x47, 0x48, 0x49, 0x4a, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5a, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6a, 0x73, 0x74, 0x75,
    0x76, 0x77, 0x78, 0x79, 0x7a, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8a, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9a, 0xa2, 0xa3,
    0xa4, 0xa5, 0xa6, 0xa7, 0xa8, 0xa9, 0xaa, 0xb2, 0xb3, 0xb4, 0xb5, 0xb6,
    0xb7, 0xb8, 0xb9, 0xba, 0xc2, 0xc3, 0xc4, 0xc5, 0xc6, 0xc7, 0xc8, 0xc9,
    0xca, 0xd2, 0xd3, 0xd4, 0xd5, 0xd6, 0xd7, 0xd8, 0xd9, 0xda, 0xe1, 0xe2,
    0xe3, 0xe4, 0xe5, 0xe6, 0xe7, 0xe8, 0xe9, 0xea, 0xf1, 0xf2, 0xf3, 0xf4,
    0xf5, 0xf6, 0xf7, 0xf8, 0xf9, 0xfa)

  // IDCT/FDCT basis: cosTable(x)(u) = C(u) * cos((2x+1) u π / 16)
  private val CosT: Array[Array[Double]] = Array.tabulate(8, 8) { (x, u) =>
    val c = if (u == 0) 1.0 / math.sqrt(2.0) else 1.0
    c * math.cos((2 * x + 1) * u * math.Pi / 16.0)
  }

  private final class Fail extends RuntimeException(null, null, false, false)
  private def fail(): Nothing = throw new Fail

  /** Canonical Huffman table per T.81 §C.2/F.2.2.3. */
  private final class Huff(bits: Array[Int], vals: Array[Int]) {
    val minCode = new Array[Int](17)
    val maxCode = Array.fill(17)(-1)
    val valPtr = new Array[Int](17)
    locally {
      var code = 0; var k = 0
      var l = 1
      while (l <= 16) {
        valPtr(l) = k
        minCode(l) = code
        code += bits(l - 1); k += bits(l - 1)
        maxCode(l) = if (bits(l - 1) > 0) code - 1 else -1
        code <<= 1
        l += 1
      }
    }
    def value(i: Int): Int = vals(i)
  }

  /** Bit reader over the entropy-coded segment: 0xFF00 destuffing; any
    * other marker inside bit-read is a failure (restarts are consumed
    * explicitly between MCUs by [[restart]]). */
  private final class Bits(data: Array[Byte], var pos: Int) {
    private var buf = 0
    private var cnt = 0
    def bit(): Int = {
      if (cnt == 0) {
        if (pos >= data.length) fail()
        var b = data(pos) & 0xff; pos += 1
        if (b == 0xff) {
          if (pos >= data.length) fail()
          if ((data(pos) & 0xff) == 0x00) pos += 1
          else fail() // unexpected marker mid-entropy
        }
        buf = b; cnt = 8
      }
      cnt -= 1
      (buf >> cnt) & 1
    }
    def receive(n: Int): Int = {
      var v = 0; var i = 0
      while (i < n) { v = (v << 1) | bit(); i += 1 }
      v
    }
    def decode(h: Huff): Int = {
      var code = bit()
      var l = 1
      while (l <= 16) {
        if (code <= h.maxCode(l)) return h.value(h.valPtr(l) + code - h.minCode(l))
        code = (code << 1) | bit()
        l += 1
      }
      fail()
    }
    /** Byte-align and consume an RSTn marker. */
    def restart(): Unit = {
      cnt = 0
      if (pos + 1 >= data.length) fail()
      if ((data(pos) & 0xff) != 0xff) fail()
      // T.81 B.1.1.2: any number of FF fill bytes may precede the RSTn
      while (pos + 2 < data.length && (data(pos + 1) & 0xff) == 0xff) pos += 1
      val m = data(pos + 1) & 0xff
      if (m < 0xd0 || m > 0xd7) fail()
      pos += 2
    }
  }

  private def extend(v: Int, s: Int): Int =
    if (s == 0) 0 else if (v < (1 << (s - 1))) v - (1 << s) + 1 else v

  private def clamp(v: Long): Int = if (v < 0) 0 else if (v > 255) 255 else v.toInt

  /** Full baseline decode; None on anything outside the documented scope
    * or on any malformation. */
  def decode(bytes: Array[Byte]): Option[Decoded] =
    try decodeOrFail(bytes)
    catch { case _: Fail | _: ArrayIndexOutOfBoundsException |
                 _: NegativeArraySizeException => None }

  private def decodeOrFail(bytes: Array[Byte]): Option[Decoded] = {
    if (bytes == null || bytes.length < 4) return None
    def u8(p: Int): Int = { if (p >= bytes.length) fail(); bytes(p) & 0xff }
    def u16(p: Int): Int = (u8(p) << 8) | u8(p + 1)
    if (u8(0) != 0xff || u8(1) != 0xd8) return None
    val qt = new Array[Array[Int]](4)
    val dcT = new Array[Huff](4)
    val acT = new Array[Huff](4)
    var w = 0; var h = 0; var nComp = 0
    // per component: id, hi, vi, quant id
    var cId: Array[Int] = null; var cH: Array[Int] = null
    var cV: Array[Int] = null; var cQ: Array[Int] = null
    var restartInterval = 0
    // progressive (SOF2) state: coefficients accumulate across scans in
    // NATURAL order; fullB* is the MCU-padded block grid, compB* the
    // component's own (non-interleaved-scan) grid
    var progressive = false
    var coefs: Array[Array[Int]] = null
    var fullBW: Array[Int] = null; var fullBH: Array[Int] = null
    var compBW: Array[Int] = null; var compBH: Array[Int] = null
    var mcusX = 0; var mcusY = 0
    var sawScan = false
    var p = 2
    while (true) {
      if (u8(p) != 0xff) fail()
      while (u8(p + 1) == 0xff) p += 1 // T.81 B.1.1.2: FF fill bytes before a marker
      val m = u8(p + 1)
      if (m == 0xd8 || (m >= 0xd0 && m <= 0xd7)) { p += 2 } // stray SOI/RST
      else if (m == 0xd9) {                                  // EOI
        return if (progressive && sawScan)
          finalizeProgressive(w, h, nComp, cH, cV, cQ, qt, coefs, fullBW, fullBH)
        else None // EOI before any image data
      }
      else {
        val len = u16(p + 2)
        if (len < 2 || p + 2 + len > bytes.length) fail()
        val seg = p + 4
        m match {
          case 0xdb => // DQT: one or more tables
            var q = seg
            while (q < p + 2 + len) {
              val prec = u8(q) >> 4; val id = u8(q) & 0x0f
              if (id > 3) fail()
              val t = new Array[Int](64)
              var i = 0
              while (i < 64) {
                t(i) = if (prec == 0) u8(q + 1 + i) else u16(q + 1 + 2 * i)
                i += 1
              }
              qt(id) = t
              q += 1 + (if (prec == 0) 64 else 128)
            }
          case 0xc4 => // DHT: one or more tables
            var q = seg
            while (q < p + 2 + len) {
              val cls = u8(q) >> 4; val id = u8(q) & 0x0f
              if (cls > 1 || id > 3) fail()
              val bits = Array.tabulate(16)(i => u8(q + 1 + i))
              val n = bits.sum
              if (n > 256) fail()
              val vals = Array.tabulate(n)(i => u8(q + 17 + i))
              val huff = new Huff(bits, vals)
              if (cls == 0) dcT(id) = huff else acT(id) = huff
              q += 17 + n
            }
          case 0xc0 | 0xc1 | 0xc2 => // SOF0/1 baseline/extended, SOF2 progressive
            if (u8(seg) != 8) return None // 12-bit out of scope
            progressive = m == 0xc2
            h = u16(seg + 1); w = u16(seg + 3); nComp = u8(seg + 5)
            if (w < 1 || h < 1 || (nComp != 1 && nComp != 3)) return None
            // decode-size bound; tighter for progressive (its coefficient
            // accumulator costs up to 16 ints/pixel for 3 components)
            if (w.toLong * h > (if (progressive) 1L << 22 else 1L << 26)) return None
            cId = new Array[Int](nComp); cH = new Array[Int](nComp)
            cV = new Array[Int](nComp); cQ = new Array[Int](nComp)
            var i = 0
            while (i < nComp) {
              cId(i) = u8(seg + 6 + 3 * i)
              val hv = u8(seg + 7 + 3 * i)
              cH(i) = hv >> 4; cV(i) = hv & 0x0f
              cQ(i) = u8(seg + 8 + 3 * i)
              if (cH(i) < 1 || cH(i) > 2 || cV(i) < 1 || cV(i) > 2 || cQ(i) > 3) return None
              i += 1
            }
          case 0xc3 | 0xc5 | 0xc6 | 0xc7 | 0xc9 | 0xca | 0xcb | 0xcd | 0xce | 0xcf =>
            return None // lossless/hierarchical/arithmetic out of scope
          case 0xdd => restartInterval = u16(seg)
          case 0xda if !progressive => // baseline SOS: decode the scan and return
            if (cId == null) fail()
            val ns = u8(seg)
            if (ns != nComp) return None
            val dcSel = new Array[Int](nComp); val acSel = new Array[Int](nComp)
            var i = 0
            while (i < ns) {
              val sid = u8(seg + 1 + 2 * i)
              val ci = cId.indexOf(sid)
              if (ci < 0) fail()
              dcSel(ci) = u8(seg + 2 + 2 * i) >> 4
              acSel(ci) = u8(seg + 2 + 2 * i) & 0x0f
              i += 1
            }
            return decodeScan(bytes, p + 2 + len, w, h, nComp, cH, cV, cQ,
              dcSel, acSel, qt, dcT, acT, restartInterval)
          case 0xda => // progressive SOS: accumulate this scan, keep walking
            if (cId == null) fail()
            if (coefs == null) { // first scan: size the coefficient grids
              val hMax = cH.max; val vMax = cV.max
              mcusX = (w + 8 * hMax - 1) / (8 * hMax)
              mcusY = (h + 8 * vMax - 1) / (8 * vMax)
              fullBW = Array.tabulate(nComp)(c => mcusX * cH(c))
              fullBH = Array.tabulate(nComp)(c => mcusY * cV(c))
              compBW = Array.tabulate(nComp)(c => ((w * cH(c) + hMax - 1) / hMax + 7) / 8)
              compBH = Array.tabulate(nComp)(c => ((h * cV(c) + vMax - 1) / vMax + 7) / 8)
              coefs = Array.tabulate(nComp)(c => new Array[Int](fullBW(c) * fullBH(c) * 64))
            }
            val ns = u8(seg)
            if (ns < 1 || ns > nComp) fail()
            val scanC = new Array[Int](ns); val sDc = new Array[Int](ns); val sAc = new Array[Int](ns)
            var i = 0
            while (i < ns) {
              val sid = u8(seg + 1 + 2 * i)
              val ci = cId.indexOf(sid)
              if (ci < 0) fail()
              scanC(i) = ci
              sDc(i) = u8(seg + 2 + 2 * i) >> 4
              sAc(i) = u8(seg + 2 + 2 * i) & 0x0f
              i += 1
            }
            val ss = u8(seg + 1 + 2 * ns); val se = u8(seg + 2 + 2 * ns)
            val ahal = u8(seg + 3 + 2 * ns)
            val endPos = decodeProgressiveScan(bytes, p + 2 + len, scanC, sDc, sAc,
              ss, se, ahal >> 4, ahal & 0x0f, dcT, acT, restartInterval,
              coefs, fullBW, compBW, compBH, cH, cV, mcusX, mcusY)
            sawScan = true
            // resume the marker walk at the next true marker (skip any
            // entropy-trailing bytes, stuffed FF00s, and stray RSTns)
            var np = endPos
            var found = false
            while (!found) {
              if (np + 1 >= bytes.length) fail()
              if (u8(np) == 0xff) {
                val mm = u8(np + 1)
                if (mm != 0x00 && !(mm >= 0xd0 && mm <= 0xd7)) found = true
                else np += 2
              } else np += 1
            }
            p = np
          case _ => () // APPn / COM / other: skip
        }
        if (m != 0xda || !progressive) p += 2 + len
      }
    }
    None
  }

  private def decodeScan(bytes: Array[Byte], scanStart: Int, w: Int, h: Int,
                         nComp: Int, cH: Array[Int], cV: Array[Int], cQ: Array[Int],
                         dcSel: Array[Int], acSel: Array[Int], qt: Array[Array[Int]],
                         dcT: Array[Huff], acT: Array[Huff],
                         restartInterval: Int): Option[Decoded] = {
    val hMax = cH.max; val vMax = cV.max
    val mcusX = (w + 8 * hMax - 1) / (8 * hMax)
    val mcusY = (h + 8 * vMax - 1) / (8 * vMax)
    // per-component plane covering its MCU grid
    val planeW = Array.tabulate(nComp)(c => mcusX * cH(c) * 8)
    val planeH = Array.tabulate(nComp)(c => mcusY * cV(c) * 8)
    val planes = Array.tabulate(nComp)(c => new Array[Byte](planeW(c) * planeH(c)))
    var c = 0
    while (c < nComp) {
      if (qt(cQ(c)) == null || dcT(dcSel(c)) == null || acT(acSel(c)) == null) fail()
      c += 1
    }
    val bits = new Bits(bytes, scanStart)
    val pred = new Array[Int](nComp)
    val coef = new Array[Int](64)
    val block = new Array[Double](64)
    var mcu = 0
    var my = 0
    while (my < mcusY) {
      var mx = 0
      while (mx < mcusX) {
        if (restartInterval > 0 && mcu > 0 && mcu % restartInterval == 0) {
          bits.restart()
          java.util.Arrays.fill(pred, 0)
        }
        c = 0
        while (c < nComp) {
          val q = qt(cQ(c)); val dh = dcT(dcSel(c)); val ah = acT(acSel(c))
          var by = 0
          while (by < cV(c)) {
            var bx = 0
            while (bx < cH(c)) {
              java.util.Arrays.fill(coef, 0)
              // DC
              val s = bits.decode(dh)
              if (s > 11) fail()
              pred(c) += extend(bits.receive(s), s)
              coef(0) = pred(c) * q(0)
              // AC
              var k = 1
              while (k < 64) {
                val rs = bits.decode(ah)
                val r = rs >> 4; val size = rs & 0x0f
                if (size == 0) {
                  if (r == 15) k += 16 // ZRL
                  else k = 64 // EOB
                } else {
                  k += r
                  if (k > 63) fail()
                  coef(Zigzag(k)) = extend(bits.receive(size), size) * q(k)
                  k += 1
                }
              }
              idctToPlane(coef, block, planes(c), planeW(c),
                (mx * cH(c) + bx) * 8, (my * cV(c) + by) * 8)
              bx += 1
            }
            by += 1
          }
          c += 1
        }
        mcu += 1
        mx += 1
      }
      my += 1
    }
    assemble(w, h, nComp, cH, cV, planes, planeW)
  }

  /** Dequantized natural-order 8×8 `coef` → separable IDCT → level-shift
    * and clamp into `plane` at (px0, py0). Shared by the baseline and
    * progressive paths (identical numerics). */
  private def idctToPlane(coef: Array[Int], block: Array[Double], plane: Array[Byte],
                          planeW: Int, px0: Int, py0: Int): Unit = {
    var v = 0
    while (v < 8) {
      var x = 0
      while (x < 8) {
        var acc = 0.0
        var u = 0
        while (u < 8) { acc += coef(v * 8 + u) * CosT(x)(u); u += 1 }
        block(v * 8 + x) = acc * 0.5
        x += 1
      }
      v += 1
    }
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        var acc = 0.0
        var vv = 0
        while (vv < 8) { acc += block(vv * 8 + x) * CosT(y)(vv); vv += 1 }
        plane((py0 + y) * planeW + px0 + x) = clamp(math.round(acc * 0.5) + 128).toByte
        x += 1
      }
      y += 1
    }
  }

  /** Replication upsampling + YCbCr→RGB assembly of component planes. */
  private def assemble(w: Int, h: Int, nComp: Int, cH: Array[Int], cV: Array[Int],
                       planes: Array[Array[Byte]], planeW: Array[Int]): Option[Decoded] = {
    val hMax = cH.max; val vMax = cV.max
    if (nComp == 1) {
      val out = new Array[Byte](w * h)
      var y = 0
      while (y < h) {
        System.arraycopy(planes(0), y * planeW(0), out, y * w, w)
        y += 1
      }
      Some(Decoded(w, h, 1, out))
    } else {
      val out = new Array[Byte](w * h * 3)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          def sample(ci: Int): Int =
            planes(ci)((y * cV(ci) / vMax) * planeW(ci) + (x * cH(ci) / hMax)) & 0xff
          val yy = sample(0).toDouble
          val cb = sample(1) - 128.0
          val cr = sample(2) - 128.0
          val o = (y * w + x) * 3
          out(o) = clamp(math.round(yy + 1.402 * cr)).toByte
          out(o + 1) = clamp(math.round(yy - 0.344136 * cb - 0.714136 * cr)).toByte
          out(o + 2) = clamp(math.round(yy + 1.772 * cb)).toByte
          x += 1
        }
        y += 1
      }
      Some(Decoded(w, h, 3, out))
    }
  }

  /** One progressive scan (T.81 Annex G): accumulate into the
    * natural-order coefficient store and return the byte position where
    * entropy decoding stopped (the caller rescans for the next marker).
    *
    *  - DC scans (ss=0): interleaved MCU order when ns>1, the
    *    component's own block raster when ns=1. First pass (ah=0) is
    *    Huffman DPCM shifted left by `al`; refinement (ah>0) appends one
    *    bit at weight 2^al.
    *  - AC scans (ss>0): always single-component. First pass carries
    *    EOBn band-run codes; refinement interleaves newly-significant
    *    coefficients (size must be 1) with correction bits for every
    *    already-nonzero coefficient it passes — including the remainder
    *    of the block that an EOB lands in.
    *  - RSTn resets DC predictors AND the EOB run, as in baseline. */
  private def decodeProgressiveScan(bytes: Array[Byte], start: Int,
      scanC: Array[Int], sDc: Array[Int], sAc: Array[Int],
      ss: Int, se: Int, ah: Int, al: Int,
      dcT: Array[Huff], acT: Array[Huff], restartInterval: Int,
      coefs: Array[Array[Int]], fullBW: Array[Int],
      compBW: Array[Int], compBH: Array[Int], cH: Array[Int], cV: Array[Int],
      mcusX: Int, mcusY: Int): Int = {
    if (ss > 63 || se > 63 || se < ss || al > 13) fail()
    val ns = scanC.length
    val bits = new Bits(bytes, start)
    val pred = new Array[Int](ns)
    var eobrun = 0
    var mcu = 0
    def maybeRestart(): Unit =
      if (restartInterval > 0 && mcu > 0 && mcu % restartInterval == 0) {
        bits.restart()
        java.util.Arrays.fill(pred, 0)
        eobrun = 0
      }

    if (ss == 0) { // DC scan
      if (se != 0) fail()
      def dcBlock(si: Int, off: Int): Unit =
        if (ah == 0) {
          val s = bits.decode(dcT(sDc(si)))
          if (s > 11) fail()
          pred(si) += extend(bits.receive(s), s)
          coefs(scanC(si))(off) = pred(si) << al
        } else if (bits.bit() == 1) coefs(scanC(si))(off) |= 1 << al
      if (ah == 0) { var i = 0; while (i < ns) { if (dcT(sDc(i)) == null) fail(); i += 1 } }
      if (ns == 1) { // non-interleaved: the component's own raster
        val c = scanC(0)
        var br = 0
        while (br < compBH(c)) {
          var bc = 0
          while (bc < compBW(c)) {
            maybeRestart()
            dcBlock(0, (br * fullBW(c) + bc) * 64)
            mcu += 1
            bc += 1
          }
          br += 1
        }
      } else { // interleaved MCU order
        var my = 0
        while (my < mcusY) {
          var mx = 0
          while (mx < mcusX) {
            maybeRestart()
            var si = 0
            while (si < ns) {
              val c = scanC(si)
              var by = 0
              while (by < cV(c)) {
                var bx = 0
                while (bx < cH(c)) {
                  dcBlock(si, ((my * cV(c) + by) * fullBW(c) + mx * cH(c) + bx) * 64)
                  bx += 1
                }
                by += 1
              }
              si += 1
            }
            mcu += 1
            mx += 1
          }
          my += 1
        }
      }
    } else { // AC scan: single component, non-interleaved
      if (ns != 1) fail()
      val c = scanC(0)
      val ac = acT(sAc(0))
      if (ac == null) fail()
      val cf = coefs(c)
      val p1 = 1 << al
      val m1 = -1 << al
      var br = 0
      while (br < compBH(c)) {
        var bc = 0
        while (bc < compBW(c)) {
          maybeRestart()
          val off = (br * fullBW(c) + bc) * 64
          if (ah == 0) { // first pass: EOBn runs + shifted values
            if (eobrun > 0) eobrun -= 1
            else {
              var k = ss
              var done = false
              while (k <= se && !done) {
                val rs = bits.decode(ac)
                val r = rs >> 4; val s = rs & 0x0f
                if (s == 0) {
                  if (r == 15) k += 16 // ZRL
                  else {
                    eobrun = (1 << r) - 1
                    if (r > 0) eobrun += bits.receive(r)
                    done = true
                  }
                } else {
                  k += r
                  if (k > se) fail()
                  cf(off + Zigzag(k)) = extend(bits.receive(s), s) << al
                  k += 1
                }
              }
            }
          } else { // refinement: new values + correction bits
            var k = ss
            var blockEob = eobrun > 0
            if (blockEob) eobrun -= 1
            while (k <= se && !blockEob) {
              val rs = bits.decode(ac)
              var r = rs >> 4; val s = rs & 0x0f
              var newVal = 0
              if (s == 0) {
                if (r != 15) {
                  eobrun = (1 << r) - 1
                  if (r > 0) eobrun += bits.receive(r)
                  blockEob = true
                }
                // r == 15: ZRL — skip 16 zero-history positions
              } else {
                if (s != 1) fail()
                newVal = if (bits.bit() == 1) p1 else m1
              }
              if (!blockEob) {
                var placed = false
                while (k <= se && !placed) {
                  val idx = off + Zigzag(k)
                  if (cf(idx) != 0) {
                    if (bits.bit() == 1 && (cf(idx) & p1) == 0)
                      cf(idx) += (if (cf(idx) >= 0) p1 else m1)
                  } else if (r == 0) {
                    if (newVal != 0) cf(idx) = newVal
                    placed = true
                  } else r -= 1
                  k += 1
                }
                if (!placed && newVal != 0) fail() // ran off the band
              }
            }
            if (blockEob) { // correction bits through the rest of the band
              while (k <= se) {
                val idx = off + Zigzag(k)
                if (cf(idx) != 0) {
                  if (bits.bit() == 1 && (cf(idx) & p1) == 0)
                    cf(idx) += (if (cf(idx) >= 0) p1 else m1)
                }
                k += 1
              }
            }
          }
          mcu += 1
          bc += 1
        }
        br += 1
      }
    }
    bits.pos
  }

  /** After the last progressive scan: dequantize the accumulated
    * coefficients, IDCT every padded-grid block, assemble. */
  private def finalizeProgressive(w: Int, h: Int, nComp: Int,
      cH: Array[Int], cV: Array[Int], cQ: Array[Int], qt: Array[Array[Int]],
      coefs: Array[Array[Int]], fullBW: Array[Int], fullBH: Array[Int]): Option[Decoded] = {
    val planeW = new Array[Int](nComp)
    val planes = new Array[Array[Byte]](nComp)
    val deq = new Array[Int](64)
    val block = new Array[Double](64)
    var c = 0
    while (c < nComp) {
      if (qt(cQ(c)) == null) fail()
      val qNat = new Array[Int](64)
      var k = 0
      while (k < 64) { qNat(Zigzag(k)) = qt(cQ(c))(k); k += 1 }
      planeW(c) = fullBW(c) * 8
      planes(c) = new Array[Byte](planeW(c) * fullBH(c) * 8)
      val cf = coefs(c)
      var br = 0
      while (br < fullBH(c)) {
        var bc = 0
        while (bc < fullBW(c)) {
          val off = (br * fullBW(c) + bc) * 64
          var i = 0
          while (i < 64) { deq(i) = cf(off + i) * qNat(i); i += 1 }
          idctToPlane(deq, block, planes(c), planeW(c), bc * 8, br * 8)
          bc += 1
        }
        br += 1
      }
      c += 1
    }
    assemble(w, h, nComp, cH, cV, planes, planeW)
  }

  // ---------------------------------------------------------------------
  // Encoder: single-component baseline with the Annex K example tables
  // and a flat quantization step. SEPARATE from the decoder like every
  // fixture builder here; validated against ImageIO in JpegSpec.

  private final class BitWriter(out: java.io.ByteArrayOutputStream) {
    private var buf = 0
    private var cnt = 0
    def put(v: Int, n: Int): Unit = {
      var i = n - 1
      while (i >= 0) {
        buf = (buf << 1) | ((v >> i) & 1)
        cnt += 1
        if (cnt == 8) {
          out.write(buf)
          if (buf == 0xff) out.write(0x00) // stuffing
          buf = 0; cnt = 0
        }
        i -= 1
      }
    }
    def flush(): Unit = if (cnt > 0) { // pad with 1s per spec
      buf = (buf << (8 - cnt)) | ((1 << (8 - cnt)) - 1)
      out.write(buf)
      if (buf == 0xff) out.write(0x00)
      buf = 0; cnt = 0
    }
  }

  private def huffCodes(bits: Array[Int], vals: Array[Int]): Map[Int, (Int, Int)] = {
    var code = 0
    val out = scala.collection.mutable.Map.empty[Int, (Int, Int)]
    var k = 0
    var l = 1
    while (l <= 16) {
      var i = 0
      while (i < bits(l - 1)) { out(vals(k)) = (code, l); code += 1; k += 1; i += 1 }
      code <<= 1
      l += 1
    }
    out.toMap
  }

  private def category(v: Int): Int = {
    var a = math.abs(v); var s = 0
    while (a != 0) { a >>= 1; s += 1 }
    s
  }

  /** Encode an 8-bit grayscale image as a baseline JPEG. `qStep` is the
    * flat quantization step for every coefficient (8 makes per-block
    * constants exact — see the object doc). Edge blocks pad by edge
    * replication. `restartInterval` > 0 emits a DRI segment and RSTn
    * markers every that-many MCUs (the resync machinery real encoders
    * use for error resilience — and the decoder path nothing else
    * exercises). */
  def encodeGray(w: Int, h: Int, pixels: Array[Byte], qStep: Int = 8,
                 restartInterval: Int = 0): Array[Byte] = {
    require(w > 0 && h > 0 && pixels.length == w * h, "bad dims")
    require(qStep >= 1 && qStep <= 255, "bad qStep")
    val out = new java.io.ByteArrayOutputStream()
    def b(v: Int): Unit = out.write(v & 0xff)
    def b16(v: Int): Unit = { b(v >> 8); b(v) }
    writeGrayHeader(out, w, h, qStep, 0xc0) // SOF0
    if (restartInterval > 0) { b(0xff); b(0xdd); b16(4); b16(restartInterval) } // DRI
    b(0xff); b(0xda); b16(6 + 2); b(1); b(1); b(0x00); b(0); b(63); b(0) // SOS
    val dc = huffCodes(StdDcBits, StdDcVals)
    val ac = huffCodes(StdAcBits, StdAcVals)
    val bw = new BitWriter(out)
    val blk = new Array[Double](64)
    val coefQ = new Array[Int](64)
    var pred = 0
    var mcu = 0
    var rstN = 0
    var by = 0
    while (by * 8 < h) {
      var bx = 0
      while (bx * 8 < w) {
        if (restartInterval > 0 && mcu > 0 && mcu % restartInterval == 0) {
          bw.flush()
          b(0xff); b(0xd0 + rstN)
          rstN = (rstN + 1) % 8
          pred = 0
        }
        fdctQuantBlock(pixels, w, h, bx, by, qStep, blk, coefQ)
        putDc(bw, dc, coefQ(0) - pred)
        pred = coefQ(0)
        putAcBand(bw, ac, coefQ)
        mcu += 1
        bx += 1
      }
      by += 1
    }
    bw.flush()
    b(0xff); b(0xd9) // EOI
    out.toByteArray
  }

  /** SOI, the flat DQT, a one-component frame header (`sof` 0xc0
    * baseline or 0xc2 progressive) and the two Annex-K Huffman tables:
    * everything both gray encoders write before their first scan. */
  private def writeGrayHeader(out: java.io.ByteArrayOutputStream, w: Int, h: Int,
                              qStep: Int, sof: Int): Unit = {
    def b(v: Int): Unit = out.write(v & 0xff)
    def b16(v: Int): Unit = { b(v >> 8); b(v) }
    b(0xff); b(0xd8) // SOI
    b(0xff); b(0xdb); b16(2 + 1 + 64); b(0x00) // DQT table 0, 8-bit
    var i = 0
    while (i < 64) { b(qStep); i += 1 }
    b(0xff); b(sof); b16(8 + 3); b(8); b16(h); b16(w); b(1) // SOFn, 1 comp
    b(1); b(0x11); b(0) // comp 1, 1x1, qtable 0
    def dht(cls: Int, bits: Array[Int], vals: Array[Int]): Unit = {
      b(0xff); b(0xc4); b16(2 + 1 + 16 + vals.length); b(cls << 4)
      bits.foreach(b); vals.foreach(b)
    }
    dht(0, StdDcBits, StdDcVals)
    dht(1, StdAcBits, StdAcVals)
  }

  /** One DC difference: its category's code, then the magnitude bits. */
  private def putDc(bw: BitWriter, dc: Map[Int, (Int, Int)], diff: Int): Unit = {
    val s = category(diff)
    val (code, len) = dc(s)
    bw.put(code, len)
    if (s > 0) bw.put(if (diff < 0) diff + (1 << s) - 1 else diff, s)
  }

  /** Coefficients 1–63 of one block (natural-order `cq`, zigzag walk) as
    * ZRL/run-length codes, then EOB when the block ends in zeros. */
  private def putAcBand(bw: BitWriter, ac: Map[Int, (Int, Int)], cq: Array[Int]): Unit = {
    var run = 0
    var k = 1
    while (k < 64) {
      // Annex-K AC codes stop at category 10: clamp to ±1023 (only
      // reachable at qStep < 4 on basis-matched blocks; real encoders
      // clamp the same way rather than fail)
      val cv0 = cq(Zigzag(k))
      val cv = if (cv0 > 1023) 1023 else if (cv0 < -1023) -1023 else cv0
      if (cv == 0) run += 1
      else {
        while (run >= 16) { val (c0, l0) = ac(0xf0); bw.put(c0, l0); run -= 16 }
        val sz = category(cv)
        val (c1, l1) = ac((run << 4) | sz)
        bw.put(c1, l1)
        bw.put(if (cv < 0) cv + (1 << sz) - 1 else cv, sz)
        run = 0
      }
      k += 1
    }
    if (run > 0) { val (c2, l2) = ac(0x00); bw.put(c2, l2) } // EOB
  }

  /** Block (bx, by) of a gray image: edge-replicated load, level shift,
    * separable FDCT, flat quantization into natural-order `coefQ`. */
  private def fdctQuantBlock(pixels: Array[Byte], w: Int, h: Int, bx: Int, by: Int,
                             qStep: Int, blk: Array[Double], coefQ: Array[Int]): Unit = {
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        val sy = math.min(by * 8 + y, h - 1)
        val sx = math.min(bx * 8 + x, w - 1)
        blk(y * 8 + x) = (pixels(sy * w + sx) & 0xff) - 128.0
        x += 1
      }
      y += 1
    }
    val tmp = new Array[Double](64)
    var v = 0
    while (v < 8) {
      var x = 0
      while (x < 8) {
        var acc = 0.0
        var yy = 0
        while (yy < 8) { acc += blk(yy * 8 + x) * CosT(yy)(v); yy += 1 }
        tmp(v * 8 + x) = acc * 0.5
        x += 1
      }
      v += 1
    }
    var u = 0
    while (u < 8) {
      var vv = 0
      while (vv < 8) {
        var acc = 0.0
        var xx = 0
        while (xx < 8) { acc += tmp(vv * 8 + xx) * CosT(xx)(u); xx += 1 }
        coefQ(vv * 8 + u) = math.round(acc * 0.5 / qStep).toInt
        vv += 1
      }
      u += 1
    }
  }

  /** Encode an 8-bit grayscale image as a PROGRESSIVE (SOF2) JPEG with a
    * three-scan script exercising both Annex G dimensions: DC first pass
    * at Al=1 (point transform), the full 1–63 AC band as a spectral-
    * selection scan, then the DC successive-approximation refinement
    * bit. Same flat-quant contract as [[encodeGray]] (qStep 8 + per-block
    * constants round-trip exactly); AC-refinement DECODE is exercised by
    * ImageIO's own progressive writer in JpegSpec, whose default script
    * successively approximates AC too. */
  def encodeGrayProgressive(w: Int, h: Int, pixels: Array[Byte], qStep: Int = 8): Array[Byte] = {
    require(w > 0 && h > 0 && pixels.length == w * h, "bad dims")
    require(qStep >= 1 && qStep <= 255, "bad qStep")
    val out = new java.io.ByteArrayOutputStream()
    def b(v: Int): Unit = out.write(v & 0xff)
    def b16(v: Int): Unit = { b(v >> 8); b(v) }
    writeGrayHeader(out, w, h, qStep, 0xc2) // SOF2
    val dc = huffCodes(StdDcBits, StdDcVals)
    val ac = huffCodes(StdAcBits, StdAcVals)
    // all blocks up front (raster order, natural-order coefficients)
    val bwB = (w + 7) / 8; val bhB = (h + 7) / 8
    val blk = new Array[Double](64)
    val blocks = Array.tabulate(bhB * bwB) { bi =>
      val coefQ = new Array[Int](64)
      fdctQuantBlock(pixels, w, h, bi % bwB, bi / bwB, qStep, blk, coefQ)
      coefQ
    }
    def sos(ss: Int, se: Int, ahal: Int): Unit = {
      b(0xff); b(0xda); b16(6 + 2); b(1); b(1); b(0x00); b(ss); b(se); b(ahal)
    }
    // scan 1: DC first pass, Al=1 — DPCM over the point-transformed DCs
    sos(0, 0, 0x01)
    locally {
      val bw = new BitWriter(out)
      var pred = 0
      blocks.foreach { cq =>
        val cur = cq(0) >> 1
        putDc(bw, dc, cur - pred)
        pred = cur
      }
      bw.flush()
    }
    // scan 2: the whole AC band as one spectral-selection scan, Al=0
    // (EOB0 per block — a valid degenerate EOBn run)
    sos(1, 63, 0x00)
    locally {
      val bw = new BitWriter(out)
      blocks.foreach(putAcBand(bw, ac, _))
      bw.flush()
    }
    // scan 3: DC refinement — the bit dropped by scan 1's point transform
    sos(0, 0, 0x10)
    locally {
      val bw = new BitWriter(out)
      blocks.foreach(cq => bw.put(cq(0) & 1, 1))
      bw.flush()
    }
    b(0xff); b(0xd9) // EOI
    out.toByteArray
  }

  // ---------------------------------------------------------------------
  // Spark stage (the documented row-wise codec seam, like Image.*Stage).

  /** Append the 64-bit dHash bit string (null when the payload doesn't
    * decode) — the JPEG twin of [[Image.dhashStage]], feeding the same
    * [[Image.imageNearDupPairs]] banding join. Gray planes hash
    * directly; RGB goes through the shared integer-luma conversion. */
  def dhashStage(df: DataFrame, payloadCol: String, outCol: String): DataFrame =
    Stages.payloadStage(df, payloadCol, outCol, org.apache.spark.sql.types.StringType)(b =>
      decode(b).map(img => Image.dHashBits(Array.tabulate(img.width * img.height)(img.gray),
        img.width, img.height)))

  /** Append decode stats (null struct on any malformation): width,
    * height, components, pixel_sum over all channel bytes, and the
    * center-pixel gray probe — the JPEG twin of
    * [[Image.decodeStatsStage]]. */
  def decodeStatsStage(df: DataFrame, payloadCol: String, outCol: String): DataFrame = {
    val sch = StructType(Seq(
      StructField("width", IntegerType), StructField("height", IntegerType),
      StructField("components", IntegerType),
      StructField("pixel_sum", LongType), StructField("gray_mid", IntegerType)))
    Stages.payloadStage(df, payloadCol, outCol, sch)(b =>
      decode(b).map(img => org.apache.spark.sql.Row(img.width, img.height, img.components,
        img.pixelSum, img.grayMid)))
  }
}
