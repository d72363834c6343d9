package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.types._

/** REAL baseline JPEG decode — no external codec, no ImageIO: marker walk
  * (SOI/APPn/DQT/SOF0/DHT/SOS/EOI), canonical Huffman table construction,
  * entropy decode (DC predictors, AC run/size with EOB/ZRL, byte
  * un-stuffing, restart markers), dequantization, de-zigzag, a full
  * double-precision 2-D IDCT per block, chroma upsampling for arbitrary
  * baseline sampling factors, and YCbCr→RGB. Closes the multimodal decode
  * family: WAV (m5) and BMP (m6) are container parses, PNG (m7) adds
  * entropy coding (zlib), JPEG adds the transform-coding tier — the last
  * codec class the stub seam was hiding.
  *
  * Scope: baseline sequential DCT (SOF0), 8-bit samples, 1 or 3
  * components, interleaved single scan — what cameras and `ImageIO.write`
  * emit. Progressive (SOF2) and arithmetic coding stay out of scope.
  *
  * Like the other decoders: returns None on any structural failure
  * (corrupt assets are counted by the caller, never crash the scan), and
  * header-claimed geometry is computed in Long and capped before any
  * allocation (hostile headers must not OOM an executor).
  *
  * Reference behavior mirrored: the reference pipeline treats media as
  * opaque bytes; this decode tier is the training-pipeline extension
  * (SURVEY §2 multimodal family), not a reference port.
  */
object Jpeg {

  /** Decoded baseline JPEG: geometry plus pixels — gray (1 byte/px) when
    * the stream has one component, RGB (3 bytes/px) when three.
    */
  final case class Image(width: Int, height: Int, components: Int, pixels: Array[Byte])

  // ---- bit reader over the entropy-coded segment ----------------------

  private final class BitReader(data: Array[Byte]) {
    var pos = 0
    private var bitBuf = 0
    private var bitCnt = 0

    /** Skip an RSTn marker and reset bit state. */
    def restart(): Boolean =
      if (pos + 1 < data.length && (data(pos) & 0xFF) == 0xFF &&
          (data(pos + 1) & 0xF8) == 0xD0) {
        pos += 2; bitBuf = 0; bitCnt = 0; true
      } else false

    def bit(): Int = {
      if (bitCnt == 0) {
        if (pos >= data.length) throw new ArrayIndexOutOfBoundsException("bits exhausted")
        var b = data(pos) & 0xFF
        pos += 1
        if (b == 0xFF) {
          // byte stuffing: FF 00 means literal FF; FF Dx here would be a
          // marker the MCU loop should have consumed — treat as padding 1s
          if (pos < data.length && data(pos) == 0) pos += 1
          else b = 0xFF
        }
        bitBuf = b; bitCnt = 8
      }
      bitCnt -= 1
      (bitBuf >> bitCnt) & 1
    }

    def bits(n: Int): Int = {
      var v = 0
      var i = 0
      while (i < n) { v = (v << 1) | bit(); i += 1 }
      v
    }
  }

  // ---- canonical Huffman ----------------------------------------------

  /** Canonical Huffman decoder from the DHT (BITS, HUFFVAL) spec: mincode/
    * maxcode/valptr per length, exactly JPEG Annex C.
    */
  private final class Huff(counts: Array[Int], values: Array[Int]) {
    private val minCode = new Array[Int](17)
    private val maxCode = new Array[Int](17)
    private val valPtr  = new Array[Int](17)
    locally {
      var code = 0
      var k = 0
      var l = 1
      while (l <= 16) {
        valPtr(l) = k
        minCode(l) = code
        code += counts(l - 1)
        k += counts(l - 1)
        maxCode(l) = code - 1
        code <<= 1
        l += 1
      }
    }
    def decode(br: BitReader): Int = {
      var code = 0
      var l = 0
      while (l < 16) {
        code = (code << 1) | br.bit()
        l += 1
        if (counts(l - 1) > 0 && code <= maxCode(l))
          return values(valPtr(l) + code - minCode(l))
      }
      throw new IllegalStateException("bad huffman code")
    }
  }

  /** JPEG "extend": a `size`-bit magnitude with MSB 0 encodes a negative
    * value (ones-complement of its absolute value).
    */
  private def extend(v: Int, size: Int): Int =
    if (size == 0) 0
    else if (v < (1 << (size - 1))) v - (1 << size) + 1
    else v

  private[operators] val Zigzag: Array[Int] = Array(
    0,  1,  8, 16,  9,  2,  3, 10, 17, 24, 32, 25, 18, 11,  4,  5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13,  6,  7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)

  // ---- IDCT ------------------------------------------------------------

  /** 2-D 8×8 inverse DCT, separable double-precision form (Annex A.3.3) —
    * clarity over speed: per-block cost is constant and the whole decode
    * runs inside a mapPartitions executor task.
    */
  private val CosTable: Array[Double] = {
    val t = new Array[Double](64)
    var x = 0
    while (x < 8) {
      var u = 0
      while (u < 8) {
        t(x * 8 + u) = math.cos((2 * x + 1) * u * math.Pi / 16.0)
        u += 1
      }
      x += 1
    }
    t
  }

  private def idct(coef: Array[Int], out: Array[Int]): Unit = {
    val tmp = new Array[Double](64)
    var y = 0
    while (y < 8) { // rows: tmp = coef rows transformed
      var x = 0
      while (x < 8) {
        var s = 0.0
        var u = 0
        while (u < 8) {
          val cu = if (u == 0) 0.70710678118654752 else 1.0
          s += cu * coef(y * 8 + u) * CosTable(x * 8 + u)
          u += 1
        }
        tmp(y * 8 + x) = s / 2.0
        x += 1
      }
      y += 1
    }
    var x = 0
    while (x < 8) { // columns
      var yy = 0
      while (yy < 8) {
        var s = 0.0
        var v = 0
        while (v < 8) {
          val cv = if (v == 0) 0.70710678118654752 else 1.0
          s += cv * tmp(v * 8 + x) * CosTable(yy * 8 + v)
          v += 1
        }
        val px = math.round(s / 2.0 + 128.0).toInt
        out(yy * 8 + x) = if (px < 0) 0 else if (px > 255) 255 else px
        yy += 1
      }
      x += 1
    }
  }

  // ---- decoder ---------------------------------------------------------

  private final case class Comp(id: Int, h: Int, v: Int, tq: Int,
                                var dcTab: Int = 0, var acTab: Int = 0)

  def decode(payload: Array[Byte]): Option[Image] = {
    try decodeInner(payload)
    catch { case _: Exception => None } // corrupt stream: counted, not thrown
  }

  private def decodeInner(payload: Array[Byte]): Option[Image] = {
    if (payload == null || payload.length < 4) return None
    def u8(i: Int) = payload(i) & 0xFF
    def u16(i: Int) = (u8(i) << 8) | u8(i + 1)
    if (u8(0) != 0xFF || u8(1) != 0xD8) return None // SOI

    val qt = Array.ofDim[Int](4, 64)
    val dcHuff = new Array[Huff](4)
    val acHuff = new Array[Huff](4)
    var comps: Array[Comp] = null
    var width = 0L; var height = 0L
    var restartInterval = 0
    var p = 2
    var scanStart = -1

    while (scanStart < 0) {
      if (p + 4 > payload.length) return None
      if (u8(p) != 0xFF) return None
      val marker = u8(p + 1)
      if (marker == 0xFF) { p += 1 } // fill byte
      else if (marker == 0xD8 || (marker >= 0xD0 && marker <= 0xD7)) { p += 2 }
      else {
        val len = u16(p + 2)
        if (p + 2 + len > payload.length) return None
        marker match {
          case 0xDB => // DQT: one or more (precision|id, 64 values)
            var q = p + 4
            while (q < p + 2 + len) {
              val prec = u8(q) >> 4
              val id = u8(q) & 0x0F
              if (id > 3) return None
              if (prec == 0) {
                var i = 0
                while (i < 64) { qt(id)(i) = u8(q + 1 + i); i += 1 }
                q += 65
              } else {
                var i = 0
                while (i < 64) { qt(id)(i) = u16(q + 1 + 2 * i); i += 1 }
                q += 129
              }
            }
          case 0xC0 => // SOF0 baseline
            height = u16(p + 5)
            width = u16(p + 7)
            val n = u8(p + 9)
            if (n != 1 && n != 3) return None
            comps = Array.tabulate(n) { i =>
              val b = p + 10 + 3 * i
              Comp(u8(b), u8(b + 1) >> 4, u8(b + 1) & 0x0F, u8(b + 2))
            }
            if (comps.exists(c => c.h < 1 || c.h > 4 || c.v < 1 || c.v > 4)) return None
          case 0xC1 | 0xC2 | 0xC3 | 0xC5 | 0xC6 | 0xC7 |
               0xC9 | 0xCA | 0xCB | 0xCD | 0xCE | 0xCF =>
            return None // non-baseline SOF: out of scope
          case 0xC4 => // DHT: one or more tables
            var q = p + 4
            while (q < p + 2 + len) {
              val cls = u8(q) >> 4
              val id = u8(q) & 0x0F
              if (id > 3) return None
              val counts = Array.tabulate(16)(i => u8(q + 1 + i))
              val total = counts.sum
              val values = Array.tabulate(total)(i => u8(q + 17 + i))
              val h = new Huff(counts, values)
              if (cls == 0) dcHuff(id) = h else acHuff(id) = h
              q += 17 + total
            }
          case 0xDD => restartInterval = u16(p + 4)
          case 0xDA => // SOS
            val ns = u8(p + 4)
            if (comps == null || ns != comps.length) return None
            var i = 0
            while (i < ns) {
              val cid = u8(p + 5 + 2 * i)
              val c = comps.find(_.id == cid).getOrElse(return None)
              c.dcTab = u8(p + 6 + 2 * i) >> 4
              c.acTab = u8(p + 6 + 2 * i) & 0x0F
              i += 1
            }
            scanStart = p + 2 + len
          case _ => () // APPn / COM / others: skip
        }
        if (scanStart < 0) p += 2 + len
      }
    }

    if (width <= 0 || height <= 0 || width * height > (1L << 24)) return None // 16M px cap
    val w = width.toInt; val h = height.toInt
    val hMax = comps.map(_.h).max
    val vMax = comps.map(_.v).max
    val mcusX = (w + 8 * hMax - 1) / (8 * hMax)
    val mcusY = (h + 8 * vMax - 1) / (8 * vMax)

    // per-component plane at its own resolution
    val planeW = comps.map(c => mcusX * 8 * c.h)
    val planeH = comps.map(c => mcusY * 8 * c.v)
    val planes = comps.indices.map(i => new Array[Byte](planeW(i) * planeH(i))).toArray

    val br = new BitReader(payload.slice(scanStart, payload.length))
    val dcPred = new Array[Int](comps.length)
    val coef = new Array[Int](64)
    val block = new Array[Int](64)
    var mcu = 0
    val mcuCount = mcusX * mcusY
    while (mcu < mcuCount) {
      if (restartInterval > 0 && mcu > 0 && mcu % restartInterval == 0) {
        if (br.restart()) java.util.Arrays.fill(dcPred, 0)
      }
      val mx = mcu % mcusX
      val my = mcu / mcusX
      var ci = 0
      while (ci < comps.length) {
        val c = comps(ci)
        var by = 0
        while (by < c.v) {
          var bx = 0
          while (bx < c.h) {
            java.util.Arrays.fill(coef, 0)
            // DC
            val dcSize = dcHuff(c.dcTab).decode(br)
            if (dcSize > 15) return None
            dcPred(ci) += extend(br.bits(dcSize), dcSize)
            coef(0) = dcPred(ci) * qt(c.tq)(0)
            // AC
            var k = 1
            var done = false
            while (!done && k < 64) {
              val rs = acHuff(c.acTab).decode(br)
              val run = rs >> 4
              val size = rs & 0x0F
              if (size == 0) {
                if (run == 15) k += 16 // ZRL
                else done = true       // EOB
              } else {
                k += run
                if (k > 63) return None
                coef(Zigzag(k)) = extend(br.bits(size), size) * qt(c.tq)(k)
                k += 1
              }
            }
            idct(coef, block)
            val px0 = (mx * c.h + bx) * 8
            val py0 = (my * c.v + by) * 8
            var yy = 0
            while (yy < 8) {
              var xx = 0
              while (xx < 8) {
                planes(ci)((py0 + yy) * planeW(ci) + px0 + xx) = block(yy * 8 + xx).toByte
                xx += 1
              }
              yy += 1
            }
            bx += 1
          }
          by += 1
        }
        ci += 1
      }
      mcu += 1
    }

    if (comps.length == 1) {
      val out = new Array[Byte](w * h)
      var y = 0
      while (y < h) {
        System.arraycopy(planes(0), y * planeW(0), out, y * w, w)
        y += 1
      }
      Some(Image(w, h, 1, out))
    } else {
      // nearest upsample each plane to full resolution, then YCbCr→RGB
      val out = new Array[Byte](w * h * 3)
      val c0 = comps(0); val c1 = comps(1); val c2 = comps(2)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          def sample(ci: Int, c: Comp): Int = {
            val sx = x * c.h / hMax
            val sy = y * c.v / vMax
            planes(ci)(sy * planeW(ci) + sx) & 0xFF
          }
          val yv = sample(0, c0)
          val cb = sample(1, c1) - 128
          val cr = sample(2, c2) - 128
          def clamp(d: Double): Byte = {
            val v = math.round(d).toInt
            (if (v < 0) 0 else if (v > 255) 255 else v).toByte
          }
          val o = (y * w + x) * 3
          out(o)     = clamp(yv + 1.402 * cr)
          out(o + 1) = clamp(yv - 0.344136 * cb - 0.714136 * cr)
          out(o + 2) = clamp(yv + 1.772 * cb)
          x += 1
        }
        y += 1
      }
      Some(Image(w, h, 3, out))
    }
  }

  // ---- deterministic synth encoder -------------------------------------

  /** Standard Annex K luminance DC Huffman spec (BITS, HUFFVAL). */
  private val StdDcCounts = Array(0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
  private val StdDcValues = Array(0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11)
  /** Annex K luminance AC: only the EOB code (run 0, size 0) is emitted by
    * the DC-only synth, but the full table ships so the stream is
    * standard-decoder-valid.
    */
  private val StdAcCounts = Array(0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D)
  private val StdAcValues = Array(
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61,
    0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52,
    0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25,
    0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
    0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64,
    0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79, 0x7A, 0x83,
    0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99,
    0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3,
    0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8,
    0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA)

  /** Canonical encode table: (code, length) per symbol. */
  private def encodeTable(counts: Array[Int], values: Array[Int]): Map[Int, (Int, Int)] = {
    var code = 0
    var k = 0
    val out = Map.newBuilder[Int, (Int, Int)]
    var l = 1
    while (l <= 16) {
      var i = 0
      while (i < counts(l - 1)) {
        out += values(k) -> ((code, l))
        code += 1; k += 1; i += 1
      }
      code <<= 1
      l += 1
    }
    out.result()
  }

  private final class BitWriter(out: java.io.ByteArrayOutputStream) {
    private var buf = 0
    private var cnt = 0
    def write(code: Int, len: Int): Unit = {
      var i = len - 1
      while (i >= 0) {
        buf = (buf << 1) | ((code >> i) & 1)
        cnt += 1
        if (cnt == 8) {
          out.write(buf)
          if (buf == 0xFF) out.write(0x00) // byte stuffing
          buf = 0; cnt = 0
        }
        i -= 1
      }
    }
    def flush(): Unit = if (cnt > 0) { // pad with 1s per spec
      buf = (buf << (8 - cnt)) | ((1 << (8 - cnt)) - 1)
      out.write(buf)
      if (buf == 0xFF) out.write(0x00)
      buf = 0; cnt = 0
    }
  }

  /** Deterministic, VALID baseline grayscale JPEG whose 8×8 blocks are
    * each a FLAT gray level: with a flat-8 quantization table the DC
    * coefficient quantizes with NO loss (qdc = level − 128, exactly), so
    * decode returns the input levels bit-exactly and the m9 oracle can
    * derive expected statistics from the md5 level stream directly — the
    * m5/m6/m7 construction applied to a lossy codec by pinning the input
    * to its lossless subspace. The stream is fully standard (SOI, JFIF
    * APP0, DQT, SOF0, DHT×2, SOS, entropy data, EOI) and any baseline
    * decoder accepts it; ours must walk markers, build both canonical
    * Huffman tables, track DC prediction across blocks, and IDCT every
    * block to get those levels back.
    */
  def synthJpegBytes(levels: Array[Int], blocksX: Int, blocksY: Int): Array[Byte] = {
    require(levels.length == blocksX * blocksY, "one level per 8x8 block")
    val w = blocksX * 8; val h = blocksY * 8
    val out = new java.io.ByteArrayOutputStream()
    def u8(v: Int): Unit = out.write(v & 0xFF)
    def u16(v: Int): Unit = { u8(v >> 8); u8(v) }
    def marker(m: Int, body: Array[Int]): Unit = {
      u8(0xFF); u8(m); u16(body.length + 2); body.foreach(u8)
    }
    u8(0xFF); u8(0xD8) // SOI
    marker(0xE0, Array('J', 'F', 'I', 'F', 0, 1, 1, 0, 0, 1, 0, 1, 0, 0)) // APP0
    marker(0xDB, 0 +: Array.fill(64)(8)) // DQT id 0, all 8 (lossless DC)
    marker(0xC0, Array(8, h >> 8, h & 0xFF, w >> 8, w & 0xFF, 1, 1, 0x11, 0)) // SOF0 gray
    marker(0xC4, 0x00 +: (StdDcCounts ++ StdDcValues)) // DHT DC 0
    marker(0xC4, 0x10 +: (StdAcCounts ++ StdAcValues)) // DHT AC 0
    marker(0xDA, Array(1, 1, 0x00, 0, 63, 0)) // SOS
    val dcTab = encodeTable(StdDcCounts, StdDcValues)
    val acTab = encodeTable(StdAcCounts, StdAcValues)
    val bw = new BitWriter(out)
    var pred = 0
    levels.foreach { level =>
      val qdc = level - 128 // DC of a flat block is 8·(level−128); Q=8
      val diff = qdc - pred
      pred = qdc
      var size = 0
      var a = math.abs(diff)
      while (a > 0) { size += 1; a >>= 1 }
      val (c, l) = dcTab(size)
      bw.write(c, l)
      if (size > 0) {
        val bits = if (diff < 0) diff + (1 << size) - 1 else diff
        bw.write(bits, size)
      }
      val (ec, el) = acTab(0x00) // EOB: every AC coefficient is zero
      bw.write(ec, el)
    }
    bw.flush()
    u8(0xFF); u8(0xD9) // EOI
    out.toByteArray
  }

  /** Column generator over (id, text): a `blocksX`×`blocksY` flat-block
    * grayscale JPEG whose levels are the md5 stream of (text ‖ "jN") —
    * the JPEG analogue of Multimodal.synthPng.
    */
  def synthJpeg(df: DataFrame, idCol: String, textCol: String,
                blocksX: Int = 3, blocksY: Int = 3): DataFrame = {
    val idIdx = df.schema.fieldIndex(idCol)
    val tIdx  = df.schema.fieldIndex(textCol)
    val outSchema = StructType(Seq(
      StructField(idCol, df.schema(idIdx).dataType, nullable = false),
      StructField("payload", BinaryType, nullable = true)))
    val n = blocksX * blocksY
    df.mapPartitions { rows =>
      val md = java.security.MessageDigest.getInstance("MD5")
      rows.map { r =>
        val text = r.getString(tIdx)
        val levels = new Array[Int](n)
        var filled = 0; var blk = 0
        while (filled < n) {
          val dig = md.digest((text + "j" + blk).getBytes("UTF-8"))
          var i = 0
          while (i < 16 && filled < n) { levels(filled) = dig(i) & 0xFF; filled += 1; i += 1 }
          blk += 1
        }
        Row(r.get(idIdx), synthJpegBytes(levels, blocksX, blocksY))
      }
    }(Encoders.row(outSchema))
  }

  /** JPEG stats over asset batches through the real decoder — the
    * distributed face, same mapPartitions shape as the other decode
    * families: geometry plus integer-exact gray statistics (mean over
    * the first `maxPixels`, min/max over the same prefix; 3-component
    * images use the G channel of the RGB conversion). Invalid payloads
    * keep their row with valid = 0.
    */
  def jpegPixelStats(assets: DataFrame, idCol: String = "asset_id",
                     payloadCol: String = "payload",
                     maxPixels: Int = 1 << 20): DataFrame = {
    require(maxPixels > 0, "maxPixels must be positive")
    val idIdx = assets.schema.fieldIndex(idCol)
    val pIdx  = assets.schema.fieldIndex(payloadCol)
    val outSchema = StructType(Seq(
      StructField(idCol, assets.schema(idIdx).dataType, nullable = false),
      StructField("valid", IntegerType, nullable = false),
      StructField("width", LongType, nullable = false),
      StructField("height", LongType, nullable = false),
      StructField("components", IntegerType, nullable = false),
      StructField("n_pixels", LongType, nullable = false),
      StructField("mean_gray", DoubleType, nullable = true),
      StructField("min_gray", IntegerType, nullable = true),
      StructField("max_gray", IntegerType, nullable = true)))
    assets.mapPartitions { rows =>
      rows.map { r =>
        decode(r.getAs[Array[Byte]](pIdx)) match {
          case Some(img) =>
            val nPixels = img.width.toLong * img.height
            val n = math.min(nPixels, maxPixels.toLong).toInt
            var s = 0L; var mn = 255; var mx = 0
            var i = 0
            while (i < n) {
              val g =
                if (img.components == 1) img.pixels(i) & 0xFF
                else img.pixels(3 * i + 1) & 0xFF
              s += g
              if (g < mn) mn = g
              if (g > mx) mx = g
              i += 1
            }
            val mean = BigDecimal(s.toDouble / n)
              .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
            Row(r.get(idIdx), 1, img.width.toLong, img.height.toLong,
              img.components, nPixels, mean, mn, mx)
          case None => Row(r.get(idIdx), 0, 0L, 0L, 0, 0L, null, null, null)
        }
      }
    }(Encoders.row(outSchema))
  }
}
