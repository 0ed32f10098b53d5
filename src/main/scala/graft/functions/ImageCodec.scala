package graft.functions

import java.util.zip.CRC32

/** Pure-JVM image container parsing — REAL header decode, zero external
  * deps: PNG (IHDR chunk), JPEG (SOFn marker scan), GIF (logical screen
  * descriptor), BMP (BITMAPINFOHEADER). This replaces the former stub for
  * image payloads: width/height come from the actual byte stream, not
  * arithmetic on its length.
  *
  * Reference behavior class: image metadata extraction before the heavy
  * decode (assets/multimodal pipelines resize/filter on dimensions first);
  * at 100 TB sniffing ~64 header bytes instead of inflating pixels is the
  * difference between an I/O-bound scan and a CPU-bound one — so `parse`
  * deliberately reads headers only and never decompresses pixel data.
  *
  * Full pixel decode (when a build needs it) drops into the same seam via
  * `javax.imageio.ImageIO` — the spec proves `parse` agrees with ImageIO's
  * own encoders on all four formats.
  *
  * The `*Bytes` builders emit minimal VALID streams (real signatures, real
  * chunk layout, real CRCs for PNG) — the fixture-synthesis side used by
  * m01 to exercise the parser against byte streams the oracle can size
  * exactly.
  */
object ImageCodec {

  final case class ImageMeta(format: String, width: Int, height: Int)

  // ------------------------------------------------------------- parsing

  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xFF
  private def be16(b: Array[Byte], i: Int): Int = (u8(b, i) << 8) | u8(b, i + 1)
  private def be32(b: Array[Byte], i: Int): Int =
    (u8(b, i) << 24) | (u8(b, i + 1) << 16) | (u8(b, i + 2) << 8) | u8(b, i + 3)
  private def le16(b: Array[Byte], i: Int): Int = u8(b, i) | (u8(b, i + 1) << 8)
  private def le32(b: Array[Byte], i: Int): Int =
    u8(b, i) | (u8(b, i + 1) << 8) | (u8(b, i + 2) << 16) | (u8(b, i + 3) << 24)

  private val PngSig = Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte)

  /** Detect format and read dimensions from the header bytes alone.
    * Returns None for null/short/unrecognized/structurally-invalid input —
    * never throws, so it is safe on a poisoned corpus (the
    * AdversarialInputSpec discipline). */
  def parse(bytes: Array[Byte]): Option[ImageMeta] =
    if (bytes == null || bytes.length < 14) None
    else parsePng(bytes).orElse(parseJpeg(bytes)).orElse(parseGif(bytes))
      .orElse(parseBmp(bytes))

  private def parsePng(b: Array[Byte]): Option[ImageMeta] = {
    val sigOk = b.length >= 24 && PngSig.indices.forall(i => b(i) == PngSig(i))
    // first chunk must be IHDR: length@8, type@12, width@16, height@20
    if (sigOk && b(12) == 'I' && b(13) == 'H' && b(14) == 'D' && b(15) == 'R') {
      val w = be32(b, 16); val h = be32(b, 20)
      if (w > 0 && h > 0) Some(ImageMeta("png", w, h)) else None
    } else None
  }

  /** Marker scan: skip segments until a SOFn frame header (C0–CF minus the
    * non-frame C4/C8/CC), whose payload is precision(1), height(2),
    * width(2) big-endian. */
  private def parseJpeg(b: Array[Byte]): Option[ImageMeta] = {
    if (u8(b, 0) != 0xFF || u8(b, 1) != 0xD8) return None
    var i = 2
    while (i + 3 < b.length) {
      if (u8(b, i) != 0xFF) return None // desynced — not a marker stream
      var j = i
      while (j + 1 < b.length && u8(b, j + 1) == 0xFF) j += 1 // fill bytes
      val m = u8(b, j + 1)
      if (m == 0xD8 || m == 0x01 || (m >= 0xD0 && m <= 0xD7)) i = j + 2
      else if (m == 0xD9) return None // EOI before any SOF
      else {
        if (j + 3 >= b.length) return None
        val len = be16(b, j + 2)
        if (len < 2) return None
        val isSof = m >= 0xC0 && m <= 0xCF && m != 0xC4 && m != 0xC8 && m != 0xCC
        if (isSof) {
          if (j + 8 >= b.length) return None
          val h = be16(b, j + 5); val w = be16(b, j + 7)
          return if (w > 0 && h > 0) Some(ImageMeta("jpeg", w, h)) else None
        }
        i = j + 2 + len
      }
    }
    None
  }

  private def parseGif(b: Array[Byte]): Option[ImageMeta] = {
    val magic = new String(b, 0, 6, "US-ASCII")
    if (magic == "GIF87a" || magic == "GIF89a") {
      val w = le16(b, 6); val h = le16(b, 8)
      if (w > 0 && h > 0) Some(ImageMeta("gif", w, h)) else None
    } else None
  }

  /** "BM" alone is two printable ASCII bytes, so require the structural
    * DIB-header size field (40/108/124) too — plain text can never match
    * it (ASCII has no NUL bytes). */
  private def parseBmp(b: Array[Byte]): Option[ImageMeta] = {
    if (b.length < 54 || b(0) != 'B' || b(1) != 'M') return None
    val dib = le32(b, 14)
    if (dib != 40 && dib != 108 && dib != 124) return None
    val w = le32(b, 18); val h = math.abs(le32(b, 22)) // negative h = top-down
    if (w > 0 && h > 0) Some(ImageMeta("bmp", w, h)) else None
  }

  // --------------------------------------------- minimal stream builders

  private def crcOf(chunks: Array[Byte]*): Array[Byte] = {
    val c = new CRC32
    chunks.foreach(c.update)
    val v = c.getValue
    Array((v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte)
  }
  private def be32b(v: Int) =
    Array((v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte)
  private def be16b(v: Int) = Array((v >>> 8).toByte, v.toByte)
  private def le16b(v: Int) = Array(v.toByte, (v >>> 8).toByte)
  private def le32b(v: Int) =
    Array(v.toByte, (v >>> 8).toByte, (v >>> 16).toByte, (v >>> 24).toByte)

  /** PNG: signature + IHDR (8-bit RGB) + one IDAT of `idatLen`
    * deterministic filler bytes + IEND; chunk CRCs are real.
    * Total size = 57 + idatLen. */
  def pngBytes(w: Int, h: Int, idatLen: Int): Array[Byte] = {
    val ihdrData = be32b(w) ++ be32b(h) ++ Array[Byte](8, 2, 0, 0, 0)
    val idatData = Array.tabulate(idatLen)(i => ((i * 31 + 7) & 0xFF).toByte)
    val ihdrType = "IHDR".getBytes("US-ASCII")
    val idatType = "IDAT".getBytes("US-ASCII")
    val iendType = "IEND".getBytes("US-ASCII")
    PngSig ++
      be32b(13) ++ ihdrType ++ ihdrData ++ crcOf(ihdrType, ihdrData) ++
      be32b(idatLen) ++ idatType ++ idatData ++ crcOf(idatType, idatData) ++
      be32b(0) ++ iendType ++ crcOf(iendType)
  }

  /** JPEG: SOI + APP0/JFIF + COM of `commentLen` filler bytes (the parser
    * must skip it to reach the frame header) + SOF0 (3-component) + EOI.
    * Total size = 45 + commentLen. */
  def jpegBytes(w: Int, h: Int, commentLen: Int): Array[Byte] = {
    val app0 = Array[Byte](0xFF.toByte, 0xE0.toByte) ++ be16b(16) ++
      "JFIF".getBytes("US-ASCII") ++ Array[Byte](0, 1, 1, 0, 0, 1, 0, 1, 0, 0)
    val com = Array[Byte](0xFF.toByte, 0xFE.toByte) ++ be16b(2 + commentLen) ++
      Array.tabulate(commentLen)(i => ((i * 17 + 3) & 0x7F).toByte)
    val sof0 = Array[Byte](0xFF.toByte, 0xC0.toByte) ++ be16b(17) ++
      Array[Byte](8) ++ be16b(h) ++ be16b(w) ++
      Array[Byte](3, 1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1)
    Array[Byte](0xFF.toByte, 0xD8.toByte) ++ app0 ++ com ++ sof0 ++
      Array[Byte](0xFF.toByte, 0xD9.toByte)
  }

  /** JPEG with a REAL DQT segment: SOI + APP0/JFIF + DQT (8-bit table 0,
    * the 64 entries in transmission order) + SOF0 + EOI — the
    * header-complete shape [[graft.functions.JpegDecoder.quantTable0]]
    * reads back byte-for-byte. */
  def jpegBytesWithDqt(w: Int, h: Int, table: Array[Int]): Array[Byte] = {
    require(table.length == 64 && table.forall(v => v >= 1 && v <= 255),
      "8-bit DQT needs 64 values in 1..255")
    val app0 = Array[Byte](0xFF.toByte, 0xE0.toByte) ++ be16b(16) ++
      "JFIF".getBytes("US-ASCII") ++ Array[Byte](0, 1, 1, 0, 0, 1, 0, 1, 0, 0)
    val dqt = Array[Byte](0xFF.toByte, 0xDB.toByte) ++ be16b(2 + 1 + 64) ++
      Array[Byte](0x00) ++ table.map(_.toByte)
    val sof0 = Array[Byte](0xFF.toByte, 0xC0.toByte) ++ be16b(17) ++
      Array[Byte](8) ++ be16b(h) ++ be16b(w) ++
      Array[Byte](3, 1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1)
    Array[Byte](0xFF.toByte, 0xD8.toByte) ++ app0 ++ dqt ++ sof0 ++
      Array[Byte](0xFF.toByte, 0xD9.toByte)
  }

  /** GIF89a: header + logical screen descriptor + trailer. Total size = 14. */
  def gifBytes(w: Int, h: Int): Array[Byte] =
    "GIF89a".getBytes("US-ASCII") ++ le16b(w) ++ le16b(h) ++
      Array[Byte](0, 0, 0, 0x3B)

  /** BMP: 14-byte file header + 40-byte BITMAPINFOHEADER (24-bit), no
    * pixel data. Total size = 54. */
  def bmpBytes(w: Int, h: Int): Array[Byte] =
    Array[Byte]('B', 'M') ++ le32b(54) ++ le32b(0) ++ le32b(54) ++
      le32b(40) ++ le32b(w) ++ le32b(h) ++ le16b(1) ++ le16b(24) ++
      Array.fill(24)(0.toByte)

  // ----------------------------------------------- real PNG pixel codec
  //
  // Full decode/encode for the 8-bit-RGB non-interlaced PNG subset — the
  // shape every synthetic-fixture and most real-world ML-corpus PNGs take.
  // Everything is JDK-only (zlib via java.util.zip); the spec cross-checks
  // both directions against javax.imageio, so the scanline filter math is
  // proven against an independent implementation, not itself.

  /** Encode packed RGB pixels (3 bytes/px, row-major) as a REAL decodable
    * PNG: filter-0 scanlines, one deflated IDAT, correct CRCs. */
  def pngEncodeRgb(w: Int, h: Int, rgb: Array[Byte]): Array[Byte] = {
    require(rgb.length == w * h * 3, s"need ${w * h * 3} bytes, got ${rgb.length}")
    val raw = new Array[Byte](h * (1 + w * 3))
    var y = 0
    while (y < h) {
      // filter byte 0 (None) then the row
      System.arraycopy(rgb, y * w * 3, raw, y * (1 + w * 3) + 1, w * 3)
      y += 1
    }
    val deflater = new java.util.zip.Deflater()
    deflater.setInput(raw); deflater.finish()
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    while (!deflater.finished()) out.write(buf, 0, deflater.deflate(buf))
    deflater.end()
    val idatData = out.toByteArray
    val ihdrData = be32b(w) ++ be32b(h) ++ Array[Byte](8, 2, 0, 0, 0)
    val ihdrType = "IHDR".getBytes("US-ASCII")
    val idatType = "IDAT".getBytes("US-ASCII")
    val iendType = "IEND".getBytes("US-ASCII")
    PngSig ++
      be32b(13) ++ ihdrType ++ ihdrData ++ crcOf(ihdrType, ihdrData) ++
      be32b(idatData.length) ++ idatType ++ idatData ++ crcOf(idatType, idatData) ++
      be32b(0) ++ iendType ++ crcOf(iendType)
  }

  /** Decode an 8-bit-RGB non-interlaced PNG to packed RGB pixels. Walks
    * the chunk stream (multiple IDATs concatenate), inflates, and undoes
    * all five scanline filters (None/Sub/Up/Average/Paeth). Returns None
    * for other color types/depths/interlacing or malformed data — never
    * throws. */
  def pngDecodeRgb(bytes: Array[Byte]): Option[(Int, Int, Array[Byte])] = try {
    if (bytes == null || bytes.length < 45 ||
      !PngSig.indices.forall(i => bytes(i) == PngSig(i))) return None
    var p = 8
    var w = 0; var h = 0; var ok = false
    val idat = new java.io.ByteArrayOutputStream()
    var end = false
    while (!end && p + 8 <= bytes.length) {
      val len = be32(bytes, p)
      val typ = new String(bytes, p + 4, 4, "US-ASCII")
      if (len < 0 || p + 12 + len > bytes.length) return None
      typ match {
        case "IHDR" =>
          w = be32(bytes, p + 8); h = be32(bytes, p + 12)
          val bitDepth = u8(bytes, p + 16); val colorType = u8(bytes, p + 17)
          val interlace = u8(bytes, p + 20)
          // pixel cap: header-declared dims drive the allocation below, so
          // a malformed header could demand gigabytes (OutOfMemoryError is
          // an Error — the catch-all would NOT contain it). 64 MPix covers
          // any sane corpus image; bigger payloads route to a production
          // decoder, not this subset codec.
          ok = bitDepth == 8 && colorType == 2 && interlace == 0 &&
            w > 0 && h > 0 && w.toLong * h <= 64L * 1024 * 1024
          if (!ok) return None
        case "IDAT" => idat.write(bytes, p + 8, len)
        case "IEND" => end = true
        case _ =>
      }
      p += 12 + len
    }
    if (!ok || idat.size() == 0) return None
    val inflater = new java.util.zip.Inflater()
    inflater.setInput(idat.toByteArray)
    val stride = w * 3
    val raw = new Array[Byte](h * (1 + stride))
    var got = 0
    while (got < raw.length && !inflater.finished()) {
      val n = inflater.inflate(raw, got, raw.length - got)
      if (n == 0 && inflater.needsInput()) return None // truncated stream
      got += n
    }
    inflater.end()
    if (got < raw.length) return None
    val px = new Array[Byte](h * stride)
    @inline def paeth(a: Int, b: Int, c: Int): Int = {
      val pp = a + b - c
      val pa = math.abs(pp - a); val pb = math.abs(pp - b); val pc = math.abs(pp - c)
      if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
    }
    var y = 0
    while (y < h) {
      val filter = raw(y * (1 + stride)) & 0xFF
      val rowIn = y * (1 + stride) + 1
      val rowOut = y * stride
      var x = 0
      while (x < stride) {
        val cur = raw(rowIn + x) & 0xFF
        val left = if (x >= 3) px(rowOut + x - 3) & 0xFF else 0
        val up = if (y > 0) px(rowOut - stride + x) & 0xFF else 0
        val upLeft = if (y > 0 && x >= 3) px(rowOut - stride + x - 3) & 0xFF else 0
        val v = filter match {
          case 0 => cur
          case 1 => cur + left
          case 2 => cur + up
          case 3 => cur + (left + up) / 2
          case 4 => cur + paeth(left, up, upLeft)
          case _ => return None
        }
        px(rowOut + x) = (v & 0xFF).toByte
        x += 1
      }
      y += 1
    }
    Some((w, h, px))
  } catch { case _: Exception => None }

  /** Decode an uncompressed 24-bit BMP (BITMAPINFOHEADER, the shape
    * [[bmpBytes]] and most real-world tool exports use) to packed RGB.
    * Handles bottom-up AND top-down row order, 4-byte row padding, and
    * BGR→RGB channel order. Returns None for other depths/compressions —
    * never throws. */
  def bmpDecodeRgb(bytes: Array[Byte]): Option[(Int, Int, Array[Byte])] = try {
    if (bytes == null || bytes.length < 54 || bytes(0) != 'B' || bytes(1) != 'M') return None
    val dataOff = le32(bytes, 10)
    val dib = le32(bytes, 14)
    if (dib < 40) return None
    val w = le32(bytes, 18)
    val hRaw = le32(bytes, 22)
    val h = math.abs(hRaw)
    val topDown = hRaw < 0
    val planes = le16(bytes, 26); val bpp = le16(bytes, 28)
    val compression = le32(bytes, 30)
    if (planes != 1 || bpp != 24 || compression != 0 ||
      w <= 0 || h <= 0 || w.toLong * h > 64L * 1024 * 1024) return None
    val rowSize = (w * 3 + 3) & ~3 // each row padded to a 4-byte boundary
    if (dataOff.toLong + rowSize.toLong * h > bytes.length) return None
    val out = new Array[Byte](w * h * 3)
    var y = 0
    while (y < h) {
      val srcRow = dataOff + (if (topDown) y else h - 1 - y) * rowSize
      var x = 0
      while (x < w) {
        val o = (y * w + x) * 3
        out(o) = bytes(srcRow + x * 3 + 2)     // R (stored BGR)
        out(o + 1) = bytes(srcRow + x * 3 + 1) // G
        out(o + 2) = bytes(srcRow + x * 3)     // B
        x += 1
      }
      y += 1
    }
    Some((w, h, out))
  } catch { case _: Exception => None }

  /** Encode packed RGB pixels as an uncompressed 24-bit bottom-up BMP —
    * the exact inverse of [[bmpDecodeRgb]] (and readable by ImageIO). */
  def bmpEncodeRgb(w: Int, h: Int, rgb: Array[Byte]): Array[Byte] = {
    require(rgb.length == w * h * 3, s"need ${w * h * 3} bytes, got ${rgb.length}")
    val rowSize = (w * 3 + 3) & ~3
    val dataSize = rowSize * h
    val out = new Array[Byte](54 + dataSize)
    val header = Array[Byte]('B', 'M') ++ le32b(54 + dataSize) ++ le32b(0) ++ le32b(54) ++
      le32b(40) ++ le32b(w) ++ le32b(h) ++ le16b(1) ++ le16b(24) ++
      le32b(0) ++ le32b(dataSize) ++ le32b(2835) ++ le32b(2835) ++ le32b(0) ++ le32b(0)
    System.arraycopy(header, 0, out, 0, 54)
    var y = 0
    while (y < h) {
      val dstRow = 54 + (h - 1 - y) * rowSize
      var x = 0
      while (x < w) {
        val o = (y * w + x) * 3
        out(dstRow + x * 3) = rgb(o + 2)     // B
        out(dstRow + x * 3 + 1) = rgb(o + 1) // G
        out(dstRow + x * 3 + 2) = rgb(o)     // R
        x += 1
      }
      y += 1
    }
    out
  }

  /** Decode a GIF's FIRST image frame to packed RGB: LZW decompression
    * (variable-width codes, clear/EOI semantics), global or local color
    * table, interlace de-weaving (the 8/8-8/4-4/2-2/1 four-pass row
    * order — ImageIO's own writer emits interlaced frames), frame offset
    * composited onto the logical screen. Missing color tables return
    * None — never throws. */
  def gifDecodeRgb(bytes: Array[Byte]): Option[(Int, Int, Array[Byte])] = try {
    if (bytes == null || bytes.length < 14) return None
    val magic = new String(bytes, 0, 6, "US-ASCII")
    if (magic != "GIF87a" && magic != "GIF89a") return None
    val sw = le16(bytes, 6); val sh = le16(bytes, 8)
    if (sw <= 0 || sh <= 0 || sw.toLong * sh > 64L * 1024 * 1024) return None
    val packed = u8(bytes, 10)
    val hasGct = (packed & 0x80) != 0
    val gctSize = 2 << (packed & 7)
    var p = 13
    val gct = if (hasGct) { val t = bytes.slice(p, p + gctSize * 3); p += gctSize * 3; t }
      else Array.emptyByteArray
    val bg = u8(bytes, 11)
    // screen initialized to the background color (or black without a GCT)
    val out = new Array[Byte](sw * sh * 3)
    if (hasGct && bg < gctSize) {
      var i = 0
      while (i < sw * sh) {
        out(i * 3) = gct(bg * 3); out(i * 3 + 1) = gct(bg * 3 + 1)
        out(i * 3 + 2) = gct(bg * 3 + 2); i += 1
      }
    }
    while (p < bytes.length) {
      u8(bytes, p) match {
        case 0x3B => return None // trailer before any image frame
        case 0x21 => // extension: label + sub-blocks
          p += 2
          while (p < bytes.length && u8(bytes, p) != 0) p += 1 + u8(bytes, p)
          p += 1
        case 0x2C => // image descriptor
          val fx = le16(bytes, p + 1); val fy = le16(bytes, p + 3)
          val fw = le16(bytes, p + 5); val fh = le16(bytes, p + 7)
          val fPacked = u8(bytes, p + 9)
          p += 10
          val interlaced = (fPacked & 0x40) != 0
          val lct = if ((fPacked & 0x80) != 0) {
            val n = 2 << (fPacked & 7)
            val t = bytes.slice(p, p + n * 3); p += n * 3; t
          } else gct
          if (lct.isEmpty) return None
          val minCode = u8(bytes, p); p += 1
          // concatenate the LZW sub-blocks
          val data = new java.io.ByteArrayOutputStream()
          while (p < bytes.length && u8(bytes, p) != 0) {
            val n = u8(bytes, p)
            data.write(bytes, p + 1, n); p += 1 + n
          }
          p += 1
          val indices = gifLzwDecode(data.toByteArray, minCode, fw * fh)
            .getOrElse(return None)
          // interlaced frames store rows in four passes (start/step
          // 0/8, 4/8, 2/4, 1/2) — build the decoded-row → display-row map
          val rowOrder: Array[Int] =
            if (!interlaced) Array.tabulate(fh)(identity)
            else {
              val order = new Array[Int](fh)
              var r = 0
              for ((start, step) <- Seq((0, 8), (4, 8), (2, 4), (1, 2));
                   y <- start until fh by step) { order(r) = y; r += 1 }
              order
            }
          // composite the frame onto the screen
          var i = 0
          while (i < indices.length && i < fw * fh) {
            val px = indices(i)
            val x = fx + i % fw; val y = fy + rowOrder(i / fw)
            if (x < sw && y < sh && px * 3 + 2 < lct.length) {
              val o = (y * sw + x) * 3
              out(o) = lct(px * 3); out(o + 1) = lct(px * 3 + 1); out(o + 2) = lct(px * 3 + 2)
            }
            i += 1
          }
          return Some((sw, sh, out)) // first frame only
        case _ => return None
      }
    }
    None
  } catch { case _: Exception => None }

  /** GIF LZW: variable-width codes starting at minCode+1 bits, dictionary
    * grows to 12 bits, CLEAR resets, EOI terminates. Little-endian bit
    * packing within the concatenated sub-block bytes. */
  private def gifLzwDecode(data: Array[Byte], minCode: Int, maxPixels: Int): Option[Array[Int]] = {
    if (minCode < 2 || minCode > 8) return None
    val clear = 1 << minCode
    val eoi = clear + 1
    var codeSize = minCode + 1
    var dictSize = eoi + 1
    // dictionary as (prefixCode, appendedByte); roots are single colors
    val prefix = new Array[Int](4096)
    val append = new Array[Int](4096)
    val out = new java.io.ByteArrayOutputStream()
    def emit(code: Int, buf: Array[Int]): Int = { // writes code's string, returns first byte
      var n = 0; var c = code
      while (c >= clear) { buf(n) = append(c); n += 1; c = prefix(c) } // composed codes
      buf(n) = c; n += 1
      var i = n - 1
      while (i >= 0) { out.write(buf(i)); i -= 1 }
      buf(n - 1)
    }
    val buf = new Array[Int](4096)
    var bitPos = 0
    def next(): Int = {
      if ((bitPos + codeSize + 7) / 8 > data.length) return -1
      var v = 0; var i = 0
      while (i < codeSize) {
        val bit = bitPos + i
        if ((u8(data, bit / 8) & (1 << (bit % 8))) != 0) v |= 1 << i
        i += 1
      }
      bitPos += codeSize
      v
    }
    var prev = -1
    var guard = 0
    while (out.size() < maxPixels && guard < maxPixels * 2 + 16) {
      guard += 1
      val code = next()
      if (code < 0 || code == eoi) return Some(out.toByteArray.map(_ & 0xFF))
      if (code == clear) {
        codeSize = minCode + 1; dictSize = eoi + 1; prev = -1
      } else if (prev < 0) {
        if (code >= dictSize) return None
        emit(code, buf)
        prev = code
      } else {
        val first =
          if (code < dictSize) emit(code, buf)
          else { // KwKwK case: code == dictSize
            if (code != dictSize) return None
            val f = emit(prev, buf); out.write(f); f
          }
        if (dictSize < 4096) {
          prefix(dictSize) = prev; append(dictSize) = first
          dictSize += 1
          if (dictSize == (1 << codeSize) && codeSize < 12) codeSize += 1
        }
        prev = code
      }
    }
    Some(out.toByteArray.map(_ & 0xFF))
  }
}
