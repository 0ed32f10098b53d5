package graft.functions

import java.awt.color.ColorSpace
import java.awt.image.{BufferedImage, IndexColorModel}
import java.io.ByteArrayInputStream
import java.util.zip.CRC32
import javax.imageio.ImageIO
import javax.imageio.stream.MemoryCacheImageInputStream
import scala.util.Using

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
  * Full pixel decode is [[decodeRgb]], backed by the JDK's own
  * `javax.imageio` readers for all four formats (m09, m11, m19). `parse`
  * stays hand-written because it is on the catalog's metadata path, where
  * building an ImageIO reader would cost more than the header walk.
  *
  * The `*Bytes` builders emit minimal VALID streams (real signatures, real
  * chunk layout, real CRCs for PNG) — the fixture-synthesis side used by
  * m01 to exercise the parser against byte streams the oracle can size
  * exactly. `pngEncodeRgb` and `bmpEncodeRgb` write real pixel data.
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

  // ------------------------------------------------ pixel fixture encoders
  //
  // Real decodable PNG and BMP streams from packed RGB — the fixture side
  // of m09/m11, whose oracles recompute pixel statistics from the same
  // synthesis arithmetic. The specs read both back through ImageIO.

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

  /** Encode packed RGB pixels as an uncompressed 24-bit bottom-up BMP
    * (readable by ImageIO, and so by [[decodeRgb]]). */
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

  // --------------------------------------------------------- pixel decode

  /** Largest image [[decodeRgb]] allocates pixels for. Header-declared
    * dims drive the allocation, so a malformed header could demand
    * gigabytes, and `OutOfMemoryError` is an `Error` the catch-all would
    * not contain. 64 MPix covers any sane corpus image. */
  private val MaxPixels = 64L * 1024 * 1024

  /** Decode a PNG, JPEG, GIF or BMP payload to (width, height, packed
    * RGB — 3 bytes/px, row-major) with the JDK's `javax.imageio` reader
    * for the format [[parse]] finds (its format names are ImageIO's). A
    * GIF gives its first frame at the frame's own size, not composited
    * onto the logical screen. The reader reads from memory (no temp-file
    * cache) and is disposed after every call, since the JPEG reader holds
    * native memory. The pixel cap is checked on the reader's header dims
    * before any pixels are allocated. Returns None for null,
    * unrecognized, oversized or malformed input — never throws.
    *
    * The JDK's GIF reader places the rows of interlaced frames 2 or 3 rows
    * tall wrongly, so an interlaced GIF is read with its interlace flag
    * cleared, in stored row order, and its rows are re-ordered here. */
  def decodeRgb(bytes: Array[Byte]): Option[(Int, Int, Array[Byte])] =
    parse(bytes).flatMap { meta =>
      val interlaceAt = if (meta.format == "gif") gifInterlaceFlag(bytes) else -1
      val input =
        if (interlaceAt < 0) bytes else bytes.updated(interlaceAt, (bytes(interlaceAt) & ~0x40).toByte)
      val reader = ImageIO.getImageReadersByFormatName(meta.format).next()
      try Using.resource(new MemoryCacheImageInputStream(new ByteArrayInputStream(input))) { in =>
        reader.setInput(in, true, true)
        val w = reader.getWidth(0); val h = reader.getHeight(0)
        if (w <= 0 || h <= 0 || w.toLong * h > MaxPixels) None
        else {
          val rgb = packRgb(reader.read(0))
          Some((w, h, if (interlaceAt < 0) rgb else gifDeinterlace(w, h, rgb)))
        }
      } catch { case _: Exception => None }
      finally reader.dispose()
    }

  /** Offset of the flags byte of a GIF's first image descriptor when that
    * frame is interlaced, else -1. Skips the global color table and every
    * extension block (label, then data sub-blocks up to a zero length). */
  private def gifInterlaceFlag(b: Array[Byte]): Int = {
    val packed = u8(b, 10)
    var i = 13 + (if ((packed & 0x80) != 0) 3 << ((packed & 7) + 1) else 0)
    while (i < b.length && u8(b, i) == 0x21) {
      i += 2
      while (i < b.length && u8(b, i) != 0) i += u8(b, i) + 1
      i += 1
    }
    val flags = i + 9
    if (flags < b.length && u8(b, i) == 0x2C && (u8(b, flags) & 0x40) != 0) flags else -1
  }

  /** Interlaced GIF rows are stored as rows 0, 8, 16…, then 4, 12…, then
    * 2, 6…, then the odd rows: move each stored row to its display row. */
  private def gifDeinterlace(w: Int, h: Int, stored: Array[Byte]): Array[Byte] = {
    val display = Seq((0, 8), (4, 8), (2, 4), (1, 2)).flatMap { case (s, step) => s until h by step }
    val out = new Array[Byte](stored.length)
    display.zipWithIndex.foreach { case (row, k) =>
      System.arraycopy(stored, k * w * 3, out, row * w * 3, w * 3)
    }
    out
  }

  /** Packed RGB of a decoded image. Gray images give their raw samples,
    * scaled to 8 bits: `getRGB` would apply the linear-gray to sRGB
    * transfer curve, so a gray JPEG's level 64 would read as 137.
    * Palette and color images go through `getRGB`. */
  private def packRgb(img: BufferedImage): Array[Byte] = {
    val w = img.getWidth; val h = img.getHeight
    val out = new Array[Byte](w * h * 3)
    val cm = img.getColorModel
    if (!cm.isInstanceOf[IndexColorModel] && cm.getColorSpace.getType == ColorSpace.TYPE_GRAY) {
      val max = (1 << cm.getComponentSize(0)) - 1
      val gray = img.getRaster.getSamples(0, 0, w, h, 0, null: Array[Int])
      var i = 0
      while (i < gray.length) {
        val g = (gray(i) * 255 / max).toByte
        out(i * 3) = g; out(i * 3 + 1) = g; out(i * 3 + 2) = g
        i += 1
      }
    } else {
      val argb = img.getRGB(0, 0, w, h, null, 0, w)
      var i = 0
      while (i < argb.length) {
        val p = argb(i)
        out(i * 3) = (p >> 16).toByte; out(i * 3 + 1) = (p >> 8).toByte; out(i * 3 + 2) = p.toByte
        i += 1
      }
    }
    out
  }
}
