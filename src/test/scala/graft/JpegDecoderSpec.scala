package graft

import graft.functions.{ImageCodec, JpegDecoder}
import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

/** JPEG through [[ImageCodec.decodeRgb]], on JPEGs the JDK's own writer
  * produces (its writer picks quant/Huffman tables, subsampling and
  * restart behavior): the packed RGB must match `ImageIO.read` pixel for
  * pixel in color, and the raw samples in grayscale. Also the header-only
  * [[JpegDecoder.quantTable0]] walk behind m14. */
class JpegDecoderSpec extends SparkSpec {

  private def writeJpeg(img: BufferedImage, quality: Float): Array[Byte] = {
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()
    val params = writer.getDefaultWriteParam
    params.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    params.setCompressionQuality(quality)
    val bos = new ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    writer.setOutput(ios)
    writer.write(null, new javax.imageio.IIOImage(img, null, null), params)
    writer.dispose(); ios.close()
    bos.toByteArray
  }

  private def gradient(w: Int, h: Int): BufferedImage = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val r = (x * 255) / math.max(w - 1, 1)
      val g = (y * 255) / math.max(h - 1, 1)
      val b = ((x + y) * 255) / math.max(w + h - 2, 1)
      img.setRGB(x, y, (r << 16) | (g << 8) | b)
    }
    img
  }

  private def maxDiffVsImageIO(jpeg: Array[Byte]): Int = {
    val Some((w, h, px)) = ImageCodec.decodeRgb(jpeg)
    val ref = javax.imageio.ImageIO.read(new ByteArrayInputStream(jpeg))
    assert(ref.getWidth == w && ref.getHeight == h)
    var worst = 0
    for (y <- 0 until h; x <- 0 until w) {
      val p = ref.getRGB(x, y)
      val o = (y * w + x) * 3
      worst = math.max(worst, math.abs(((p >> 16) & 0xFF) - (px(o) & 0xFF)))
      worst = math.max(worst, math.abs(((p >> 8) & 0xFF) - (px(o + 1) & 0xFF)))
      worst = math.max(worst, math.abs((p & 0xFF) - (px(o + 2) & 0xFF)))
    }
    worst
  }

  test("decodes JDK-encoded color JPEGs within IDCT tolerance") {
    // odd sizes force partial edge MCUs; both quality tiers exercise
    // different quant tables (and, at low quality, chroma subsampling)
    for ((w, h) <- Seq((16, 16), (37, 23), (8, 8), (65, 41));
         q <- Seq(0.95f, 0.7f)) {
      val jpeg = writeJpeg(gradient(w, h), q)
      val d = maxDiffVsImageIO(jpeg)
      assert(d == 0, s"${w}x$h q=$q: max channel diff $d vs ImageIO")
    }
  }

  test("decodes grayscale (single-component) JPEGs — non-interleaved scan") {
    val (w, h) = (20, 14)
    val img = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until h; x <- 0 until w)
      img.getRaster.setSample(x, y, 0, 40 + x * 5 + y * 3)
    val jpeg = writeJpeg(img, 0.9f)
    val Some((dw, dh, px)) = ImageCodec.decodeRgb(jpeg)
    assert((dw, dh) == ((w, h)))
    // RAW samples, exactly: getRGB would apply the gray→sRGB transfer
    // curve, a color-management step that is not part of JPEG decode
    val ref = javax.imageio.ImageIO.read(new ByteArrayInputStream(jpeg)).getRaster
    for (y <- 0 until h; x <- 0 until w) {
      val o = (y * w + x) * 3
      assert((px(o) & 0xFF) == ref.getSample(x, y, 0) && px(o) == px(o + 1) && px(o) == px(o + 2),
        s"grayscale pixel ($x,$y) vs ImageIO raster")
    }
  }

  test("solid-color image decodes near-exactly (single-DC blocks)") {
    val img = new BufferedImage(24, 24, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 24; x <- 0 until 24) img.setRGB(x, y, 0x6C9A3F)
    val jpeg = writeJpeg(img, 0.95f)
    val Some((_, _, px)) = ImageCodec.decodeRgb(jpeg)
    // lossy, but a flat field is DC-only: stays within quantization slack
    assert(math.abs((px(0) & 0xFF) - 0x6C) <= 4 &&
      math.abs((px(1) & 0xFF) - 0x9A) <= 4 && math.abs((px(2) & 0xFF) - 0x3F) <= 4)
  }

  test("progressive decodes; garbage and truncated inputs return None, never throw") {
    // ImageIO can emit progressive when asked
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()
    val params = writer.getDefaultWriteParam
    params.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DEFAULT)
    val bos = new ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    writer.setOutput(ios)
    writer.write(null, new javax.imageio.IIOImage(gradient(16, 16), null, null), params)
    writer.dispose(); ios.close()
    val progressive = bos.toByteArray
    assert(ImageCodec.decodeRgb(progressive).map(d => (d._1, d._2)).contains((16, 16)))
    assert(maxDiffVsImageIO(progressive) == 0)

    assert(ImageCodec.decodeRgb(null).isEmpty)
    assert(ImageCodec.decodeRgb(Array[Byte](1, 2, 3)).isEmpty)
    val ok = writeJpeg(gradient(16, 16), 0.9f)
    assert(ImageCodec.decodeRgb(ok.take(20)).isEmpty, "a header cut before the frame is refused")
    for (cut <- Seq(4, ok.length / 2, ok.length - 2))
      ImageCodec.decodeRgb(ok.take(cut)) // any result, no throw
    val rnd = new scala.util.Random(3)
    for (_ <- 0 until 100) {
      val m = ok.clone()
      for (_ <- 0 to rnd.nextInt(6)) m(rnd.nextInt(m.length)) = rnd.nextInt(256).toByte
      ImageCodec.decodeRgb(m) // fuzz: no throw
    }
  }

  test("quantTable0: synth round-trip is a byte identity; ImageIO JPEGs yield a table; junk refused") {
    import graft.functions.ImageCodec
    val table = Array.tabulate(64)(i => 1 + (i * 3) % 255)
    val bytes = ImageCodec.jpegBytesWithDqt(64, 48, table)
    assert(JpegDecoder.quantTable0(bytes).map(_.toSeq).contains(table.toSeq))
    // a REAL encoder's DQT is readable through the same walk, and lower
    // quality must not shrink the quantizers (sum is monotone-ish)
    val hi = JpegDecoder.quantTable0(writeJpeg(gradient(16, 16), 0.9f))
    val lo = JpegDecoder.quantTable0(writeJpeg(gradient(16, 16), 0.3f))
    assert(hi.isDefined && lo.isDefined)
    assert(lo.get.sum > hi.get.sum, "coarser quality must mean bigger quantizers")
    // refusals: no DQT before SOS/EOI, junk, truncation — None, never a throw
    assert(JpegDecoder.quantTable0(ImageCodec.jpegBytes(8, 8, 4)).isEmpty)
    assert(JpegDecoder.quantTable0(null).isEmpty)
    assert(JpegDecoder.quantTable0(Array[Byte](1, 2, 3)).isEmpty)
    for (cut <- Seq(4, 10, bytes.length / 2, bytes.length - 2))
      JpegDecoder.quantTable0(bytes.take(cut)) // no throw
  }
}
