package graft

import graft.operators.Multimodal
import org.apache.spark.sql.functions._

class MultimodalSpec extends SparkSpec {

  test("withDecodedMeta attaches the fixed meta schema, preserves columns and rows") {
    import spark.implicits._
    val df = Seq((1L, "abc".getBytes("UTF-8")), (2L, Array.empty[Byte]))
      .toDF("id", "payload")
    val out = Multimodal.withDecodedMeta(df, "payload")
    assert(out.schema.fieldNames.toSeq == Seq("id", "payload", "meta"))
    assert(out.schema("meta").dataType == Multimodal.MetaSchema)
    val rows = out.orderBy("id").collect()
    assert(rows.length == 2)
    val m1 = rows(0).getStruct(2)
    assert(m1.getInt(0) == 3) // n_bytes
    assert(m1.getInt(1) == 3 % 640)
    assert(m1.getInt(2) == (3 * 7) % 480)
  }

  test("decode is a narrow transformation: no shuffle in the plan") {
    import spark.implicits._
    val df = Seq((1L, "xyz".getBytes("UTF-8"))).toDF("id", "payload")
    val plan = Multimodal.withDecodedMeta(df, "payload")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"decode should not shuffle:\n$plan")
  }

  test("ImageCodec.parse recovers dimensions from images written by the JDK's own encoders") {
    import graft.functions.ImageCodec
    import java.awt.image.BufferedImage
    import java.io.ByteArrayOutputStream
    for (fmt <- Seq("png", "jpg", "gif", "bmp")) {
      val img = new BufferedImage(17, 23, BufferedImage.TYPE_INT_RGB)
      img.setRGB(3, 5, 0x336699) // non-trivial pixel so encoders emit data
      val bos = new ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, fmt, bos), s"no JDK writer for $fmt")
      val parsed = ImageCodec.parse(bos.toByteArray)
      assert(parsed.isDefined, s"parse failed on ImageIO-written $fmt")
      val expectFmt = if (fmt == "jpg") "jpeg" else fmt
      assert(parsed.get == ImageCodec.ImageMeta(expectFmt, 17, 23),
        s"$fmt: got ${parsed.get}")
    }
  }

  test("ImageCodec builders round-trip through the parser at boundary dimensions") {
    import graft.functions.ImageCodec
    assert(ImageCodec.parse(ImageCodec.pngBytes(640, 480, 0))
      .contains(ImageCodec.ImageMeta("png", 640, 480)))
    assert(ImageCodec.parse(ImageCodec.pngBytes(1, 1, 99))
      .contains(ImageCodec.ImageMeta("png", 1, 1)))
    // the COM segment before SOF0 must be skipped by the marker scan
    assert(ImageCodec.parse(ImageCodec.jpegBytes(640, 480, 99))
      .contains(ImageCodec.ImageMeta("jpeg", 640, 480)))
    assert(ImageCodec.parse(ImageCodec.gifBytes(1, 480))
      .contains(ImageCodec.ImageMeta("gif", 1, 480)))
    assert(ImageCodec.parse(ImageCodec.bmpBytes(640, 1))
      .contains(ImageCodec.ImageMeta("bmp", 640, 1)))
    // documented stream sizes (the m01 oracle depends on these)
    assert(ImageCodec.pngBytes(9, 9, 42).length == 57 + 42)
    assert(ImageCodec.jpegBytes(9, 9, 42).length == 45 + 42)
    assert(ImageCodec.gifBytes(9, 9).length == 14)
    assert(ImageCodec.bmpBytes(9, 9).length == 54)
  }

  test("ImageCodec.parse rejects adversarial non-image bytes without throwing") {
    import graft.functions.ImageCodec
    assert(ImageCodec.parse(null).isEmpty)
    assert(ImageCodec.parse(Array.emptyByteArray).isEmpty)
    assert(ImageCodec.parse("plain text payload, long enough to clear minimums".getBytes).isEmpty)
    // "BM" text prefix must NOT sniff as BMP (the DIB-size structural check)
    assert(ImageCodec.parse("BMW dealerships report record Q3 sales this year....".getBytes).isEmpty)
    // truncated PNG: signature only
    assert(ImageCodec.parse(ImageCodec.pngBytes(5, 5, 0).take(12)).isEmpty)
    // JPEG with no SOF before EOI
    assert(ImageCodec.parse(Array(0xFF, 0xD8, 0xFF, 0xD9).map(_.toByte)).isEmpty)
    // zero-dimension image is structurally invalid
    assert(ImageCodec.parse(ImageCodec.gifBytes(0, 5)).isEmpty)
    // non-image payloads fall back to the deterministic stand-in
    val b = "plain text".getBytes
    assert(Multimodal.decodeMeta(b) ==
      ((b.length, b.length % 640, (b.length * 7) % 480, b.length % 30, "raw")))
    // image payloads get REAL dimensions
    assert(Multimodal.decodeMeta(graft.functions.ImageCodec.pngBytes(320, 200, 10)) ==
      ((67, 320, 200, 1, "png")))
  }

  test("routeMedia dispatches every container family and defaults to raw") {
    import spark.implicits._
    import graft.functions.{AudioCodec, ImageCodec, VideoCodec}
    val df = Seq(
      (1L, ImageCodec.pngBytes(12, 8, 5)),
      (2L, ImageCodec.jpegBytes(100, 50, 9)),
      (3L, AudioCodec.wavBytes(16000, 2, 16, 8000)),
      (4L, VideoCodec.mp4Bytes(1000, 2500L, 2, 64)),
      (5L, Array[Byte](1, 2, 3)),
      (6L, null.asInstanceOf[Array[Byte]])
    ).toDF("id", "payload")
    val out = Multimodal.routeMedia(df, "payload")
      .select(col("id"), col("rmeta.kind"), col("rmeta.format"),
        col("rmeta.px"), col("rmeta.duration_ms"), col("rmeta.n_bytes"))
      .orderBy("id").collect()
    assert(out(0).getString(1) == "image" && out(0).getString(2) == "png" &&
      out(0).getLong(3) == 96L)
    assert(out(1).getString(1) == "image" && out(1).getString(2) == "jpeg" &&
      out(1).getLong(3) == 5000L)
    assert(out(2).getString(1) == "audio" && out(2).getLong(4) == 500L)
    assert(out(3).getString(1) == "video" && out(3).getLong(4) == 2500L)
    assert(out(4).getString(1) == "raw" && out(4).getInt(5) == 3)
    assert(out(5).getString(1) == "raw" && out(5).getInt(5) == 0)
    // routing is narrow: no shuffle
    assert(!Multimodal.routeMedia(df, "payload")
      .queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("png pixel codec round-trips and agrees with JDK ImageIO both ways") {
    import graft.functions.ImageCodec
    // deterministic gradient-ish RGB image
    val (w, h) = (13, 9)
    val rgb = Array.tabulate(w * h * 3)(i => ((i * 37 + 11) & 0xFF).toByte)
    val png = ImageCodec.pngEncodeRgb(w, h, rgb)
    // 1) ImageIO's reader decodes our PNG to the same pixels (the stream
    // is genuinely valid, not self-consistently wrong)
    val Some((dw, dh, dpx)) = ImageCodec.decodeRgb(png)
    assert((dw, dh) == ((w, h)) && dpx.sameElements(rgb))
    // 2) an ImageIO-WRITTEN png (real filters chosen by the JDK) decodes
    // back to identical pixels
    val jdkImg = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val o = (y * w + x) * 3
      jdkImg.setRGB(x, y, ((rgb(o) & 0xFF) << 16) | ((rgb(o + 1) & 0xFF) << 8) | (rgb(o + 2) & 0xFF))
    }
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(jdkImg, "png", bos))
    val Some((jw, jh, jpx)) = ImageCodec.decodeRgb(bos.toByteArray)
    assert((jw, jh) == ((w, h)) && jpx.sameElements(rgb), "decode of JDK-encoded png diverged")
  }

  test("bmp pixel codec round-trips and agrees with JDK ImageIO both ways") {
    import graft.functions.ImageCodec
    val (w, h) = (7, 5)
    val rgb = Array.tabulate(w * h * 3)(i => ((i * 53 + 19) & 0xFF).toByte)
    val bmp = ImageCodec.bmpEncodeRgb(w, h, rgb)
    // ImageIO's reader reads our BMP pixel-exact
    val Some((dw, dh, dpx)) = ImageCodec.decodeRgb(bmp)
    assert((dw, dh) == ((w, h)) && dpx.sameElements(rgb))
    // and an ImageIO-WRITTEN BMP reads back pixel-exact
    val jdkImg = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val o = (y * w + x) * 3
      jdkImg.setRGB(x, y, ((rgb(o) & 0xFF) << 16) | ((rgb(o + 1) & 0xFF) << 8) | (rgb(o + 2) & 0xFF))
    }
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(jdkImg, "bmp", bos))
    val Some((jw, jh, jpx)) = ImageCodec.decodeRgb(bos.toByteArray)
    assert((jw, jh) == ((w, h)) && jpx.sameElements(rgb),
      "decode of JDK-encoded bmp diverged")
  }

  test("gif decode: LZW + color table agree with JDK ImageIO's encoder") {
    import graft.functions.ImageCodec
    // a small palette image: ImageIO's GIF writer quantizes, so use few
    // distinct colors (exactly representable in a color table)
    val (w, h) = (11, 6)
    val palette = Array(0xFF0000, 0x00FF00, 0x0000FF, 0xFFFFFF)
    val jdkImg = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w)
      jdkImg.setRGB(x, y, palette((x + y * 3) % palette.length))
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(jdkImg, "gif", bos))
    val Some((gw, gh, gpx)) = ImageCodec.decodeRgb(bos.toByteArray)
    assert((gw, gh) == ((w, h)))
    for (y <- 0 until h; x <- 0 until w) {
      val want = palette((x + y * 3) % palette.length)
      val o = (y * w + x) * 3
      val got = ((gpx(o) & 0xFF) << 16) | ((gpx(o + 1) & 0xFF) << 8) | (gpx(o + 2) & 0xFF)
      assert(got == want, f"gif pixel ($x,$y): got $got%06x want $want%06x")
    }
    // malformed gifs return None, never throw
    assert(ImageCodec.decodeRgb("GIF89a".getBytes("US-ASCII")).isEmpty)
    assert(ImageCodec.decodeRgb(null).isEmpty)
  }

  test("interlaced gifs decode their rows in display order, 2 and 3 rows tall too") {
    import graft.functions.ImageCodec
    import java.awt.image.{BufferedImage, IndexColorModel}
    // one palette entry per pixel, so a row in the wrong place reads wrong
    val palette = Array.tabulate(256)(i => (i << 16) | ((255 - i) << 8) | ((i * 37) & 0xFF))
    val icm = new IndexColorModel(8, 256, palette.map(c => (c >> 16).toByte),
      palette.map(c => (c >> 8).toByte), palette.map(_.toByte))
    for ((w, h) <- Seq((2, 2), (3, 3), (5, 17))) {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_INDEXED, icm)
      for (y <- 0 until h; x <- 0 until w) img.getRaster.setSample(x, y, 0, y * w + x)
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, "gif", bos))
      val gif = bos.toByteArray
      val reader = javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()
      reader.setInput(javax.imageio.ImageIO.createImageInputStream(new java.io.ByteArrayInputStream(gif)))
      val descriptor = reader.getImageMetadata(0).getAsTree("javax_imageio_gif_image_1.0")
        .asInstanceOf[org.w3c.dom.Element].getElementsByTagName("ImageDescriptor").item(0)
        .asInstanceOf[org.w3c.dom.Element]
      reader.dispose()
      assert(descriptor.getAttribute("interlaceFlag") == "TRUE", s"the ${w}x$h fixture is interlaced")
      val Some((gw, gh, px)) = ImageCodec.decodeRgb(gif)
      assert((gw, gh) == ((w, h)))
      for (y <- 0 until h; x <- 0 until w) {
        val o = (y * w + x) * 3
        val got = ((px(o) & 0xFF) << 16) | ((px(o + 1) & 0xFF) << 8) | (px(o + 2) & 0xFF)
        assert(got == palette(y * w + x), f"${w}x$h pixel ($x,$y): got $got%06x")
      }
    }
  }

  test("bmp and gif decoders read solid images pixel-exact") {
    import graft.functions.ImageCodec
    val solid = Array.tabulate(8 * 8 * 3)(i => (i % 3 match {
      case 0 => 10; case 1 => 150; case _ => 250
    }).toByte)
    val Some((bw, bh, bpx)) = ImageCodec.decodeRgb(ImageCodec.bmpEncodeRgb(8, 8, solid))
    assert((bw, bh) == ((8, 8)))
    assert(bpx.grouped(3).forall(p =>
      (p(0) & 0xFF) == 10 && (p(1) & 0xFF) == 150 && (p(2) & 0xFF) == 250))
    // an ImageIO-written GIF (independent LZW encoder)
    val jdkImg = new java.awt.image.BufferedImage(8, 8,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 8; x <- 0 until 8) jdkImg.setRGB(x, y, 0x336699)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(jdkImg, "gif", bos)
    val Some((gw, gh, gpx)) = ImageCodec.decodeRgb(bos.toByteArray)
    assert((gw, gh) == ((8, 8)))
    assert(gpx.grouped(3).forall(p =>
      (p(0) & 0xFF) == 0x33 && (p(1) & 0xFF) == 0x66 && (p(2) & 0xFF) == 0x99))
  }

  test("baseline jpeg decoder reads an ImageIO-written flat field") {
    import graft.functions.ImageCodec
    val img = new java.awt.image.BufferedImage(16, 16,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 16; x <- 0 until 16) img.setRGB(x, y, 0x884422)
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "jpeg", bos))
    val Some((w, h, px)) = ImageCodec.decodeRgb(bos.toByteArray)
    assert((w, h) == ((16, 16)))
    // JPEG is lossy: the flat field survives within quantization slack
    assert(px.grouped(3).forall(p =>
      math.abs((p(0) & 0xFF) - 0x88) <= 6 && math.abs((p(1) & 0xFF) - 0x44) <= 6 &&
        math.abs((p(2) & 0xFF) - 0x22) <= 6), "jpeg decode drifted")
  }

  test("png, bmp and jpeg headers declaring more than 64 MPix return None") {
    import graft.functions.{ImageCodec, JpegDecoder}
    import java.nio.{ByteBuffer, ByteOrder}
    val side = 8193 // 8193² = 67,125,249 px, just past the 64 MPix cap
    val be = ByteBuffer.allocate(4)
    def be32(v: Int): Array[Byte] = { be.clear(); be.putInt(v).array.clone }
    def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
      val td = typ.getBytes("US-ASCII") ++ data
      val crc = new java.util.zip.CRC32; crc.update(td)
      be32(data.length) ++ td ++ be32(crc.getValue.toInt)
    }
    // each stream below decodes without the cap: a valid PNG of all-zero
    // rows (about 0.2 MB deflated), an RLE8 BMP whose first code ends the
    // bitmap, and a DC-only JPEG whose frame header claims the larger size
    val idat = new java.io.ByteArrayOutputStream()
    val z = new java.util.zip.DeflaterOutputStream(idat)
    val row = new Array[Byte](1 + side * 3)
    (0 until side).foreach(_ => z.write(row))
    z.close()
    val png = Array(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte) ++
      chunk("IHDR", be32(side) ++ be32(side) ++ Array[Byte](8, 2, 0, 0, 0)) ++
      chunk("IDAT", idat.toByteArray) ++ chunk("IEND", Array.emptyByteArray)
    val le = ByteBuffer.allocate(62).order(ByteOrder.LITTLE_ENDIAN)
    le.put('B'.toByte).put('M'.toByte).putInt(64).putInt(0).putInt(62)
      .putInt(40).putInt(side).putInt(side).putShort(1).putShort(8).putInt(1)
      .putInt(2).putInt(2835).putInt(2835).putInt(2).putInt(0)
      .putInt(0x000000).putInt(0xFFFFFF) // two-entry palette
    val bmp = le.array ++ Array[Byte](0, 1) // RLE8 end-of-bitmap
    val jpeg = JpegDecoder.jpegGrayBlockBytes(1, 1, Array(77))
    val sof = jpeg.indices.find(i => (jpeg(i) & 0xFF) == 0xFF && (jpeg(i + 1) & 0xFF) == 0xC0).get
    jpeg(sof + 5) = (side >> 8).toByte; jpeg(sof + 6) = side.toByte
    jpeg(sof + 7) = (side >> 8).toByte; jpeg(sof + 8) = side.toByte
    for ((fmt, bytes) <- Seq("png" -> png, "bmp" -> bmp, "jpeg" -> jpeg)) {
      assert(ImageCodec.parse(bytes).contains(ImageCodec.ImageMeta(fmt, side, side)), fmt)
      assert(ImageCodec.decodeRgb(bytes).isEmpty, s"$fmt past the pixel cap must be refused")
    }
  }

  test("explodeSampledFrames: one row per sampled frame, stride respected") {
    import spark.implicits._
    // payload of 25 bytes -> n_frames = 25 % 30 = 25; stride 10 -> frames 0,10,20
    val df = Seq((1L, Array.fill(25)(1.toByte))).toDF("id", "payload")
    val out = Multimodal.explodeSampledFrames(df, "payload", stride = 10)
    assert(out.select("frame_idx").collect().map(_.getInt(0)).toSeq == Seq(0, 10, 20))
    // empty payload -> no rows (not a null row)
    val empty = Seq((2L, Array.emptyByteArray)).toDF("id", "payload")
    assert(Multimodal.explodeSampledFrames(empty, "payload", 10).count() == 0)
  }
}
