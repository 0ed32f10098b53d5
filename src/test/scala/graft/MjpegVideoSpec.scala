package graft

import graft.functions.{ImageCodec, JpegDecoder, VideoCodec}
import java.io.ByteArrayInputStream

/** The MJPEG-in-MP4 pixel route (m19, the r16 verdict's round-17 item 1):
  * [[JpegDecoder.jpegGrayBlockBytes]] must be EXACTLY inverted by
  * [[ImageCodec.decodeRgb]] (flat DC-only blocks with q(0)=8 — the
  * property the m19 oracle's closed-form arithmetic rests on), the MP4
  * sample splice must hand back byte-identical frames through the real
  * stts/stsz/stco geometry walk, and the declared query must agree with
  * the synthesis arithmetic computed independently here.
  */
class MjpegVideoSpec extends SparkSpec {

  test("encoder round-trips EXACTLY through our decoder for all 256 gray levels") {
    // one 16x16-block image carrying every gray value: exercises every DC
    // category both signs (value order makes consecutive diffs span the
    // full +-255 ladder via the ..0,255,1,254.. zigzag)
    val vals = Array.tabulate(256)(i => if (i % 2 == 0) i / 2 else 255 - i / 2)
    val jpeg = JpegDecoder.jpegGrayBlockBytes(16, 16, vals)
    val Some((w, h, px)) = ImageCodec.decodeRgb(jpeg)
    assert((w, h) == ((128, 128)))
    for (b <- 0 until 256) {
      val bx = (b % 16) * 8; val by = (b / 16) * 8
      for (dy <- Seq(0, 3, 7); dx <- Seq(0, 4, 7)) {
        val o = ((by + dy) * 128 + bx + dx) * 3
        assert((px(o) & 0xFF) == vals(b),
          s"block $b (val ${vals(b)}) pixel ($dx,$dy): got ${px(o) & 0xFF}")
        assert(px(o) == px(o + 1) && px(o) == px(o + 2), "grayscale: R==G==B")
      }
    }
  }

  test("encoder output is a conforming baseline JPEG per the JDK's own reader") {
    val vals = Array(7, 250, 128, 0)
    val jpeg = JpegDecoder.jpegGrayBlockBytes(2, 2, vals)
    val img = javax.imageio.ImageIO.read(new ByteArrayInputStream(jpeg))
    assert(img != null && img.getWidth == 16 && img.getHeight == 16)
    val raster = img.getRaster
    for (b <- 0 until 4) {
      val bx = (b % 2) * 8; val by = (b / 2) * 8
      // ImageIO's integer IDCT may differ by 1 on a flat block; ours is
      // pinned exact in the test above — the tolerance belongs HERE only
      assert(math.abs(raster.getSample(bx + 3, by + 3, 0) - vals(b)) <= 1,
        s"ImageIO block $b: ${raster.getSample(bx + 3, by + 3, 0)} vs ${vals(b)}")
    }
  }

  test("fuzz: random block grids decode exactly (covers byte-stuffing + padding)") {
    val rnd = new scala.util.Random(17)
    for (trial <- 0 until 60) {
      val bx = 1 + rnd.nextInt(3); val by = 1 + rnd.nextInt(3)
      val vals = Array.fill(bx * by)(rnd.nextInt(256))
      val pad = if (trial % 2 == 0) 0 else 300
      val jpeg = JpegDecoder.jpegGrayBlockBytes(bx, by, vals, padTo = pad)
      if (pad > 0) assert(jpeg.length == pad, "padTo is the exact byte length")
      val Some((w, h, px)) = ImageCodec.decodeRgb(jpeg)
      assert((w, h) == ((bx * 8, by * 8)))
      for (b <- vals.indices) {
        val o = (((b / bx) * 8 + 5) * w + (b % bx) * 8 + 5) * 3
        assert((px(o) & 0xFF) == vals(b), s"trial $trial block $b")
      }
      // every 5th fixture also through the JDK's reader: conformance is
      // a property of the whole fuzz corpus, not one hand-picked fixture
      if (trial % 5 == 0) {
        val img = javax.imageio.ImageIO.read(new ByteArrayInputStream(jpeg))
        assert(img != null && img.getWidth == w && img.getHeight == h,
          s"trial $trial: ImageIO must accept the (padded) stream")
        for (b <- vals.indices) {
          val s = img.getRaster.getSample((b % bx) * 8 + 5, (b / bx) * 8 + 5, 0)
          assert(math.abs(s - vals(b)) <= 1,
            s"trial $trial block $b: ImageIO $s vs ${vals(b)}")
        }
      }
    }
  }

  test("encoder refuses malformed arguments") {
    intercept[IllegalArgumentException] {
      JpegDecoder.jpegGrayBlockBytes(2, 2, Array(1, 2, 3)) // wrong count
    }
    intercept[IllegalArgumentException] {
      JpegDecoder.jpegGrayBlockBytes(1, 1, Array(256)) // out of gray range
    }
    intercept[IllegalArgumentException] {
      JpegDecoder.jpegGrayBlockBytes(0, 1, Array.empty[Int]) // zero blocks
    }
  }

  test("MP4 sample splice: geometry-planned range reads hand back each JPEG byte-identically") {
    val frames = Array.tabulate(5) { f =>
      JpegDecoder.jpegGrayBlockBytes(2, 2, Array(f * 50, 255 - f * 40, f * 13, 200), padTo = 192)
    }
    val mp4 = VideoCodec.mp4BytesWithSamples(30, 5L, frames)
    // still a valid container for the metadata pass
    val meta = VideoCodec.parse(mp4).get
    assert(meta.nTracks == 1 && meta.mdatBytes == 5L * 192)
    val Some((ts, nF, fs, off, delta)) = VideoCodec.frameGeometry(mp4)
    assert(ts == 30 && nF == 5 && fs == 192 && delta == 1)
    assert(off == 328, "mdat payload offset per the documented box math")
    for (k <- 0 until 5) {
      val span = java.util.Arrays.copyOfRange(mp4, (off + k * fs).toInt,
        (off + (k + 1) * fs).toInt)
      assert(span.sameElements(frames(k)), s"frame $k range-read must be byte-identical")
      // still-image-path equality: the sliced frame decodes exactly like
      // the standalone JPEG (the verdict's explicit done-condition)
      val a = ImageCodec.decodeRgb(span).get
      val b = ImageCodec.decodeRgb(frames(k)).get
      assert(a._1 == b._1 && a._2 == b._2 && a._3.sameElements(b._3))
    }
  }

  test("mp4BytesWithSamples refuses ragged samples") {
    intercept[IllegalArgumentException] {
      VideoCodec.mp4BytesWithSamples(10, 2L, Array(Array[Byte](1, 2), Array[Byte](3)))
    }
  }

  test("m19 query agrees with the synthesis arithmetic, independently computed") {
    val rows = graft.queries.OpsQueries.m19MjpegPixels(spark, sf())
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3),
        r.getLong(4), r.getInt(5), r.getInt(6), r.getLong(7)))
    assert(rows.nonEmpty)
    val expected = rows.map { case (docId, frameNo, _, _, _, _, _, _) =>
      val base = docId % 997
      val g = Array.tabulate(4)(bk => (base * 31 + frameNo * 53 + bk * 17 + 7) % 256)
      (docId, frameNo, 16, 16, 64L * g.sum, g.min.toInt, g.max.toInt,
        frameNo * 1000 / (10 + docId % 20))
    }
    assert(rows.length == expected.length)
    rows.zip(expected).foreach { case (got, want) => assert(got == want, s"row $got") }
    // frame counts per doc follow nf = 2 + doc_id % 5
    val byDoc = rows.groupBy(_._1)
    byDoc.foreach { case (docId, rs) =>
      assert(rs.length == (2 + docId % 5).toInt, s"doc $docId frame count")
    }
  }
}
