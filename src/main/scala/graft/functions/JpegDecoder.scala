package graft.functions

/** JPEG header reading and fixture synthesis, with no pixel decode:
  * [[quantTable0]] walks the marker segments for m14's quality estimate,
  * and [[jpegGrayBlockBytes]] writes the exactly invertible baseline
  * JPEGs behind m19. Pixels are decoded by the JDK's own reader, through
  * [[ImageCodec.decodeRgb]].
  */
object JpegDecoder {

  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xFF
  private def be16(b: Array[Byte], i: Int): Int = (u8(b, i) << 8) | u8(b, i + 1)

  /** Read quantization table 0 from a JPEG's DQT segment(s) WITHOUT
    * decoding any entropy data — the header-only walk behind the
    * m14 quality estimate (segments are length-prefixed, so the walk
    * touches ~100 bytes of a multi-MB file; at 100 TB this is the
    * plan-don't-decode discipline of m12/m15/m17 applied to JPEG).
    * Returns the 64 entries
    * in TRANSMISSION (zigzag) order — the sum-based quality estimator is
    * order-invariant, and keeping raw order makes the synth round-trip a
    * byte identity. 16-bit (Pq=1) tables are supported; a missing table
    * 0, a malformed segment, or EOI-before-DQT returns None. */
  def quantTable0(bytes: Array[Byte]): Option[Array[Int]] = try {
    if (bytes == null || bytes.length < 4 ||
      u8(bytes, 0) != 0xFF || u8(bytes, 1) != 0xD8) return None
    var p = 2
    while (p + 3 < bytes.length) {
      if (u8(bytes, p) != 0xFF) return None
      var q = p
      while (q + 1 < bytes.length && u8(bytes, q + 1) == 0xFF) q += 1
      val m = u8(bytes, q + 1)
      if (m == 0xD9 || m == 0xDA) return None // EOI/SOS: no table 0 seen
      val len = be16(bytes, q + 2)
      if (len < 2 || q + 2 + len > bytes.length) return None
      val seg = q + 4
      val segEnd = q + 2 + len
      if (m == 0xDB) {
        var i = seg
        while (i < segEnd) {
          val pq = u8(bytes, i) >> 4
          val tq = u8(bytes, i) & 15
          if (tq > 3 || pq > 1) return None
          val step = if (pq == 0) 1 else 2
          if (i + 1 + 64 * step > segEnd) return None
          if (tq == 0) {
            val t = new Array[Int](64)
            var k = 0
            while (k < 64) {
              t(k) = if (pq == 0) u8(bytes, i + 1 + k) else be16(bytes, i + 1 + 2 * k)
              k += 1
            }
            return Some(t)
          }
          i += 1 + 64 * step
        }
      }
      p = segEnd
    }
    None
  } catch { case _: ArrayIndexOutOfBoundsException => None }

  /** Minimal baseline JPEG ENCODER for block-constant GRAYSCALE images —
    * the fixture-synthesis side of m19 (the
    * [[graft.functions.VideoCodec.mp4Bytes]] discipline applied to JPEG):
    * one 8×8 block per entry of `blockVals` in raster order, each block a
    * solid gray value in [0, 255].
    *
    * The encode is EXACTLY invertible by arithmetic, which is what lets
    * an oracle that never decodes a JPEG predict the decoded pixels: all
    * AC coefficients are zero (flat blocks), and quant table 0 carries
    * q(0) = 8, so the quantized DC is exactly v − 128 (no rounding:
    * raw DC = 8·(v − 128)), the dequantized DC is 8·(v − 128), and a flat
    * block's IDCT reconstruction is round(DC/8 + 128) = v exactly. The
    * JDK's integer IDCT takes its DC-only shortcut on such a block and
    * lands on v too; MjpegVideoSpec pins it for every gray level through
    * [[ImageCodec.decodeRgb]].
    *
    * Huffman tables are minimal-canonical rather than Annex K: DC table
    * 0 holds categories 0–8 (diffs span ±255) all at code length 4 — a
    * canonical table where category t's code IS t — and AC table 0 holds
    * the single symbol 0x00 (EOB) at length 1. ~13 bits per block, and
    * a conforming decoder must read the DHT segment to decode it.
    *
    * `padTo` zero-pads AFTER the EOI marker to a fixed byte length —
    * what lets an MJPEG-in-MP4 track use the constant-sample-size `stsz`
    * form ([[graft.functions.VideoCodec.mp4BytesWithSamples]]); trailing
    * bytes past EOI are outside the entropy stream and ignored by any
    * conforming decoder. */
  def jpegGrayBlockBytes(blocksX: Int, blocksY: Int, blockVals: Array[Int],
      padTo: Int = 0): Array[Byte] = {
    require(blocksX >= 1 && blocksY >= 1 && blockVals.length == blocksX * blocksY,
      "blockVals must carry exactly blocksX*blocksY entries")
    require(blockVals.forall(v => v >= 0 && v <= 255), "gray values are 8-bit")
    val w = 8 * blocksX
    val h = 8 * blocksY
    val out = new java.io.ByteArrayOutputStream(192 + 2 * blockVals.length)
    def b(v: Int): Unit = out.write(v & 0xFF)
    def b16(v: Int): Unit = { b(v >> 8); b(v) }
    b(0xFF); b(0xD8) // SOI
    // DQT table 0: q(0)=8 (the exact-invert constant above); AC entries
    // are never consumed (all-zero blocks) but must be valid, so 1
    b(0xFF); b(0xDB); b16(67); b(0x00)
    b(8)
    var i = 1
    while (i < 64) { b(1); i += 1 }
    // SOF0: 8-bit precision, 1 component (grayscale), h=v=1, table 0
    b(0xFF); b(0xC0); b16(11); b(8); b16(h); b16(w); b(1); b(1); b(0x11); b(0)
    // DHT: DC table 0 (9 symbols at length 4) + AC table 0 (EOB at length 1)
    b(0xFF); b(0xC4); b16(2 + (1 + 16 + 9) + (1 + 16 + 1))
    b(0x00)
    val dcBits = Array(0, 0, 0, 9, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
    dcBits.foreach(b)
    var t = 0
    while (t <= 8) { b(t); t += 1 }
    b(0x10)
    val acBits = Array(1, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
    acBits.foreach(b)
    b(0x00)
    // SOS
    b(0xFF); b(0xDA); b16(8); b(1); b(1); b(0x00); b(0); b(63); b(0)
    // entropy data: per block, DC category code (4 bits, code == category)
    // + magnitude bits (T.81 F.1.2.1 complement form) + EOB (1 bit, "0");
    // 0xFF entropy bytes get the mandatory 0x00 stuffing
    var acc = 0
    var nbits = 0
    def putBits(v: Int, n: Int): Unit = {
      var k = n - 1
      while (k >= 0) {
        acc = (acc << 1) | ((v >> k) & 1)
        nbits += 1
        if (nbits == 8) {
          out.write(acc)
          if (acc == 0xFF) out.write(0x00)
          acc = 0; nbits = 0
        }
        k -= 1
      }
    }
    var prev = 0
    blockVals.foreach { v =>
      val qdc = v - 128
      val diff = qdc - prev
      prev = qdc
      val cat = 32 - Integer.numberOfLeadingZeros(math.abs(diff)) // 0 iff diff=0
      putBits(cat, 4)
      if (cat > 0) putBits(if (diff >= 0) diff else diff + (1 << cat) - 1, cat)
      putBits(0, 1) // EOB
    }
    if (nbits > 0) { // flush, 1-filled per T.81 F.1.2.3
      acc = (acc << (8 - nbits)) | ((1 << (8 - nbits)) - 1)
      out.write(acc)
      if (acc == 0xFF) out.write(0x00)
    }
    b(0xFF); b(0xD9) // EOI
    val res = out.toByteArray
    if (padTo <= res.length) res
    else java.util.Arrays.copyOf(res, padTo) // zero pad past EOI
  }
}
