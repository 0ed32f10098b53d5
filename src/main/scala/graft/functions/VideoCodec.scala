package graft.functions

/** Pure-JVM ISO-BMFF (MP4) container parsing — REAL box-walk decode, zero
  * external deps: the video sibling of [[ImageCodec]] (PNG/JPEG) and
  * [[AudioCodec]] (RIFF/WAVE). `parse` walks the top-level box list
  * (handling 32-bit sizes, the size==1 64-bit largesize escape, and the
  * size==0 to-end-of-file form), reads `moov/mvhd` (version 0 AND 1
  * layouts — real muxers emit both) for timescale/duration, counts
  * `moov/trak` children, and sums `mdat` payload bytes. It never touches
  * sample data: at 100 TB the video-profile pass reads a few hundred
  * header bytes per object and stays I/O-bound, exactly like the image
  * (m01/m03) and audio (m04) metadata passes.
  *
  * Reference behavior class: multimodal metadata extraction before heavy
  * decode (the reference treats media as opaque payloads + typed
  * metadata). Full frame decode (when a build needs it) drops into the
  * same mapPartitions seam with a real codec binding; the container walk
  * here is what routing/profiling needs and is fully verifiable.
  *
  * `mp4Bytes` emits a minimal VALID stream (real ftyp, spec-sized mvhd
  * v0 and tkhd v0 boxes, ramp-filled mdat) — the fixture-synthesis side
  * used by m07 to exercise the parser against byte streams the oracle can
  * size exactly: total bytes = 140 + 100·nTracks + mdatLen.
  */
object VideoCodec {

  final case class VideoMeta(timescale: Int, duration: Long, durationMs: Long,
      nTracks: Int, mdatBytes: Long, brand: String)

  private def be32(b: Array[Byte], i: Int): Long =
    ((b(i) & 0xFFL) << 24) | ((b(i + 1) & 0xFFL) << 16) |
      ((b(i + 2) & 0xFFL) << 8) | (b(i + 3) & 0xFFL)
  private def be64(b: Array[Byte], i: Int): Long = (be32(b, i) << 32) | be32(b, i + 4)
  private def fourCC(b: Array[Byte], i: Int): String = new String(b, i, 4, "US-ASCII")

  /** One box header: (type, payloadStart, payloadEnd) or None if the
    * header is malformed / overruns `end`. */
  private def boxAt(b: Array[Byte], i: Int, end: Int): Option[(String, Int, Int)] = {
    if (i + 8 > end) return None
    val size32 = be32(b, i)
    val tpe = fourCC(b, i + 4)
    val (payload, boxEnd) =
      if (size32 == 1L) { // 64-bit largesize follows the type
        if (i + 16 > end) return None
        val size64 = be64(b, i + 8)
        if (size64 < 16 || size64 > (end - i).toLong) return None
        (i + 16, i + size64.toInt)
      } else if (size32 == 0L) { // box extends to end of enclosing scope
        (i + 8, end)
      } else {
        if (size32 < 8 || size32 > (end - i).toLong) return None
        (i + 8, i + size32.toInt)
      }
    Some((tpe, payload, boxEnd))
  }

  /** Box-walking MP4 parse. Returns None on null/short/non-ftyp/missing
    * moov/mvhd/structurally-broken input — never throws (the
    * AdversarialInputSpec discipline). Unknown boxes are skipped, the
    * real-file posture. */
  def parse(bytes: Array[Byte]): Option[VideoMeta] = {
    if (bytes == null || bytes.length < 16) return None
    if (fourCC(bytes, 4) != "ftyp") return None
    val brand = fourCC(bytes, 8)
    var i = 0
    var timescale = 0; var duration = -1L; var nTracks = 0; var mdat = 0L
    var sawMoov = false
    while (i < bytes.length) {
      boxAt(bytes, i, bytes.length) match {
        case None => return None
        case Some((tpe, p, e)) =>
          if (tpe == "mdat") mdat += (e - p).toLong
          else if (tpe == "moov") {
            sawMoov = true
            var j = p
            while (j < e) {
              boxAt(bytes, j, e) match {
                case None => return None
                case Some((ctpe, cp, ce)) =>
                  if (ctpe == "trak") nTracks += 1
                  else if (ctpe == "mvhd") {
                    if (ce - cp < 4) return None
                    val version = bytes(cp) & 0xFF
                    if (version == 0) { // v0: 32-bit times
                      if (ce - cp < 20) return None
                      timescale = be32(bytes, cp + 12).toInt
                      duration = be32(bytes, cp + 16)
                    } else if (version == 1) { // v1: 64-bit create/modify/duration
                      if (ce - cp < 32) return None
                      timescale = be32(bytes, cp + 20).toInt
                      duration = be64(bytes, cp + 24)
                    } else return None
                  }
                  j = ce
              }
            }
          }
          i = e
      }
    }
    if (!sawMoov || timescale <= 0 || duration < 0) return None
    Some(VideoMeta(timescale, duration, duration * 1000L / timescale,
      nTracks, mdat, brand))
  }

  /** Minimal valid MP4: 16-byte ftyp, moov(108-byte mvhd v0 + nTracks ×
    * 100-byte trak(tkhd v0)), mdat with a deterministic ramp payload.
    * Total size = 140 + 100·nTracks + mdatLen — the formula m07's oracle
    * recomputes. */
  def mp4Bytes(timescale: Int, duration: Long, nTracks: Int, mdatLen: Int,
      seed: Int = 0): Array[Byte] = {
    require(timescale > 0 && duration >= 0 && nTracks >= 0 && mdatLen >= 0)
    require(duration < 4294967296L, "mvhd v0 carries 32-bit durations; use v1 beyond")
    val out = new java.io.ByteArrayOutputStream(140 + 100 * nTracks + mdatLen)
    def w32(v: Long): Unit = { var s = 24; while (s >= 0) { out.write(((v >> s) & 0xFF).toInt); s -= 8 } }
    def tag(t: String): Unit = out.write(t.getBytes("US-ASCII"))
    // ftyp
    w32(16); tag("ftyp"); tag("isom"); w32(0)
    // moov
    w32(8L + 108 + 100L * nTracks); tag("moov")
    // mvhd v0 (spec size 108): version+flags, ctime, mtime, timescale,
    // duration, rate, volume+reserved, 2×reserved, 9×matrix, 6×predefined,
    // next_track_id
    w32(108); tag("mvhd"); w32(0); w32(0); w32(0)
    w32(timescale.toLong); w32(duration)
    w32(0x00010000L); w32(0x01000000L); w32(0); w32(0)
    w32(0x00010000L); w32(0); w32(0); w32(0); w32(0x00010000L); w32(0)
    w32(0); w32(0); w32(0x40000000L)
    var t = 0
    while (t < 6) { w32(0); t += 1 } // pre_defined
    w32(nTracks + 1L) // next_track_id
    // nTracks × trak(tkhd v0, spec size 92)
    var k = 0
    while (k < nTracks) {
      w32(100); tag("trak")
      w32(92); tag("tkhd"); w32(7) // version 0, flags enabled|in-movie|in-preview
      w32(0); w32(0); w32(k + 1L); w32(0); w32(duration)
      w32(0); w32(0); w32(0); w32(0)
      w32(0x00010000L); w32(0); w32(0); w32(0); w32(0x00010000L); w32(0)
      w32(0); w32(0); w32(0x40000000L)
      w32(0); w32(0) // width, height (16.16 fixed — 0 for non-visual)
      k += 1
    }
    // mdat
    w32(8L + mdatLen); tag("mdat")
    var j = 0
    while (j < mdatLen) { out.write((seed + j) & 0xFF); j += 1 }
    out.toByteArray
  }

  // ------------------------------------------------------- sample tables

  /** Sum of `stts` sample counts across every track — the container's
    * true frame count, from the same box walk as [[parse]] but descending
    * trak → mdia → minf → stbl → stts. Returns None when the container
    * carries no sample table (older fixtures, audio-only files) so the
    * caller can choose its fallback — never throws. */
  def frameCount(bytes: Array[Byte]): Option[Long] = try {
    if (bytes == null || bytes.length < 16 || fourCC(bytes, 4) != "ftyp") return None
    var total = -1L
    def walk(from: Int, end: Int, path: List[String]): Unit = {
      var i = from
      while (i < end) {
        boxAt(bytes, i, end) match {
          case None => return
          case Some((tpe, p, e)) =>
            (path, tpe) match {
              case (Nil, "moov") => walk(p, e, List("moov"))
              case (List("moov"), "trak") => walk(p, e, List("moov", "trak"))
              case (List("moov", "trak"), "mdia") => walk(p, e, List("moov", "trak", "mdia"))
              case (List("moov", "trak", "mdia"), "minf") =>
                walk(p, e, List("moov", "trak", "mdia", "minf"))
              case (List("moov", "trak", "mdia", "minf"), "stbl") =>
                walk(p, e, List("moov", "trak", "mdia", "minf", "stbl"))
              case (List("moov", "trak", "mdia", "minf", "stbl"), "stts") =>
                // version+flags(4), entry_count(4), then (count, delta) pairs
                if (e - p >= 8) {
                  val n = be32(bytes, p + 4)
                  var k = 0L
                  var sum = 0L
                  while (k < n && p + 8 + k * 8 + 8 <= e) {
                    sum += be32(bytes, p + 8 + k.toInt * 8)
                    k += 1
                  }
                  total = (if (total < 0) 0L else total) + sum
                }
              case _ =>
            }
            i = e
        }
      }
    }
    walk(0, bytes.length, Nil)
    if (total < 0) None else Some(total)
  } catch { case _: Exception => None }

  /** Frame GEOMETRY of the first track with a complete sample table: the
    * demux-plan tuple (timescale, nFrames, frameSize, chunkOffset,
    * firstDelta) a frame-sampling pass needs to address individual frames
    * without decoding them — stts for the count and tick delta, stsz for
    * the constant sample size (variable-size tables return None: the
    * caller's fixed-stride address math would be wrong, the honest
    * refusal), stco for where the chunk lives. Same walk discipline as
    * [[frameCount]]: never throws, None on any structural shortfall. */
  def frameGeometry(bytes: Array[Byte]): Option[(Long, Long, Long, Long, Long)] = try {
    if (bytes == null || bytes.length < 16 || fourCC(bytes, 4) != "ftyp") return None
    var timescale = -1L
    var result: Option[(Long, Long, Long, Long)] = None
    def walkStbl(from: Int, end: Int): Unit = {
      var nFrames = -1L; var delta = -1L; var fSize = -1L; var chunkOff = -1L
      var i = from
      while (i < end) {
        boxAt(bytes, i, end) match {
          case None => return
          case Some((tpe, p, e)) =>
            tpe match {
              case "stts" if e - p >= 8 =>
                val n = be32(bytes, p + 4)
                var k = 0L; var sum = 0L; var d = -1L
                while (k < n && p + 8 + k * 8 + 8 <= e) {
                  sum += be32(bytes, p + 8 + k.toInt * 8)
                  if (d < 0) d = be32(bytes, p + 8 + k.toInt * 8 + 4)
                  k += 1
                }
                nFrames = sum; delta = math.max(d, 0L)
              case "stsz" if e - p >= 12 =>
                val sampleSize = be32(bytes, p + 4)
                if (sampleSize > 0) fSize = sampleSize // constant-size form only
              case "stco" if e - p >= 12 =>
                // ver+flags(4) entry_count(4) first_offset(4) = 12 bytes
                if (be32(bytes, p + 4) >= 1) chunkOff = be32(bytes, p + 8)
              case _ =>
            }
            i = e
        }
      }
      if (result.isEmpty && nFrames >= 0 && fSize > 0 && chunkOff >= 0)
        result = Some((nFrames, fSize, chunkOff, delta))
    }
    def walk(from: Int, end: Int, path: List[String]): Unit = {
      var i = from
      while (i < end) {
        boxAt(bytes, i, end) match {
          case None => return
          case Some((tpe, p, e)) =>
            (path, tpe) match {
              case (Nil, "moov") => walk(p, e, List("moov"))
              case (List("moov"), "mvhd") if e - p >= 20 =>
                val version = bytes(p) & 0xFF
                timescale = if (version == 1) be32(bytes, p + 20) else be32(bytes, p + 12)
              case (List("moov"), "trak") => walk(p, e, List("moov", "trak"))
              case (List("moov", "trak"), "mdia") => walk(p, e, List("moov", "trak", "mdia"))
              case (List("moov", "trak", "mdia"), "minf") =>
                walk(p, e, List("moov", "trak", "mdia", "minf"))
              case (List("moov", "trak", "mdia", "minf"), "stbl") => walkStbl(p, e)
              case _ =>
            }
            i = e
        }
      }
    }
    walk(0, bytes.length, Nil)
    result.collect { case (n, f, c, dl) if timescale > 0 => (timescale, n, f, c, dl) }
  } catch { case _: Exception => None }

  /** MP4 with REAL per-track sample tables: like [[mp4Bytes]] but each
    * trak carries mdia/minf/stbl with spec-layout stts (one run of
    * `nFrames` samples at delta 1), stsz (constant `frameSize`) and stco
    * (one chunk at the mdat payload) — what [[frameCount]] and a real
    * demuxer read. mdat holds nFrames·frameSize ramp bytes.
    * Total size = 140 + 188·nTracks + nFrames·frameSize — the formula an
    * oracle can recompute exactly (the m07/m08 discipline). */
  def mp4BytesWithFrames(timescale: Int, duration: Long, nTracks: Int,
      nFrames: Int, frameSize: Int = 1, seed: Int = 0): Array[Byte] = {
    require(timescale > 0 && duration >= 0 && nTracks >= 1 && nFrames >= 0 && frameSize >= 1)
    require(duration < 4294967296L)
    val mdatLen = nFrames * frameSize
    // box sizes, inside out: stts 24 (8 hdr + 4 ver + 4 count + 8 entry),
    // stsz 20 (8 + 4 + 4 sample_size + 4 count), stco 20 (8 + 4 + 4 count
    // + 4 offset); stbl 8+24+20+20 = 72; minf 8+72 = 80; mdia 8+80 = 88;
    // trak 8 + 92 (tkhd) + 88 = 188
    val trakSize = 188
    val out = new java.io.ByteArrayOutputStream(140 + trakSize * nTracks + mdatLen)
    def w32(v: Long): Unit = { var s = 24; while (s >= 0) { out.write(((v >> s) & 0xFF).toInt); s -= 8 } }
    def tag(t: String): Unit = out.write(t.getBytes("US-ASCII"))
    w32(16); tag("ftyp"); tag("isom"); w32(0)
    w32(8L + 108 + trakSize.toLong * nTracks); tag("moov")
    w32(108); tag("mvhd"); w32(0); w32(0); w32(0)
    w32(timescale.toLong); w32(duration)
    w32(0x00010000L); w32(0x01000000L); w32(0); w32(0)
    w32(0x00010000L); w32(0); w32(0); w32(0); w32(0x00010000L); w32(0)
    w32(0); w32(0); w32(0x40000000L)
    var t = 0
    while (t < 6) { w32(0); t += 1 }
    w32(nTracks + 1L)
    val mdatPayloadOffset = 16 + 8 + 108 + trakSize * nTracks + 8
    var k = 0
    while (k < nTracks) {
      w32(trakSize.toLong); tag("trak")
      w32(92); tag("tkhd"); w32(7)
      w32(0); w32(0); w32(k + 1L); w32(0); w32(duration)
      w32(0); w32(0); w32(0); w32(0)
      w32(0x00010000L); w32(0); w32(0); w32(0); w32(0x00010000L); w32(0)
      w32(0); w32(0); w32(0x40000000L)
      w32(0); w32(0)
      w32(88); tag("mdia")
      w32(80); tag("minf")
      w32(72); tag("stbl")
      w32(24); tag("stts"); w32(0) // version+flags
      if (nFrames > 0) { w32(1); w32(nFrames.toLong); w32(1) } // one run, delta 1
      else { w32(0); w32(0); w32(0) } // entry_count 0 + zero entry padding
      w32(20); tag("stsz"); w32(0)
      w32(frameSize.toLong); w32(nFrames.toLong) // constant size ⇒ no table
      w32(20); tag("stco"); w32(0)
      w32(1); w32(mdatPayloadOffset.toLong) // one chunk at the mdat payload
      k += 1
    }
    w32(8L + mdatLen); tag("mdat")
    var j = 0
    while (j < mdatLen) { out.write((seed + j) & 0xFF); j += 1 }
    out.toByteArray
  }

  /** Single-track MP4 like [[mp4BytesWithFrames]] whose mdat is the
    * CONCATENATION of the given equal-length samples instead of ramp
    * bytes — the MJPEG-in-MP4 synthesis route: pass
    * [[JpegDecoder.jpegGrayBlockBytes]] outputs (padded to one fixed
    * length so the constant-size `stsz` form holds) and the container
    * carries real, individually decodable JPEG frames addressed by the
    * same stts/stsz/stco geometry [[frameGeometry]] walks. Box math is
    * [[mp4BytesWithFrames]]'s with nTracks = 1: mdat payload at byte
    * 328 (= 140 + 188 header), total size = 328 + nSamples·sampleSize. */
  def mp4BytesWithSamples(timescale: Int, duration: Long,
      samples: Array[Array[Byte]]): Array[Byte] = {
    require(timescale > 0 && duration >= 0 && samples.nonEmpty)
    require(duration < 4294967296L)
    val frameSize = samples(0).length
    require(frameSize >= 1 && samples.forall(_.length == frameSize),
      "constant-size stsz form requires equal-length samples")
    val nFrames = samples.length
    val header = mp4BytesWithFrames(timescale, duration, 1, nFrames, frameSize)
    // splice the real samples over the ramp payload (header layout and
    // every sample-table entry are identical by construction)
    val payloadOff = header.length - nFrames * frameSize
    var k = 0
    while (k < nFrames) {
      System.arraycopy(samples(k), 0, header, payloadOff + k * frameSize, frameSize)
      k += 1
    }
    header
  }

  /** Sync-sample numbers (1-based, the `stss` box) of the first track that
    * carries one — the keyframe table a seek/thumbnail pass reads. A
    * container with no stss means EVERY sample is sync per ISO 14496-12
    * §8.6.2 — that semantic decision belongs to the caller, so this
    * returns None rather than fabricating 1..n. Same walk discipline as
    * [[frameGeometry]]: never throws, None on structural shortfall. */
  def syncSampleIndices(bytes: Array[Byte]): Option[Array[Long]] = try {
    if (bytes == null || bytes.length < 16 || fourCC(bytes, 4) != "ftyp") return None
    var result: Option[Array[Long]] = None
    def walkStbl(from: Int, end: Int): Unit = {
      var i = from
      while (i < end) {
        boxAt(bytes, i, end) match {
          case None => return
          case Some((tpe, p, e)) =>
            if (tpe == "stss" && e - p >= 8 && result.isEmpty) {
              val n = be32(bytes, p + 4)
              if (p + 8 + n * 4 <= e) { // refuse truncated tables
                val out = new Array[Long](n.toInt)
                var k = 0
                while (k < n) { out(k) = be32(bytes, p + 8 + k * 4); k += 1 }
                result = Some(out)
              }
            }
            i = e
        }
      }
    }
    def walk(from: Int, end: Int, path: List[String]): Unit = {
      var i = from
      while (i < end) {
        boxAt(bytes, i, end) match {
          case None => return
          case Some((tpe, p, e)) =>
            (path, tpe) match {
              case (Nil, "moov") => walk(p, e, List("moov"))
              case (List("moov"), "trak") => walk(p, e, List("moov", "trak"))
              case (List("moov", "trak"), "mdia") => walk(p, e, List("moov", "trak", "mdia"))
              case (List("moov", "trak", "mdia"), "minf") =>
                walk(p, e, List("moov", "trak", "mdia", "minf"))
              case (List("moov", "trak", "mdia", "minf"), "stbl") => walkStbl(p, e)
              case _ =>
            }
            i = e
        }
      }
    }
    walk(0, bytes.length, Nil)
    result
  } catch { case _: Exception => None }

  /** Single-track MP4 like [[mp4BytesWithFrames]] plus a REAL `stss`
    * sync-sample box marking every `gop`-th sample (samples 1, 1+gop, …)
    * as a keyframe — what a demuxer reads to seek without decoding.
    * Box math: stss = 16 + 4·nk with nk = 1 + (nFrames−1) div gop, so
    * the mdat payload lands at byte 344 + 4·nk and total size =
    * 344 + 4·nk + nFrames·frameSize — the formulas m15's oracle
    * recomputes exactly (the m07/m12 discipline). */
  def mp4BytesWithKeyframes(timescale: Int, duration: Long, nFrames: Int,
      frameSize: Int, gop: Int, seed: Int = 0): Array[Byte] = {
    require(timescale > 0 && duration >= 0 && nFrames >= 1 && frameSize >= 1 && gop >= 1)
    require(duration < 4294967296L)
    val nk = 1 + (nFrames - 1) / gop
    val mdatLen = nFrames * frameSize
    val stssSize = 16 + 4 * nk
    val stblSize = 8 + 24 + 20 + 20 + stssSize // stts + stsz + stco + stss
    val minfSize = 8 + stblSize
    val mdiaSize = 8 + minfSize
    val trakSize = 8 + 92 + mdiaSize
    val out = new java.io.ByteArrayOutputStream(344 + 4 * nk + mdatLen)
    def w32(v: Long): Unit = { var s = 24; while (s >= 0) { out.write(((v >> s) & 0xFF).toInt); s -= 8 } }
    def tag(t: String): Unit = out.write(t.getBytes("US-ASCII"))
    w32(16); tag("ftyp"); tag("isom"); w32(0)
    w32(8L + 108 + trakSize); tag("moov")
    w32(108); tag("mvhd"); w32(0); w32(0); w32(0)
    w32(timescale.toLong); w32(duration)
    w32(0x00010000L); w32(0x01000000L); w32(0); w32(0)
    w32(0x00010000L); w32(0); w32(0); w32(0); w32(0x00010000L); w32(0)
    w32(0); w32(0); w32(0x40000000L)
    var t = 0
    while (t < 6) { w32(0); t += 1 }
    w32(2L) // next_track_id
    val mdatPayloadOffset = 16 + 8 + 108 + trakSize + 8
    w32(trakSize.toLong); tag("trak")
    w32(92); tag("tkhd"); w32(7)
    w32(0); w32(0); w32(1L); w32(0); w32(duration)
    w32(0); w32(0); w32(0); w32(0)
    w32(0x00010000L); w32(0); w32(0); w32(0); w32(0x00010000L); w32(0)
    w32(0); w32(0); w32(0x40000000L)
    w32(0); w32(0)
    w32(mdiaSize.toLong); tag("mdia")
    w32(minfSize.toLong); tag("minf")
    w32(stblSize.toLong); tag("stbl")
    w32(24); tag("stts"); w32(0)
    w32(1); w32(nFrames.toLong); w32(1) // one run, delta 1
    w32(20); tag("stsz"); w32(0)
    w32(frameSize.toLong); w32(nFrames.toLong)
    w32(20); tag("stco"); w32(0)
    w32(1); w32(mdatPayloadOffset.toLong)
    w32(stssSize.toLong); tag("stss"); w32(0)
    w32(nk.toLong)
    var ki = 0
    while (ki < nk) { w32(1L + ki.toLong * gop); ki += 1 }
    w32(8L + mdatLen); tag("mdat")
    var j = 0
    while (j < mdatLen) { out.write((seed + j) & 0xFF); j += 1 }
    out.toByteArray
  }
}
