package graft.operators

import graft.functions.ImageCodec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing: image/audio/video payloads ride as opaque
  * `BinaryType` columns with typed metadata structs; decode / feature
  * extraction runs batched per partition.
  *
  * Image metadata decode is REAL: [[ImageCodec.parse]] reads PNG/JPEG/GIF/
  * BMP headers from the actual bytes (no external codec needed — pure JVM).
  * Payloads that are NOT a recognized image container (audio/video/raw
  * blobs — codecs for those are absent in this environment) fall back to
  * the clearly-marked deterministic stand-in arithmetic, preserving the
  * schema/batching contract so a production codec drops into the same seam.
  *
  * Scale notes: decode is a narrow transformation (mapPartitions) — it
  * pipelines with the scan, never shuffles, and batches rows per partition
  * so a vectorized decoder amortizes setup cost. Header-only parsing never
  * inflates pixel data, keeping the metadata pass I/O-bound. Payload skew
  * is handled upstream by `spark.sql.files.maxPartitionBytes` on the
  * binaryFile scan.
  */
object Multimodal {

  /** Metadata schema attached to every decoded payload. `format` is the
    * sniffed container ("png"/"jpeg"/"gif"/"bmp"), or "raw" for
    * unrecognized payloads on the stand-in path. */
  val MetaSchema: StructType = StructType(Seq(
    StructField("n_bytes", IntegerType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("n_frames", IntegerType, nullable = false),
    StructField("format", StringType, nullable = false)))

  /** Decode payload metadata: real header parse for image containers
    * (width/height read from the byte stream, n_frames = 1), deterministic
    * STUB arithmetic for everything else (audio/video codecs are not
    * available in this environment; the signature — bytes in, fixed-schema
    * features out — is the production contract for those). */
  def decodeMeta(payload: Array[Byte]): (Int, Int, Int, Int, String) = {
    val n = if (payload == null) 0 else payload.length
    ImageCodec.parse(payload) match {
      case Some(m) => (n, m.width, m.height, 1, m.format)
      case None => (n, n % 640, (n * 7) % 480, n % 30, "raw")
    }
  }

  /** Frame count: REAL for MP4 containers carrying sample tables — the
    * summed `stts` entry counts across tracks
    * ([[graft.functions.VideoCodec.frameCount]]), which is what a demuxer
    * iterates. Non-MP4 / table-less payloads keep the deterministic
    * byte-length stand-in so plumbing tests over arbitrary binaries stay
    * stable. */
  def videoFrameCount(payload: Array[Byte]): Int =
    graft.functions.VideoCodec.frameCount(payload)
      .map(n => math.min(n, Int.MaxValue.toLong).toInt)
      .getOrElse((if (payload == null) 0 else payload.length) % 30)

  /** Attach a decoded-metadata struct column to a DataFrame with a binary
    * `payload` column. Runs as mapPartitions over an explicit row encoder —
    * partition-batched, shuffle-free.
    */
  def withDecodedMeta(df: DataFrame, payloadCol: String): DataFrame = {
    val outSchema = StructType(df.schema.fields :+ StructField("meta", MetaSchema))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    val idx = df.schema.fieldIndex(payloadCol)
    df.mapPartitions { rows =>
      rows.map { r =>
        val (n, w, h, f, fmt) = decodeMeta(r.getAs[Array[Byte]](idx))
        Row.fromSeq(r.toSeq :+ Row(n, w, h, f, fmt))
      }
    }(enc)
  }

  /** Metadata schema for decoded AUDIO payloads — the [[MetaSchema]]
    * sibling for the WAV path ([[graft.functions.AudioCodec]]). `format`
    * is "wav" or "raw" for unrecognized payloads. */
  val AudioMetaSchema: StructType = StructType(Seq(
    StructField("n_bytes", IntegerType, nullable = false),
    StructField("sample_rate", IntegerType, nullable = false),
    StructField("channels", IntegerType, nullable = false),
    StructField("bits", IntegerType, nullable = false),
    StructField("n_samples", LongType, nullable = false),
    StructField("duration_ms", LongType, nullable = false),
    StructField("format", StringType, nullable = false)))

  /** Attach decoded audio metadata (REAL RIFF/WAVE chunk-walk parse —
    * header bytes only, samples never inflated). Same narrow
    * mapPartitions shape as [[withDecodedMeta]]; unrecognized payloads
    * get zeroed fields with format "raw" instead of throwing. */
  def withAudioMeta(df: DataFrame, payloadCol: String): DataFrame = {
    import graft.functions.AudioCodec
    val outSchema = StructType(df.schema.fields :+ StructField("ameta", AudioMetaSchema))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    val idx = df.schema.fieldIndex(payloadCol)
    df.mapPartitions { rows =>
      rows.map { r =>
        val p = r.getAs[Array[Byte]](idx)
        val n = if (p == null) 0 else p.length
        val m = AudioCodec.parse(p) match {
          case Some(a) =>
            Row(n, a.sampleRate, a.channels, a.bitsPerSample, a.nSamples, a.durationMs, "wav")
          case None => Row(n, 0, 0, 0, 0L, 0L, "raw")
        }
        Row.fromSeq(r.toSeq :+ m)
      }
    }(enc)
  }

  /** Metadata schema for decoded VIDEO payloads — the [[MetaSchema]]
    * sibling for the MP4 path ([[graft.functions.VideoCodec]]). `format`
    * is "mp4" or "raw" for unrecognized payloads. */
  val VideoMetaSchema: StructType = StructType(Seq(
    StructField("n_bytes", IntegerType, nullable = false),
    StructField("timescale", IntegerType, nullable = false),
    StructField("duration", LongType, nullable = false),
    StructField("duration_ms", LongType, nullable = false),
    StructField("n_tracks", IntegerType, nullable = false),
    StructField("mdat_bytes", LongType, nullable = false),
    StructField("format", StringType, nullable = false)))

  /** Attach decoded video metadata (REAL ISO-BMFF box-walk parse — header
    * boxes only, sample data never inflated). Same narrow mapPartitions
    * shape as [[withDecodedMeta]]; unrecognized payloads get zeroed fields
    * with format "raw" instead of throwing. */
  def withVideoMeta(df: DataFrame, payloadCol: String): DataFrame = {
    import graft.functions.VideoCodec
    val outSchema = StructType(df.schema.fields :+ StructField("vmeta", VideoMetaSchema))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    val idx = df.schema.fieldIndex(payloadCol)
    df.mapPartitions { rows =>
      rows.map { r =>
        val p = r.getAs[Array[Byte]](idx)
        val n = if (p == null) 0 else p.length
        val m = VideoCodec.parse(p) match {
          case Some(v) =>
            Row(n, v.timescale, v.duration, v.durationMs, v.nTracks, v.mdatBytes, "mp4")
          case None => Row(n, 0, 0L, 0L, 0, 0L, "raw")
        }
        Row.fromSeq(r.toSeq :+ m)
      }
    }(enc)
  }

  /** Unified routed-media schema: one struct whatever the container —
    * `kind` (image/audio/video/raw) drives downstream dispatch, `px` is
    * populated for images, `duration_ms` for timed media. */
  val RouteMetaSchema: StructType = StructType(Seq(
    StructField("kind", StringType, nullable = false),
    StructField("format", StringType, nullable = false),
    StructField("n_bytes", IntegerType, nullable = false),
    StructField("px", LongType, nullable = false),
    StructField("duration_ms", LongType, nullable = false)))

  /** MEDIA ROUTER: sniff-dispatch a MIXED binary column in one pass —
    * each payload is probed against the three real container parsers
    * (image PNG/JPEG/GIF/BMP, audio RIFF/WAVE, video ISO-BMFF; magic
    * bytes are disjoint so probe order is immaterial) and mapped to the
    * unified [[RouteMetaSchema]] struct; anything unrecognized routes to
    * kind "raw" instead of throwing. This is the ingestion-time
    * "what did we crawl" pass: ONE narrow mapPartitions over the corpus
    * replaces a decode-attempt-per-format pipeline (k scans → 1), and the
    * header-only parsers keep it I/O-bound at 100 TB. */
  def routeMedia(df: DataFrame, payloadCol: String): DataFrame = {
    import graft.functions.{AudioCodec, VideoCodec}
    val outSchema = StructType(df.schema.fields :+ StructField("rmeta", RouteMetaSchema))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    val idx = df.schema.fieldIndex(payloadCol)
    df.mapPartitions { rows =>
      rows.map { r =>
        val p = r.getAs[Array[Byte]](idx)
        val n = if (p == null) 0 else p.length
        val m = ImageCodec.parse(p)
          .map(i => Row("image", i.format, n, i.width.toLong * i.height, 0L))
          .orElse(AudioCodec.parse(p).map(a => Row("audio", "wav", n, 0L, a.durationMs)))
          .orElse(VideoCodec.parse(p).map(v => Row("video", "mp4", n, 0L, v.durationMs)))
          .getOrElse(Row("raw", "raw", n, 0L, 0L))
        Row.fromSeq(r.toSeq :+ m)
      }
    }(enc)
  }

  /** Difference-hash (dHash) of a decodable image, as FOUR 16-bit
    * segments: decode to RGB ([[ImageCodec.decodeRgb]]: PNG, JPEG, GIF or BMP),
    * integer grayscale (r+g+b div 3), average-pool to a 9×8 grid with
    * integer-boundary blocks (x ∈ [i·w/9, (i+1)·w/9), same for rows —
    * exact for dims divisible by the grid, deterministic truncation
    * otherwise), then bit b = j·8+i set iff grid(i+1,j) > grid(i,j).
    *
    * Segments instead of one 64-bit word on purpose: bit 63 would make
    * the packed value negative, and arithmetic-vs-logical shift-right
    * semantics differ across engines — four unsigned-range INTs sidestep
    * the sign hazard entirely, and the LSH band key IS the segment
    * (d02's pigeonhole: hamming ≤ 3 over 4 segments guarantees one
    * equal segment). All-integer, so hashes are cross-engine exact. */
  def dHashSegments(payload: Array[Byte]): Option[Array[Int]] = {
    ImageCodec.decodeRgb(payload).flatMap { case (w, h, px) =>
      if (w < 9 || h < 8) None
      else {
        def gray(x: Int, y: Int): Int = {
          val o = (y * w + x) * 3
          ((px(o) & 0xff) + (px(o + 1) & 0xff) + (px(o + 2) & 0xff)) / 3
        }
        val m = Array.ofDim[Int](8, 9)
        for (j <- 0 until 8; i <- 0 until 9) {
          val x0 = i * w / 9; val x1 = (i + 1) * w / 9
          val y0 = j * h / 8; val y1 = (j + 1) * h / 8
          var s = 0
          for (y <- y0 until y1; x <- x0 until x1) s += gray(x, y)
          m(j)(i) = s / ((x1 - x0) * (y1 - y0))
        }
        val segs = new Array[Int](4)
        for (b <- 0 until 64) {
          val j = b / 8; val i = b % 8
          if (m(j)(i + 1) > m(j)(i)) segs(b / 16) |= 1 << (b % 16)
        }
        Some(segs)
      }
    }
  }

  /** Frame sampling for video-ish payloads: every `stride`-th frame index up
    * to the stub-counted n_frames, exploded to one row per sampled frame —
    * the 1-row→N-rows generator shape (UDTF analog) for multimodal data.
    * Uses [[videoFrameCount]] directly (frame sampling is a video-container
    * operation; image sniffing does not apply). */
  def explodeSampledFrames(df: DataFrame, payloadCol: String, stride: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    val nFrames = udf((b: Array[Byte]) => videoFrameCount(b))
    df.withColumn("__n", nFrames(col(payloadCol)))
      .withColumn("frame_idx",
        explode(when(col("__n") > 0, sequence(lit(0), col("__n") - 1, lit(stride)))
          .otherwise(array().cast("array<int>"))))
      .drop("__n")
  }
}
