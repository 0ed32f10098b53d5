package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables._
import graft.plans.VectorExpressions.cosineSim

/** Operations/audit surface: the queries a data-platform team runs
  * ABOUT the pipeline rather than inside it — community-quality scoring of
  * a graph clustering, covariance structure of an embedding space, an
  * algebraic table checksum for verifying 100 TB copies, a small-file
  * compaction plan, and an integer-exact forecast over the revenue series.
  * Catalog rules as everywhere: deterministic order, exact integer
  * arithmetic for every reported ratio (`div` + explicit scale constants),
  * doubles only where both engines provably execute the identical IEEE
  * operation sequence.
  */
object OpsQueries {
  type Q = (SparkSession, String) => DataFrame

  /** G10 — MODULARITY + CONDUCTANCE AUDIT of the g06 label-propagation
    * communities (Newman–Girvan Q and the cut-share complement — the two
    * standard "is this clustering real structure?" scores; low
    * conductance + high modularity contribution is the real-structure
    * quadrant): per community c over the co-purchase graph, e_c
    * intra-edges, D_c degree mass, the contribution
    * q_c = e_c/m − (D_c/2m)² in exact parts-per-million — computed as
    * `e_c·10⁶ div m − (D_c·10⁶ div 2m)² div 10⁶`, every step BIGINT and
    * truncating, so the fixpoint is hash-checkable (no float Q). The
    * oracle interpolates the SAME [[MiningQueries.lpaCtes]] chain g06
    * declares, so the audited assignment cannot drift from the assignment
    * query (the p03/d05 shared-CTE rule). Headroom: e_c ≤ m and
    * D_c ≤ 2m, so both scaled terms stay under 2⁶³ up to m ≈ 9·10¹²
    * edges — far past a 100 TB co-purchase graph; past that the 10⁶
    * constant coarsens, the shape is size-independent.
    *
    * Scale shape: the assignment is g06's own plan; on top of it one
    * vertex-keyed degree agg, two label equi-joins of the edge list
    * (labels scale with vertices — NEVER broadcast, g06's rule), a
    * community-keyed hash agg, and a 1-row m broadcast. No all-pairs
    * term anywhere — Q's pairwise definition collapses to per-community
    * sums exactly so the O(n²) null-model never materializes. */
  def g10Modularity(s: SparkSession, d: String): DataFrame = {
    val und = MiningQueries.coPurchaseEdges(s, d).localCheckpoint(false)
    // lpaAssign does not checkpoint its rounds (they run as one action),
    // so the THREE consumers below need one lazy
    // materialization here or each would re-execute the whole fixpoint
    val comm = MiningQueries.lpaAssign(s, d).localCheckpoint(false)
    val deg = und.select(col("u").as("vertex"))
      .union(und.select(col("v").as("vertex")))
      .groupBy(col("vertex")).agg(count(lit(1)).as("deg"))
    val m1 = und.agg(count(lit(1)).as("m"))
    val intra = und
      .join(comm.select(col("vertex").as("u"), col("community").as("cu")), "u")
      .join(comm.select(col("vertex").as("v"), col("community").as("cv")), "v")
      .filter(col("cu") === col("cv"))
      .groupBy(col("cu").as("community")).agg(count(lit(1)).as("e_intra"))
    comm.join(deg, "vertex")
      .groupBy(col("community"))
      .agg(count(lit(1)).as("n_vertices"), sum(col("deg")).as("deg_sum"))
      .join(intra, Seq("community"), "left")
      .na.fill(0L, Seq("e_intra"))
      .crossJoin(broadcast(m1))
      .selectExpr("community", "n_vertices", "e_intra", "deg_sum",
        "(e_intra * 1000000 div m) - " +
          "((deg_sum * 1000000 div (2 * m)) * (deg_sum * 1000000 div (2 * m)) div 1000000) AS q_ppm",
        // conductance: share of the community's edge endpoints that leave
        // it — cut = deg_sum − 2·e_intra, normalized by min(vol, 2m−vol);
        // the low-conductance/high-modularity quadrant is "real structure"
        "deg_sum - 2 * e_intra AS cut_edges",
        "CASE WHEN least(deg_sum, 2 * m - deg_sum) > 0 " +
          "THEN (deg_sum - 2 * e_intra) * 1000000 div least(deg_sum, 2 * m - deg_sum) " +
          "ELSE CAST(0 AS BIGINT) END AS conductance_ppm")
      .orderBy(col("community"))
  }

  /** S13 — EMBEDDING COVARIANCE STRUCTURE (the whitening/PCA-prep audit):
    * exact integer covariance numerators over the first 16 dimensions,
    * upper triangle j ≤ k. Vectors are fixed-point-quantized
    * (`floor(double(v)·1000)` — float→double widening is exact and the
    * multiply/floor then execute bit-identically in both engines, the
    * m09 pixel-arithmetic discipline), and the report carries
    * cov_num = n·Σx_jx_k − Σx_j·Σx_k = n²·cov — division-free, so the
    * 136-row matrix hashes exactly. A training team reads the off-diagonal
    * mass to decide whether the space needs whitening before cosine
    * retrieval (correlated dims overweight their shared direction).
    * Headroom: |x| ≤ ~10³ quantized, so n·Σx_jx_k ≈ n²·10⁶ stays under
    * 2⁶³ to n ≈ 3·10⁶ vectors; past that the final products widen to
    * DECIMAL(38) (the shape — one explode + hash agg — is
    * size-independent, these constants are not).
    *
    * Scale shape: ONE narrow projection quantizes, one bounded explode
    * (136 pairs/row — dim-bounded, not data-bounded) feeds a 136-group
    * map-side-combinable hash agg; nothing shuffles but the 136 partials
    * per task. This is the standard distributed Gram-matrix shape. */
  def s13EmbeddingCovariance(s: SparkSession, d: String): DataFrame =
    embeddings(s, d)
      .select(expr("transform(slice(embedding, 1, 16), " +
        "v -> CAST(floor(CAST(v AS DOUBLE) * 1000) AS BIGINT))").as("qv"))
      .select(explode(expr(
        """flatten(transform(sequence(1, 16), j ->
          |  transform(sequence(j, 16), k ->
          |    named_struct('j', CAST(j AS BIGINT), 'k', CAST(k AS BIGINT),
          |                 'xj', qv[j-1], 'xk', qv[k-1]))))""".stripMargin)).as("p"))
      .select(col("p.j"), col("p.k"), col("p.xj"), col("p.xk"))
      .groupBy(col("j"), col("k"))
      .agg(count(lit(1)).as("n"), sum(col("xj")).as("sx"),
        sum(col("xk")).as("sy"), sum(expr("xj * xk")).as("sxy"))
      .selectExpr("j", "k", "n", "sxy * n - sx * sy AS cov_num")
      .orderBy(col("j"), col("k"))

  /** DQ10 — ALGEBRAIC TABLE CHECKSUM (Litwin–Schwarz-style signature):
    * 16 order-independent bucket signatures over lineitem, each
    * sig = Σ_rows (Σ_cols a_i·v_i) mod p with fixed small prime
    * coefficients and p = 10⁹+7 — the artifact that verifies a 100 TB
    * table copy/migration without sorting anything: recompute on both
    * sides, compare 16 rows. Order-independence is by construction
    * (addition commutes), bucketing by l_orderkey % 16 localizes a
    * mismatch to 1/16 of the keyspace for bisection. Money columns enter
    * as exact cents (`floor(x·100)` — IEEE-identical both engines).
    * The running sum widens to DECIMAL(38,0) BEFORE aggregation (DuckDB's
    * HUGEINT mirror), so the signature cannot wrap at any row count a
    * 38-digit accumulator holds (~10²⁹ rows at p ≈ 10⁹) — then reduces
    * mod p back to BIGINT.
    *
    * Scale shape: one narrow projection + one 16-group map-side-combinable
    * hash agg — the cheapest full-scan verb in the catalog; no shuffle
    * but 16 partials per task. */
  def dq10TableChecksum(s: SparkSession, d: String): DataFrame = {
    val p = 1000000007L
    lineitem(s, d)
      .selectExpr("l_orderkey % 16 AS bucket",
        s"""(3 * l_orderkey + 5 * l_partkey + 7 * l_suppkey
           | + 11 * CAST(l_linenumber AS BIGINT)
           | + 13 * CAST(floor(l_quantity * 100) AS BIGINT)
           | + 17 * CAST(floor(l_extendedprice * 100) AS BIGINT)) % $p AS sig0""".stripMargin)
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        sum(expr("CAST(sig0 AS DECIMAL(38,0))")).as("ssum"))
      .selectExpr("bucket", "n_rows", s"CAST(ssum % $p AS BIGINT) AS sig")
      .orderBy(col("bucket"))
  }

  /** P04 — SMALL-FILE COMPACTION PLAN (the OPTIMIZE/bin-pack verb of a
    * lakehouse maintenance pass): within each source, documents in
    * doc_id order coalesce greedily into target-sized output bins —
    * bin = (running size BEFORE this file) div target — and the report
    * is the plan a compactor executes: per (source, bin) file count,
    * byte total, and the id span it covers. Sequential greedy (not FFD)
    * is the industry shape — it preserves ingest order so downstream
    * range predicates on doc_id still prune, exactly like Delta OPTIMIZE's
    * default bin-packing. Target is 2000 chars here — the bench-scale
    * stand-in for the 128 MB–1 GB file target a real compactor uses.
    *
    * Scale shape: one per-source keyed window (running sum — spillable,
    * keyed, never SinglePartition) feeding a (source, bin) hash agg that
    * reuses the window's clustering; one shuffle total. */
  def p04CompactionPlan(s: SparkSession, d: String): DataFrame = {
    val target = 2000L
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    documents(s, d)
      .select(col("source"), col("doc_id"),
        coalesce(col("n_chars"), lit(0L)).as("sz"))
      .withColumn("cum_before", coalesce(sum(col("sz")).over(w), lit(0L)))
      .withColumn("bin", expr(s"cum_before div $target"))
      .groupBy(col("source"), col("bin"))
      .agg(count(lit(1)).as("n_files"), sum(col("sz")).as("bytes"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
      .orderBy(col("source"), col("bin"))
  }

  /** Q80 — HOLT LINEAR-TREND FORECAST over the monthly revenue series,
    * hash-exact: α = β = 1/2 makes every smoothing step a BIGINT
    * truncating halving — l_t = (y_t + l + b) div 2,
    * b_t = (l_t − l + b) div 2, seeded l₁ = y₁, b₁ = 0 — so the
    * recursion is bit-identical across engines with no float state.
    * Output: the fitted final (level, trend) and the h = 1..3 step-ahead
    * forecasts l + h·b in cents. The engine folds the calendar-bounded
    * series with `aggregate` over ONE sorted array (q48's contract:
    * both engines fold identical values in identical order); the oracle
    * runs the same recurrence as a RECURSIVE CTE — a completely different
    * evaluation strategy arriving at the same integer fixpoint (the
    * q64/d10 two-strategies discipline). Headroom: monthly cents ≈ 10⁸·SF
    * and the state stays within ~2× the series maximum, so BIGINT holds
    * to ~10¹⁰× this bench.
    *
    * Scale shape: the fact scan collapses to ≤ n_months rows in one
    * map-side-combinable agg FIRST (q76's aggregate-first rule); the
    * fold then runs on one calendar-bounded array — a 1-row frame, not a
    * driver loop, and its cost is invariant to fact-table size. */
  def q80HoltForecast(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .select((year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
          .cast("long").as("t"),
        expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"))
      .groupBy(col("t")).agg(sum(col("cents")).as("x"))
      .agg(sort_array(collect_list(struct(col("t"), col("x")))).as("ds"))
      .select(expr(
        """aggregate(slice(ds, 2, size(ds) - 1),
          |  named_struct('l', ds[0].x, 'b', CAST(0 AS BIGINT)),
          |  (acc, e) -> named_struct(
          |    'l', (e.x + acc.l + acc.b) div 2,
          |    'b', (((e.x + acc.l + acc.b) div 2) - acc.l + acc.b) div 2))""".stripMargin)
        .as("st"))
      .select(explode(expr("sequence(CAST(1 AS BIGINT), CAST(3 AS BIGINT))")).as("h"),
        col("st.l").as("level_cents"), col("st.b").as("trend_cents"))
      .selectExpr("h", "level_cents", "trend_cents",
        "level_cents + h * trend_cents AS forecast_cents")
      .orderBy(col("h"))

  /** M15 — KEYFRAME SEEK PLAN through a REAL `stss` sync-sample box:
    * every document materializes as a valid MP4 whose stss the engine
    * actually reads ([[graft.functions.VideoCodec.syncSampleIndices]]),
    * composed with the stts/stsz/stco geometry walk — the product is the
    * seek plan a thumbnail/preview pass executes: each keyframe's byte
    * offset, size and presentation time, addressed WITHOUT decoding
    * anything. m12 plans a fixed-stride sample; m15 plans the
    * container's OWN keyframe structure — the difference between "every
    * 5th frame" and "the frames a decoder can actually start at". A
    * container without stss returns None (ISO 14496-12: no stss ⇒ all
    * samples sync — a semantic the CALLER must opt into, not a guess).
    *
    * The oracle recomputes everything from the synthesis formulas — nk =
    * 1 + (nF−1) div gop keyframes at samples 1, 1+gop, …; chunk offset
    * 344 + 4·nk — without parsing a container, so the hash proves the
    * stss read + box math end-to-end (the m07/m12 discipline).
    * Scale shape: narrow per-row kernel + keyframe-bounded explode
    * (≤ nF/gop rows per doc), no shuffle but the final order. */
  def m15Keyframes(s: SparkSession, d: String): DataFrame = {
    import graft.functions.VideoCodec
    val mk = udf { (docId: Long) =>
      val nFrames = (10 + docId % 41).toInt
      val frameSize = (1 + docId % 7).toInt
      val timescale = (10 + docId % 20).toInt
      val gop = (3 + docId % 5).toInt
      VideoCodec.mp4BytesWithKeyframes(timescale, nFrames.toLong, nFrames,
        frameSize, gop, (docId % 251).toInt)
    }
    val plan = udf { (payload: Array[Byte]) =>
      for {
        g <- VideoCodec.frameGeometry(payload)
        ks <- VideoCodec.syncSampleIndices(payload)
      } yield (g._1, g._3, g._4, g._5, ks) // timescale, frameSize, chunkOff, delta, stss
    }
    documents(s, d)
      .select(col("doc_id"), plan(mk(col("doc_id"))).as("p"))
      .filter(col("p").isNotNull)
      .select(col("doc_id"), col("p._1").as("ts"), col("p._2").as("fs"),
        col("p._3").as("off"), col("p._4").as("delta"),
        explode(col("p._5")).as("k"))
      .selectExpr("doc_id", "k AS sample_no",
        "off + (k - 1) * fs AS byte_offset", "fs AS frame_bytes",
        "(k - 1) * delta * 1000 div ts AS pts_milli")
      .orderBy(col("doc_id"), col("sample_no"))
  }

  /** M19 — REAL VIDEO PIXEL DECODE, end to end: every document materializes as
    * an MJPEG-in-MP4 whose mdat samples are REAL baseline JPEGs
    * ([[graft.functions.JpegDecoder.jpegGrayBlockBytes]], 16×16 grayscale,
    * four 8×8 blocks, zero-padded to one fixed sample size), frames are
    * planned via the REAL stts/stsz/stco geometry walk
    * ([[graft.functions.VideoCodec.frameGeometry]]), each planned span is
    * range-read out of the payload — byte-exact, nothing outside the plan
    * is touched, the posture a 100 TB store needs for ranged GETs — and
    * decoded through [[graft.functions.ImageCodec.decodeRgb]], the JDK's
    * baseline JPEG reader (DQT/DHT/SOF0/SOS parse, canonical Huffman,
    * dequantize, integer IDCT). Per frame: luminance sum / min / max
    * over all 256 decoded pixels plus the presentation time from the
    * tick math. This composes m07/m15's container walk with the JPEG
    * pixel path into the image/audio/VIDEO pixel triple.
    * Reference behavior class: decode-before-stat over batched opaque
    * media payloads (`assets/rag/process_text_chunks.py:62-68` is the
    * reference's batch-decode shape; it ships no video decoder — this
    * completes that posture at the pixel level).
    *
    * The oracle recomputes everything from the synthesis arithmetic and
    * never parses a container or a JPEG (the m07/m09 discipline) — it can
    * do so because the encode is exactly invertible: flat 8×8 blocks are
    * DC-only and quant table 0 carries q(0) = 8, so quantized DC =
    * v − 128 exactly and the decoder's flat-block IDCT reconstructs v
    * exactly (proof at [[graft.functions.JpegDecoder.jpegGrayBlockBytes]];
    * MjpegVideoSpec pins all 256 gray levels and the still-image-path
    * equality). A hash match therefore proves container walk + range
    * plan + entropy decode + IDCT, pixel-exact, end to end.
    *
    * Scale shape: one narrow per-row kernel (synthesize → plan →
    * range-read → decode → reduce), frame-bounded explode (≤ 6 rows per
    * doc), no shuffle but the final order — decode parallelism IS scan
    * parallelism, the mapPartitions posture of the whole multimodal
    * family. */
  def m19MjpegPixels(s: SparkSession, d: String): DataFrame = {
    import graft.functions.{ImageCodec, JpegDecoder, VideoCodec}
    val mk = udf { (docId: Long) =>
      val nf = (2 + docId % 5).toInt
      val ts = (10 + docId % 20).toInt
      val base = docId % 997
      val frames = Array.tabulate(nf) { f =>
        val vals = Array.tabulate(4)(bk => ((base * 31 + f * 53 + bk * 17 + 7) % 256).toInt)
        JpegDecoder.jpegGrayBlockBytes(2, 2, vals, padTo = 192)
      }
      VideoCodec.mp4BytesWithSamples(ts, nf.toLong, frames)
    }
    val stats = udf { (payload: Array[Byte]) =>
      VideoCodec.frameGeometry(payload).map { case (ts, nF, fs, off, delta) =>
        (0L until nF).map { k =>
          val a = (off + k * fs).toInt // the plan's span; only it is read
          val frame = java.util.Arrays.copyOfRange(payload, a, a + fs.toInt)
          ImageCodec.decodeRgb(frame) match {
            case Some((w, h, px)) =>
              var sum = 0L; var mn = 255; var mx = 0; var i = 0
              val n = w * h
              while (i < n) {
                val v = px(i * 3) & 0xFF // grayscale: R==G==B
                sum += v
                if (v < mn) mn = v
                if (v > mx) mx = v
                i += 1
              }
              (k, w, h, sum, mn, mx, k * delta * 1000L / ts)
            case None => (k, -1, -1, -1L, -1, -1, -1L) // poisons the hash
          }
        }
      // geometry failure emits the same poison-row shape (frame_no -1)
      // instead of null: explode(null) would drop the whole document
      // silently, contrary to the family's refusal-over-silence
      // discipline — a malformed payload must corrupt the hash, not
      // vanish (unreachable for the internal synthesis)
      }.getOrElse(Seq((-1L, -1, -1, -1L, -1, -1, -1L)))
    }
    documents(s, d)
      .select(col("doc_id"), explode(stats(mk(col("doc_id")))).as("f"))
      .select(col("doc_id"), col("f._1").as("frame_no"), col("f._2").as("width"),
        col("f._3").as("height"), col("f._4").as("luma_sum"),
        col("f._5").as("luma_min"), col("f._6").as("luma_max"),
        col("f._7").as("pts_milli"))
      .orderBy(col("doc_id"), col("frame_no"))
  }

  /** Q81 — SPATIAL DISTANCE-PAIRS via grid blocking (the Sedona/GeoSpark
    * partitioned spatial join, distilled): customers get deterministic
    * integer micro-degree coordinates (quadratic key hash — synthesis,
    * like the media family's containers), and the query reports every
    * pair within Euclidean distance r = 5000, exact integer dx²+dy² ≤ r²
    * arithmetic so the pair set hashes. The engine is the lossless
    * GRID-BLOCKED shape: cell = (x div r, y div r); one side replicates
    * to its 3×3 cell neighborhood, the other joins on its HOME cell —
    * every qualifying pair meets in exactly the right cell ONCE (b's home
    * ∈ a's neighborhood iff |cells|∞ ≤ 1 ⊇ dist ≤ r), so no dedup pass.
    * The oracle is the UNBLOCKED inequality-join spec (DuckDB plans it as
    * an IEJoin over the bounding box) — two completely different join
    * strategies, one result, so the hash proves the blocking lossless
    * (q50/d02's complementary-strategy discipline).
    *
    * Scale shape: 9× replication of ONE side + equi-join on cell — the
    * industry-standard distributed spatial join; candidates are bounded
    * by local density (Σ|cell|·|neighborhood|), never n². Skewed hot
    * cells are AQE-splittable because the join is a plain hash/SMJ on the
    * cell key. Coordinate span 10⁶ with r=5000 ⇒ ~200² cells. */
  /** All ordered candidate pairs (id_a, id_b, dist2) within distance r,
    * via the lossless 3×3 grid blocking — each ordered pair appears
    * exactly once (b's single home cell meets exactly one a-replica).
    * Shared by q81 (unordered pairs: keep id_a < id_b) and q82 (per-point
    * kNN: group by id_a).
    *
    * QUADRATIC key hash for the coordinates: a linear (k·a mod m) map is
    * translation-invariant — x(k)−x(k') depends only on k−k', a lattice
    * with NO close pairs for consecutive keys — so the synthesis must be
    * nonlinear in k. km² ≤ 10¹² keeps every term far from 2⁶³ at any key
    * scale. */
  private def spatialCandidates(s: SparkSession, d: String, r: Long): DataFrame = {
    val pts = customer(s, d)
      .selectExpr("c_custkey AS id", "c_custkey % 999983 AS km")
      .selectExpr("id",
        "(km * km * 3 + km * 7919) % 1000000 AS x",
        "(km * km * 11 + km * 104729) % 1000000 AS y")
    val cell = pts.selectExpr("id", "x", "y",
      s"x div $r AS cx", s"y div $r AS cy")
    val aRep = cell.select(col("id").as("id_a"), col("x").as("xa"),
        col("y").as("ya"),
        explode(expr("flatten(transform(sequence(-1, 1), dx -> " +
          "transform(sequence(-1, 1), dy -> " +
          "named_struct('cx', cx + dx, 'cy', cy + dy))))")).as("c"))
      .select(col("id_a"), col("xa"), col("ya"),
        col("c.cx").as("cx"), col("c.cy").as("cy"))
    val bHome = cell.select(col("id").as("id_b"), col("x").as("xb"),
      col("y").as("yb"), col("cx"), col("cy"))
    aRep.join(bHome, Seq("cx", "cy"))
      .filter(col("id_a") =!= col("id_b"))
      .filter(expr(s"(xa - xb) * (xa - xb) + (ya - yb) * (ya - yb) <= ${r * r}"))
      .selectExpr("id_a", "id_b",
        "(xa - xb) * (xa - xb) + (ya - yb) * (ya - yb) AS dist2")
  }

  def q81SpatialPairs(s: SparkSession, d: String): DataFrame =
    spatialCandidates(s, d, 5000L)
      .filter(col("id_a") < col("id_b"))
      .orderBy(col("id_a"), col("id_b"))

  /** Q82 — BOUNDED SPATIAL k-NN (radius-limited nearest neighbors, the
    * honest distributed formulation): each point's up-to-3 nearest
    * neighbors WITHIN r — bounding by radius first is what keeps grid
    * blocking lossless (an unbounded kNN needs expanding-ring search:
    * a sparse cell's true NN can live outside the 3×3 neighborhood,
    * and silently missing it is the classic distributed-kNN bug; the
    * radius contract makes the 3×3 sweep provably complete). Ranking
    * is deterministic — (dist2 ASC, id_b ASC) — and the window is keyed
    * by id_a, spillable, never SinglePartition.
    *
    * Scale shape: q81's candidate generation (9× one-side replication
    * equi-join) + one keyed window over candidates bounded by local
    * density. The oracle ranks the IEJoin bounding-box candidates — the
    * complementary strategy, again. */
  def q82SpatialKnn(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("id_a"))
      .orderBy(col("dist2"), col("id_b"))
    spatialCandidates(s, d, 5000L)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("id_a"), col("rank").cast("long").as("rank"),
        col("id_b"), col("dist2"))
      .orderBy(col("id_a"), col("rank"))
  }

  /** M16 — AUDIO DOWNSAMPLE (2:1 decimation) through the REAL PCM path:
    * decode int16 samples (RIFF walk + little-endian signed decode, the
    * m10/m13 kernel), then the resample itself — y_i = (s_2i + s_2i+1)
    * div 2, truncating toward zero in both engines, odd tail dropped —
    * the rate-halving pass an ASR pipeline runs before a 16 kHz→8 kHz
    * model. The report pins the RESULT SIGNAL, not just its existence:
    * n_out, Σ|y|, max|y|, and an order-sensitive checksum
    * Σ(y_i+32768)·(i+1) (shift to non-negative keeps the sum exact
    * BIGINT with no modular arithmetic; position weighting catches a
    * reordered or off-by-one resampler that energy stats would miss).
    * Oracle recomputes every value from the synthesis ramp arithmetic —
    * decode + decimation hash-proven end-to-end (the L90/L105
    * discipline). Scale shape: narrow per-row kernel, no shuffle but
    * the final order. */
  def m16AudioResample(s: SparkSession, d: String): DataFrame = {
    import graft.functions.AudioCodec
    val mk = udf { (docId: Long, nChars: Long) =>
      AudioCodec.wavBytes(8000, 1, 16, (nChars % 400 + 50).toInt,
        seed = (docId % 251).toInt)
    }
    val res = udf { (b: Array[Byte]) =>
      AudioCodec.pcmSamples16(b).map { smp =>
        val m = smp.length / 2
        var sumAbs = 0L; var maxAbs = 0L; var dot = 0L
        var i = 0
        while (i < m) {
          val y = (smp(2 * i) + smp(2 * i + 1)) / 2
          sumAbs += math.abs(y)
          maxAbs = math.max(maxAbs, math.abs(y).toLong)
          dot += (y.toLong + 32768L) * (i + 1)
          i += 1
        }
        (m.toLong, sumAbs, maxAbs, dot)
      }.orNull
    }
    documents(s, d)
      .select(col("doc_id"), res(mk(col("doc_id"), col("n_chars"))).as("r"))
      .filter(col("r").isNotNull)
      .select(col("doc_id"), col("r._1").as("n_out"), col("r._2").as("sum_abs"),
        col("r._3").as("max_abs"), col("r._4").as("pos_checksum"))
      .orderBy(col("doc_id"))
  }

  /** S14 — EMBEDDING-DIMENSION ABLATION (the Matryoshka/truncation
    * decision artifact): recall@5 of exact cosine search using only the
    * first 8/16/32 dimensions against the full-64-dim ground truth —
    * the table a platform reads before truncating stored vectors to cut
    * index memory 2–8× (MRL-trained embeddings keep most recall at small
    * prefixes; this measures whether THESE embeddings do). Completes the
    * ANN tuning story on its second axis: s12 sweeps probe COUNT at
    * fixed dimension, s14 sweeps DIMENSION at exact search.
    *
    * Scores stay doubles but never reach the output — ranks only (the
    * proven engine-identical sequential-fold cosine on both sides;
    * truncation preserves fold order), recall reported in exact bp.
    * Scale shape: a HARNESS like s12 — panel × corpus scored projection
    * replicated per dims setting via a 3-row broadcast grid (never a
    * per-setting rescan of anything but the one projection), per-
    * (dims,qid) top-5 windows, integer recall agg. Panel-bounded, not
    * corpus-pairs. */
  def s14DimAblation(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Similarity
    import s.implicits._
    val emb = embeddings(s, d)
    val qs = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val exact = Similarity.batchTopKByCosine(emb, col("vec_id"),
        col("embedding"), qs, 5)
      .select(col("qid"), col("id"))
      .localCheckpoint(false) // consumed once per dims setting
    val dims = Seq(8L, 16L, 32L).toDF("dims")
    val cand = emb.crossJoin(broadcast(qs))
      .filter(col("qid") =!= col("vec_id"))
      .crossJoin(broadcast(dims))
      .select(col("dims"), col("qid"), col("vec_id").as("id"),
        cosineSim(expr("slice(embedding, 1, CAST(dims AS INT))"),
          expr("slice(qv, 1, CAST(dims AS INT))")).as("score"))
    val wk = Window.partitionBy(col("dims"), col("qid"))
      .orderBy(col("score").desc, col("id"))
    val hits = cand.withColumn("rk", row_number().over(wk))
      .filter(col("rk") <= 5)
      .select(col("dims"), col("qid"), col("id"))
      .join(exact, Seq("qid", "id"))
      .groupBy(col("dims")).agg(count(lit(1)).as("sum_hits"))
    val nq = qs.agg(count(lit(1)).as("n_queries"))
    dims.join(hits, Seq("dims"), "left").crossJoin(broadcast(nq))
      .selectExpr("dims", "n_queries",
        "coalesce(sum_hits, CAST(0 AS BIGINT)) AS sum_hits",
        "coalesce(sum_hits, CAST(0 AS BIGINT)) * 10000 div (5 * n_queries) AS recall_bp")
      .orderBy(col("dims"))
  }

  /** D27 — LSH BAND-CONFIGURATION SWEEP (the S-curve tuning artifact): for
    * the SAME 16-lane MinHash signature, candidate pairs at band shapes
    * (8 bands × 2 rows) / (4×4) / (2×8) scored against EXACT set-Jaccard
    * ≥ 0.5 ground truth — precision/recall per shape, the table a dedupe
    * rollout reads to pick its banding (more bands = higher recall, lower
    * precision; the sweep MEASURES the S-curve instead of trusting the
    * (1/b)^(1/r) folklore). Completes the tuning-harness trilogy: s12
    * sweeps ANN probes, s14 sweeps dimensions, d27 sweeps LSH bands.
    *
    * Ground truth is integer-exact: J ≥ 1/2 ⟺ 3·|∩| ≥ |A|+|B| — no
    * doubles anywhere in the truth set — computed by the inverted-index
    * shingle equi-join (the d25/jpairs shape: Σ df² bounded by shingle
    * selectivity, never n² in docs; a pathological hot shingle is the
    * documented caveat, and the same join IS the oracle's strategy).
    * Scale shape: ONE signature agg (shared, checkpointed) + one banded
    * equi-join per config (3, each shuffling only (band_key) groups) +
    * the truth join; counts are map-side-combinable; output 3 rows. */
  /** Exact set-Jaccard ≥ ½ pairs (id_a < id_b) over 3-word shingles via
    * the inverted shingle index — integer-exact (3·|∩| ≥ |A|+|B|), cost
    * bounded by Σ df² over shingle selectivity, never n² in docs. Truth
    * set for d27's band sweep and the pair source for d28's cross-source
    * overlap matrix. */
  private def shingleJaccardTruth(s: SparkSession, d: String): DataFrame = {
    // reads the shared per-doc distinct-shingle artifact
    // (MiningQueries.docShingles — identical (doc, sh) set, see d09's
    // equivalence note); sizes become a narrow array-size projection
    val tok = graft.queries.MiningQueries.docShingles(s, d)
      .select(col("doc_id"), explode(col("gs")).as("sh"))
    val sizes = graft.queries.MiningQueries.docShingles(s, d)
      .select(col("doc_id"), size(col("gs")).cast("long").as("sz"))
    tok.select(col("doc_id").as("id_a"), col("sh"))
      .join(tok.select(col("doc_id").as("id_b"), col("sh")), "sh")
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id").as("id_a"), col("sz").as("sa")), "id_a")
      .join(sizes.select(col("doc_id").as("id_b"), col("sz").as("sb")), "id_b")
      .filter(col("inter") * 3 >= col("sa") + col("sb"))
      .select(col("id_a"), col("id_b"))
  }

  def d27LshTuning(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Dedupe
    // the shared signature artifact (docShingles-built) — the
    // tuning sweep and the d01 production config provably score the SAME
    // signatures
    val sig = MiningQueries.minhashSigShared(s, d)
    val truth = shingleJaccardTruth(s, d)
      .localCheckpoint(false) // joined against each config
    val nTruthDf = truth.agg(count(lit(1)).as("n_truth")) // 1-row broadcast
    val configs = Seq(8, 4, 2)
    val reports = configs.map { b =>
      val banded = Dedupe.bandKeys(sig, 16, b)
      val cand = banded.select(col("id").as("id_a"), col("band_idx"), col("band_key"))
        .join(banded.select(col("id").as("id_b"), col("band_idx"), col("band_key")),
          Seq("band_idx", "band_key"))
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b")).distinct()
      cand.join(truth.withColumn("hit", lit(1)), Seq("id_a", "id_b"), "left")
        .agg(count(lit(1)).as("n_candidates"),
          sum(coalesce(col("hit"), lit(0))).as("tp"))
        .select(lit(b.toLong).as("bands"), lit((16 / b).toLong).as("rows_per_band"),
          col("n_candidates"), col("tp").cast("long").as("tp"))
    }
    reports.reduce(_ unionAll _)
      .crossJoin(broadcast(nTruthDf))
      .selectExpr("bands", "rows_per_band", "n_candidates", "n_truth", "tp",
        "CASE WHEN n_candidates > 0 THEN tp * 10000 div n_candidates ELSE CAST(0 AS BIGINT) END AS precision_bp",
        "CASE WHEN n_truth > 0 THEN tp * 10000 div n_truth ELSE CAST(0 AS BIGINT) END AS recall_bp")
      .orderBy(col("bands").desc)
  }

  /** DQ11 — K-ANONYMITY / L-DIVERSITY CENSUS (Sweeney 2002 / Machanavajjhala
    * 2007): the privacy-governance audit a release manager runs BEFORE
    * publishing a table — equivalence classes over the quasi-identifier
    * pair (market segment × nation), each class's size (k) and the count
    * of distinct sensitive-attribute buckets it contains (l), plus the
    * below-k=5 flag marking re-identifiable classes. The structured-data
    * complement of the M4 text anonymizer: M4 scrubs PII literals, dq11
    * measures whether the remaining columns STILL single people out.
    * All-integer; the sensitive bucket is exact $1000 floor-division of
    * the account balance (truncation toward zero mirrored cross-engine).
    *
    * Scale shape: one QI-keyed hash agg; the distinct-count is exact
    * (keyed by class, spillable) — classes are bounded by the QI domain
    * (≤ segments × nations), so the report never grows with rows. */
  def dq11KAnonymity(s: SparkSession, d: String): DataFrame =
    customer(s, d)
      .selectExpr("c_mktsegment AS qi_segment", "c_nationkey AS qi_nation",
        "CAST(floor(c_acctbal) AS BIGINT) div 1000 AS sens_bucket")
      .groupBy(col("qi_segment"), col("qi_nation"))
      .agg(count(lit(1)).as("class_size"),
        countDistinct(col("sens_bucket")).as("l_diversity"))
      .selectExpr("qi_segment", "qi_nation", "class_size", "l_diversity",
        "CAST(CASE WHEN class_size < 5 THEN 1 ELSE 0 END AS BIGINT) AS below_k5")
      .orderBy(col("qi_segment"), col("qi_nation"))

  /** M17 — IMAGE TILE PLAN through the REAL header decode: every document
    * materializes as a valid PNG whose IHDR the engine actually parses
    * ([[graft.functions.ImageCodec.parse]]) to plan a 128×128 tile grid
    * with edge clamping — the patch-extraction verb of a vision pipeline
    * (ViT patching, tile-serving, zoomable thumbnails), planned WITHOUT
    * decoding a pixel: at 100 TB this pass reads ~30 header bytes per
    * object and downstream range-reads fetch exactly the planned tiles
    * (m12/m15's discipline for images). Edge tiles carry their true
    * clamped size — min(128, w−x0) — because a resizer that pads
    * silently corrupts aspect ratios downstream.
    *
    * Oracle recomputes the grid from the synthesis dimension formulas,
    * never parsing a PNG — header decode + grid math hash-proven.
    * Scale shape: narrow per-row kernel + grid-bounded explode
    * (≤ ⌈w/128⌉·⌈h/128⌉ rows per doc), no shuffle but the final order. */
  def m17TilePlan(s: SparkSession, d: String): DataFrame = {
    import graft.functions.ImageCodec
    val mk = udf { (docId: Long) =>
      ImageCodec.pngBytes((100 + docId % 500).toInt, (80 + docId % 333).toInt,
        (docId % 37).toInt)
    }
    val dims = udf { (b: Array[Byte]) =>
      ImageCodec.parse(b).map(m => (m.width, m.height)).orNull
    }
    documents(s, d)
      .select(col("doc_id"), dims(mk(col("doc_id"))).as("wh"))
      .filter(col("wh").isNotNull)
      .select(col("doc_id"), col("wh._1").cast("long").as("w"),
        col("wh._2").cast("long").as("h"))
      .select(col("doc_id"), col("w"), col("h"),
        explode(expr("sequence(CAST(0 AS BIGINT), (h + 127) div 128 - 1)")).as("ty"))
      .select(col("doc_id"), col("w"), col("h"), col("ty"),
        explode(expr("sequence(CAST(0 AS BIGINT), (w + 127) div 128 - 1)")).as("tx"))
      .selectExpr("doc_id", "ty", "tx", "tx * 128 AS x0", "ty * 128 AS y0",
        "least(CAST(128 AS BIGINT), w - tx * 128) AS tile_w",
        "least(CAST(128 AS BIGINT), h - ty * 128) AS tile_h")
      .orderBy(col("doc_id"), col("ty"), col("tx"))
  }

  /** DQ12 — GENERALIZATION LATTICE for k-anonymity (the decision artifact
    * ON TOP of dq11's census): the same customer table audited at three
    * QI generalization levels — (segment × nation), (segment × region)
    * via the nation dimension, (segment) — reporting per level the class
    * count, the minimum k, and how many customers would need SUPPRESSION
    * to reach k ≥ 5 (suppressed share in bp). A release manager reads it
    * bottom-up and picks the first level whose suppression cost is
    * acceptable — measuring the generalization/suppression trade-off
    * instead of guessing it (the lattice walk at the heart of
    * Incognito/Mondrian, evaluated declaratively). All-integer.
    *
    * Scale shape: one narrow base projection + broadcast of the ≤25-row
    * nation dim (a DIMENSION — broadcast is correct here, unlike vocab
    * joins), three QI-keyed hash aggs (one per level) + a second tiny agg
    * over each class frame; every report row count is QI-domain-bounded. */
  def dq12GeneralizationLattice(s: SparkSession, d: String): DataFrame = {
    val base = customer(s, d)
      .join(broadcast(nation(s, d).select(col("n_nationkey"),
        col("n_regionkey"))), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_mktsegment").as("seg"), col("c_nationkey").as("nat"),
        col("n_regionkey").as("reg"))
      .localCheckpoint(false) // three level aggs
    def level(lvl: Long, desc: String, keys: Seq[Column]): DataFrame =
      base.groupBy(keys: _*).agg(count(lit(1)).as("k"))
        .agg(count(lit(1)).as("n_classes"), min(col("k")).as("min_k"),
          sum(when(col("k") < 5, lit(1)).otherwise(lit(0))).as("classes_below_k5"),
          sum(when(col("k") < 5, col("k")).otherwise(lit(0))).as("suppressed"),
          sum(col("k")).as("total"))
        .select(lit(lvl).as("level"), lit(desc).as("qi"), col("n_classes"),
          col("min_k"), col("classes_below_k5").cast("long").as("classes_below_k5"),
          col("suppressed").cast("long").as("suppressed"), col("total"))
    level(0L, "segment x nation", Seq(col("seg"), col("nat")))
      .unionAll(level(1L, "segment x region", Seq(col("seg"), col("reg"))))
      .unionAll(level(2L, "segment", Seq(col("seg"))))
      .selectExpr("level", "qi", "n_classes", "min_k", "classes_below_k5",
        "suppressed", "suppressed * 10000 div total AS suppressed_bp")
      .orderBy(col("level"))
  }

  /** D28 — CROSS-SOURCE DUPLICATION MATRIX: the directionless (source_a ≤
    * source_b) matrix of near-duplicate pair counts with J ≥ ½ (d27's
    * integer-exact shingle truth), plus each cell's share of the row
    * source's documents in bp — the feed-provenance artifact ("which
    * feeds mirror each other") a curation team reads before deciding
    * which source to drop wholesale vs dedupe pairwise. p03 reports WHAT
    * dedupe removes per source; d28 reports WHERE the duplication comes
    * FROM — diagonal cells are within-feed template soup, off-diagonal
    * cells are mirror/syndication relationships.
    *
    * Scale shape: the truth join's Σ df² bound + one doc→source
    * broadcast-free equi-join pair (doc→source is corpus-sized — joined,
    * never broadcast, t11's rule) + a ≤|sources|² agg. */
  def d28CrossSourceOverlap(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    // one pruned (doc_id, source) scan materialized for its three
    // consumers (two pair-side joins + the per-source denominator) —
    // without it the table is re-scanned per consumer
    val src = docs.select(col("doc_id"), col("source")).localCheckpoint(false)
    val pairs = shingleJaccardTruth(s, d)
      .join(src.select(col("doc_id").as("id_a"), col("source").as("src_a")), "id_a")
      .join(src.select(col("doc_id").as("id_b"), col("source").as("src_b")), "id_b")
      .selectExpr("least(src_a, src_b) AS source_a",
        "greatest(src_a, src_b) AS source_b")
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
    val perSrc = src.groupBy(col("source").as("source_a"))
      .agg(count(lit(1)).as("n_docs_a"))
    pairs.join(perSrc, "source_a")
      .selectExpr("source_a", "source_b", "n_pairs", "n_docs_a",
        "n_pairs * 10000 div n_docs_a AS pair_rate_bp")
      .orderBy(col("source_a"), col("source_b"))
  }

  /** T39 — TEMPERATURE-SCALED MIXING WEIGHTS (the multilingual/multi-source
    * rebalancing knob of Llama/PaLM-style data mixes): per-source sampling
    * weights at τ=1 (proportional), τ=2 (∝ √n — upweights low-resource
    * sources), τ=∞ (uniform), all in exact bp, plus the τ=2/τ=1 upsample
    * factor in milli — the table a mix designer reads to see HOW MUCH a
    * temperature choice favors the tail before committing t22's
    * allocation to it. √n is EXACT integer sqrt: floor(sqrt(double)) with
    * a ±1 integer correction, so the weights hash at any corpus size
    * (a bare double sqrt is off-by-one near perfect squares at ~2⁵²).
    *
    * Scale shape: one source-keyed token agg (map-side combinable) + a
    * 1-row totals broadcast — t22's shape with the temperature axis. */
  def t39TemperatureMix(s: SparkSession, d: String): DataFrame = {
    import graft.operators.TextAnalysis
    val isqrt = (n: String) =>
      s"""(CAST(floor(sqrt(CAST($n AS DOUBLE))) AS BIGINT)
         | + CASE WHEN (CAST(floor(sqrt(CAST($n AS DOUBLE))) AS BIGINT) + 1)
         |          * (CAST(floor(sqrt(CAST($n AS DOUBLE))) AS BIGINT) + 1) <= $n
         |     THEN 1 ELSE 0 END
         | - CASE WHEN CAST(floor(sqrt(CAST($n AS DOUBLE))) AS BIGINT)
         |          * CAST(floor(sqrt(CAST($n AS DOUBLE))) AS BIGINT) > $n
         |     THEN 1 ELSE 0 END)""".stripMargin
    val perSource = documents(s, d)
      .select(col("source"), TextAnalysis.tokenCount(col("text")).cast("long").as("tok"))
      .groupBy(col("source")).agg(sum(col("tok")).as("tokens"))
      .selectExpr("source", "tokens", s"${isqrt("tokens")} AS sqrt_tokens")
      // ≤|sources| rows, two consumers (totals + final join): without the
      // checkpoint each re-runs the full-text token regex scan
      .localCheckpoint(false)
    val totals = perSource.agg(sum(col("tokens")).as("t_total"),
      sum(col("sqrt_tokens")).as("s_total"), count(lit(1)).as("n_sources"))
    perSource.crossJoin(broadcast(totals))
      .selectExpr("source", "tokens", "sqrt_tokens",
        "tokens * 10000 div t_total AS w_t1_bp",
        "sqrt_tokens * 10000 div s_total AS w_t2_bp",
        "10000 div n_sources AS w_inf_bp",
        "CASE WHEN tokens * 10000 div t_total > 0 " +
          "THEN (sqrt_tokens * 10000 div s_total) * 1000 div (tokens * 10000 div t_total) " +
          "ELSE CAST(0 AS BIGINT) END AS upsample_milli")
      .orderBy(col("source"))
  }

  /** T40 — CONTEXT-WINDOW PACKING EFFICIENCY: padding waste of next-fit
    * document packing into 512-token windows under two orderings —
    * ingest order vs length-descending — the GPU-utilization decision a
    * training-infra team measures before choosing a packer (length-sorted
    * packing routinely halves padding; this MEASURES it on the actual
    * corpus). Next-fit is inherently sequential, so the fold runs per
    * SOURCE SHARD over one sorted array (`aggregate`, the q48/q80
    * identical-fold contract — DuckDB mirrors with list_reduce over the
    * same pre-transformed state list, seeded by its first element); a
    * production packer bounds shards anyway, so the per-key fold IS the
    * deployment shape, not a compromise. Window 512 > max doc tokens on
    * this corpus (spec-pinned) — oversized docs would need the split
    * path t21 models.
    *
    * Scale shape: one (source, doc) token projection, one source-keyed
    * collect + fold (shard-bounded), 2-row output. */
  def t40PackingEfficiency(s: SparkSession, d: String): DataFrame = {
    import graft.operators.TextAnalysis
    val base = documents(s, d)
      .select(col("source"), col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("tok"))
      .localCheckpoint(false) // two policy folds
    def packed(policy: String, sortKey: String): DataFrame =
      base.selectExpr("source", "doc_id", "tok", s"$sortKey AS s")
        .groupBy(col("source"))
        .agg(expr("sort_array(collect_list(struct(s, doc_id, tok)))").as("ds"),
          sum(col("tok")).as("toks"))
        .selectExpr("source", "toks",
          """aggregate(
            |  slice(transform(ds, x -> named_struct('k', CAST(1 AS BIGINT), 't', x.tok)),
            |        2, size(ds) - 1),
            |  named_struct('k', CAST(1 AS BIGINT), 't', ds[0].tok),
            |  (a, b) -> CASE WHEN a.t + b.t <= 512
            |            THEN named_struct('k', a.k, 't', a.t + b.t)
            |            ELSE named_struct('k', a.k + 1, 't', b.t) END).k AS wins""".stripMargin)
        .agg(sum(col("wins")).as("n_windows"), sum(col("toks")).as("n_tokens"))
        .selectExpr(s"'$policy' AS policy", "n_windows", "n_tokens",
          "n_windows * 512 - n_tokens AS padding_tokens",
          "(n_windows * 512 - n_tokens) * 10000 div (n_windows * 512) AS padding_bp")
    packed("ingest_order", "doc_id")
      .unionAll(packed("length_sorted", "struct(0 - tok, doc_id)"))
      .orderBy(col("policy"))
  }

  val queries: Map[String, Q] = Map(
    "t39_temperature_mix" -> t39TemperatureMix,
    "t40_packing_efficiency" -> t40PackingEfficiency,
    "d28_cross_source_overlap" -> d28CrossSourceOverlap,
    "dq12_generalization_lattice" -> dq12GeneralizationLattice,
    "m17_tile_plan" -> m17TilePlan,
    "dq11_k_anonymity" -> dq11KAnonymity,
    "d27_lsh_tuning" -> d27LshTuning,
    "m15_keyframes" -> m15Keyframes,
    "m19_mjpeg_pixels" -> m19MjpegPixels,
    "m16_audio_resample" -> m16AudioResample,
    "s14_dim_ablation" -> s14DimAblation,
    "q81_spatial_pairs" -> q81SpatialPairs,
    "q82_spatial_knn" -> q82SpatialKnn,
    "g10_modularity" -> g10Modularity,
    "s13_embedding_covariance" -> s13EmbeddingCovariance,
    "dq10_table_checksum" -> dq10TableChecksum,
    "p04_compaction_plan" -> p04CompactionPlan,
    "q80_holt_forecast" -> q80HoltForecast)

  // empty tokens filtered to match Dedupe.shingles: trim strips
  // only spaces, so tab/newline-prefixed text would otherwise shingle a
  // leading "" token on one side only
  private val d2xWords =
    """list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), x -> length(x) > 0)"""
  private val d2xShingle =
    s"""list_transform(generate_series(1, len(w) - 2),
        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])"""

  /** The exact-Jaccard-≥½ truth CTE chain (ends in `truth(id_a, id_b)`),
    * shared by d27's sweep and d28's matrix so pair semantics cannot
    * drift (the lpaCtes/dupAssignedCtes rule). */
  private val d2xTruthCtes: String =
    s"""w0 AS (
          SELECT doc_id, $d2xWords AS w FROM documents
        ), tok AS (
          SELECT doc_id, unnest(list_distinct($d2xShingle)) AS sh
          FROM (SELECT doc_id, w FROM w0 WHERE len(w) >= 3) t
        ), tsizes AS (
          SELECT doc_id, count(*) AS sz FROM tok GROUP BY doc_id
        ), truth AS (
          SELECT i.id_a, i.id_b FROM (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
            FROM tok a JOIN tok b ON a.sh = b.sh AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id) i
          JOIN tsizes sa ON sa.doc_id = i.id_a
          JOIN tsizes sb ON sb.doc_id = i.id_b
          WHERE i.inter * 3 >= sa.sz + sb.sz
        )"""

  /** d27's oracle: the d01 minhash machinery (same hash-family literals via
    * [[graft.operators.Dedupe.hashFamily]]) swept over three band shapes,
    * plus the shared integer-exact truth chain. */
  private val d27Sql: String = {
    val P = 2147483647L
    val md5h = (v: String) => s"CAST(concat('0x', substr(md5($v), 1, 8)) AS BIGINT)"
    val sigEntries = graft.operators.Dedupe.hashFamily(16).map { case (a, b) =>
      s"list_min(list_transform(h, x -> (x * $a + $b) % $P))"
    }.mkString("[", ", ", "]")
    val candCte = (b: Int) => {
      val r = 16 / b
      s"""banded$b AS (
            SELECT doc_id, bi.band_idx,
                   array_to_string(sig[band_idx * $r + 1 : band_idx * $r + $r], ':') AS band_key
            FROM sig, LATERAL (SELECT unnest(generate_series(0, ${b - 1})) AS band_idx) bi
          ), cand$b AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM banded$b a JOIN banded$b b
              ON a.band_idx = b.band_idx AND a.band_key = b.band_key
             AND a.doc_id < b.doc_id
          ), rep$b AS (
            SELECT CAST($b AS BIGINT) AS bands, CAST($r AS BIGINT) AS rows_per_band,
                   CAST(count(*) AS BIGINT) AS n_candidates,
                   CAST(sum(CASE WHEN t.id_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS tp
            FROM cand$b c LEFT JOIN truth t
              ON t.id_a = c.id_a AND t.id_b = c.id_b
          )"""
    }
    s"""WITH $d2xTruthCtes, hh AS (
          SELECT doc_id, list_transform($d2xShingle, sh -> ${md5h("sh")} % $P) AS h
          FROM (SELECT doc_id, w FROM w0 WHERE len(w) >= 3) t
        ), sig AS (
          SELECT doc_id, $sigEntries AS sig FROM hh
        ), nt AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM truth),
        ${candCte(8)}, ${candCte(4)}, ${candCte(2)},
        allrep AS (
          SELECT * FROM rep8 UNION ALL SELECT * FROM rep4 UNION ALL SELECT * FROM rep2
        )
        SELECT bands, rows_per_band, n_candidates, nt.n_truth, tp,
               CASE WHEN n_candidates > 0 THEN tp * 10000 // n_candidates
                    ELSE CAST(0 AS BIGINT) END AS precision_bp,
               CASE WHEN nt.n_truth > 0 THEN tp * 10000 // nt.n_truth
                    ELSE CAST(0 AS BIGINT) END AS recall_bp
        FROM allrep, nt ORDER BY bands DESC"""
  }

  private val normSliceSql = (v: String) =>
    s"sqrt(list_reduce(list_transform($v, e -> CAST(e AS DOUBLE) * CAST(e AS DOUBLE)), (x, y) -> x + y))"
  private def cosSliceSql(a: String, b: String) =
    s"(list_reduce(list_transform(list_zip($a, $b), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (x, y) -> x + y) / (${normSliceSql(a)} * ${normSliceSql(b)}))"

  private val t39IsqrtSql = (n: String) =>
    s"""(CAST(floor(sqrt(CAST($n AS DOUBLE))) AS BIGINT)
       | + CASE WHEN (CAST(floor(sqrt(CAST($n AS DOUBLE))) AS BIGINT) + 1)
       |          * (CAST(floor(sqrt(CAST($n AS DOUBLE))) AS BIGINT) + 1) <= $n
       |     THEN 1 ELSE 0 END
       | - CASE WHEN CAST(floor(sqrt(CAST($n AS DOUBLE))) AS BIGINT)
       |          * CAST(floor(sqrt(CAST($n AS DOUBLE))) AS BIGINT) > $n
       |     THEN 1 ELSE 0 END)""".stripMargin

  private val t40FoldSql = (orderBy: String) =>
    s"""list_reduce(
       |  list_transform(list(tok ORDER BY $orderBy),
       |                 t -> struct_pack(k := CAST(1 AS BIGINT), t := t)),
       |  (a, b) -> CASE WHEN a.t + b.t <= 512
       |            THEN struct_pack(k := a.k, t := a.t + b.t)
       |            ELSE struct_pack(k := a.k + 1, t := b.t) END).k""".stripMargin

  val oracle: Map[String, String] = Map(
    "t39_temperature_mix" ->
      s"""WITH per AS (
            SELECT source, CAST(sum(${LlmQueries.tokSql}) AS BIGINT) AS tokens
            FROM documents GROUP BY source
          ), sq AS (
            SELECT source, tokens, ${t39IsqrtSql("tokens")} AS sqrt_tokens FROM per
          ), tot AS (
            SELECT CAST(sum(tokens) AS BIGINT) AS t_total,
                   CAST(sum(sqrt_tokens) AS BIGINT) AS s_total,
                   CAST(count(*) AS BIGINT) AS n_sources
            FROM sq
          )
          SELECT source, tokens, CAST(sqrt_tokens AS BIGINT) AS sqrt_tokens,
                 CAST(tokens * 10000 // t_total AS BIGINT) AS w_t1_bp,
                 CAST(sqrt_tokens * 10000 // s_total AS BIGINT) AS w_t2_bp,
                 CAST(10000 // n_sources AS BIGINT) AS w_inf_bp,
                 CAST(CASE WHEN tokens * 10000 // t_total > 0
                      THEN (sqrt_tokens * 10000 // s_total) * 1000
                           // (tokens * 10000 // t_total)
                      ELSE 0 END AS BIGINT) AS upsample_milli
          FROM sq, tot ORDER BY source""",
    "t40_packing_efficiency" ->
      s"""WITH base AS (
            SELECT source, doc_id, ${LlmQueries.tokSql} AS tok FROM documents
          ), ing AS (
            SELECT source, sum(tok) AS toks, ${t40FoldSql("doc_id")} AS wins
            FROM base GROUP BY source
          ), srt AS (
            SELECT source, sum(tok) AS toks, ${t40FoldSql("0 - tok, doc_id")} AS wins
            FROM base GROUP BY source
          ), rep AS (
            SELECT 'ingest_order' AS policy, sum(wins) AS n_windows,
                   sum(toks) AS n_tokens
            FROM ing
            UNION ALL
            SELECT 'length_sorted', sum(wins), sum(toks) FROM srt
          )
          SELECT policy, CAST(n_windows AS BIGINT) AS n_windows,
                 CAST(n_tokens AS BIGINT) AS n_tokens,
                 CAST(n_windows * 512 - n_tokens AS BIGINT) AS padding_tokens,
                 CAST((n_windows * 512 - n_tokens) * 10000
                      // (n_windows * 512) AS BIGINT) AS padding_bp
          FROM rep ORDER BY policy""",
    "d28_cross_source_overlap" ->
      s"""WITH $d2xTruthCtes, sp AS (
            SELECT least(sa.source, sb.source) AS source_a,
                   greatest(sa.source, sb.source) AS source_b
            FROM truth t
            JOIN documents sa ON sa.doc_id = t.id_a
            JOIN documents sb ON sb.doc_id = t.id_b
          ), mat AS (
            SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_pairs
            FROM sp GROUP BY source_a, source_b
          ), ds AS (
            SELECT source AS source_a, CAST(count(*) AS BIGINT) AS n_docs_a
            FROM documents GROUP BY source
          )
          SELECT m.source_a, m.source_b, m.n_pairs, ds.n_docs_a,
                 CAST(m.n_pairs * 10000 // ds.n_docs_a AS BIGINT) AS pair_rate_bp
          FROM mat m JOIN ds ON ds.source_a = m.source_a
          ORDER BY m.source_a, m.source_b""",
    "dq12_generalization_lattice" ->
      """WITH base AS (
           SELECT c.c_mktsegment AS seg, c.c_nationkey AS nat, n.n_regionkey AS reg
           FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
         ), l0 AS (
           SELECT count(*) AS k FROM base GROUP BY seg, nat
         ), l1 AS (
           SELECT count(*) AS k FROM base GROUP BY seg, reg
         ), l2 AS (
           SELECT count(*) AS k FROM base GROUP BY seg
         ), rep AS (
           SELECT 0 AS level, 'segment x nation' AS qi, count(*) AS n_classes,
                  min(k) AS min_k,
                  sum(CASE WHEN k < 5 THEN 1 ELSE 0 END) AS classes_below_k5,
                  sum(CASE WHEN k < 5 THEN k ELSE 0 END) AS suppressed,
                  sum(k) AS total
           FROM l0
           UNION ALL
           SELECT 1, 'segment x region', count(*), min(k),
                  sum(CASE WHEN k < 5 THEN 1 ELSE 0 END),
                  sum(CASE WHEN k < 5 THEN k ELSE 0 END), sum(k)
           FROM l1
           UNION ALL
           SELECT 2, 'segment', count(*), min(k),
                  sum(CASE WHEN k < 5 THEN 1 ELSE 0 END),
                  sum(CASE WHEN k < 5 THEN k ELSE 0 END), sum(k)
           FROM l2
         )
         SELECT CAST(level AS BIGINT) AS level, qi,
                CAST(n_classes AS BIGINT) AS n_classes,
                CAST(min_k AS BIGINT) AS min_k,
                CAST(classes_below_k5 AS BIGINT) AS classes_below_k5,
                CAST(suppressed AS BIGINT) AS suppressed,
                CAST(suppressed * 10000 // total AS BIGINT) AS suppressed_bp
         FROM rep ORDER BY level""",
    "m17_tile_plan" ->
      // grid math from the synthesis dims (w = 100 + id%500 ≤ 599,
      // h = 80 + id%333 ≤ 412 ⇒ ≤ 5×4 tiles); bounded-range + filter
      // because table functions reject lateral column bounds
      """WITH v AS (
           SELECT doc_id, 100 + doc_id % 500 AS w, 80 + doc_id % 333 AS h
           FROM documents
         ), g AS (
           SELECT doc_id, w, h, ty.ty, tx.tx
           FROM v,
                generate_series(0, 4) AS ty(ty),
                generate_series(0, 4) AS tx(tx)
           WHERE ty.ty < (h + 127) // 128 AND tx.tx < (w + 127) // 128
         )
         SELECT doc_id, CAST(ty AS BIGINT) AS ty, CAST(tx AS BIGINT) AS tx,
                CAST(tx * 128 AS BIGINT) AS x0, CAST(ty * 128 AS BIGINT) AS y0,
                CAST(least(128, w - tx * 128) AS BIGINT) AS tile_w,
                CAST(least(128, h - ty * 128) AS BIGINT) AS tile_h
         FROM g ORDER BY doc_id, ty, tx""",
    "dq11_k_anonymity" ->
      """SELECT c_mktsegment AS qi_segment, c_nationkey AS qi_nation,
                CAST(count(*) AS BIGINT) AS class_size,
                CAST(count(DISTINCT CAST(floor(c_acctbal) AS BIGINT) // 1000) AS BIGINT) AS l_diversity,
                CAST(CASE WHEN count(*) < 5 THEN 1 ELSE 0 END AS BIGINT) AS below_k5
         FROM customer GROUP BY 1, 2 ORDER BY qi_segment, qi_nation""",
    "d27_lsh_tuning" -> d27Sql,
    "s14_dim_ablation" ->
      s"""WITH q AS (
            SELECT vec_id AS qid, embedding AS v FROM embeddings WHERE vec_id < 3
          ), exact AS (
            SELECT qid, id FROM (
              SELECT b.qid, a.vec_id AS id,
                     row_number() OVER (PARTITION BY b.qid
                       ORDER BY ${cosSliceSql("a.embedding", "b.v")} DESC, a.vec_id) AS rank
              FROM embeddings a CROSS JOIN q b WHERE a.vec_id <> b.qid) t
            WHERE rank <= 5
          ), dm AS (
            SELECT unnest([8, 16, 32]) AS dims
          ), cand AS (
            SELECT dm.dims, b.qid, a.vec_id AS id,
                   ${cosSliceSql("(a.embedding[1:dm.dims])", "(b.v[1:dm.dims])")} AS score
            FROM embeddings a CROSS JOIN q b CROSS JOIN dm
            WHERE a.vec_id <> b.qid
          ), rk AS (
            SELECT dims, qid, id,
                   row_number() OVER (PARTITION BY dims, qid
                                      ORDER BY score DESC, id) AS rk
            FROM cand
          ), hits AS (
            SELECT rk.dims, count(*) AS sum_hits
            FROM rk JOIN exact ON exact.qid = rk.qid AND exact.id = rk.id
            WHERE rk.rk <= 5 GROUP BY rk.dims
          ), nq AS (SELECT count(*) AS n FROM q)
          SELECT CAST(dm.dims AS BIGINT) AS dims,
                 CAST(nq.n AS BIGINT) AS n_queries,
                 CAST(coalesce(h.sum_hits, 0) AS BIGINT) AS sum_hits,
                 CAST(coalesce(h.sum_hits, 0) * 10000 // (5 * nq.n) AS BIGINT) AS recall_bp
          FROM dm LEFT JOIN hits h ON h.dims = dm.dims, nq
          ORDER BY dims""",
    "q82_spatial_knn" ->
      """WITH k AS (
           SELECT c_custkey AS id, c_custkey % 999983 AS km FROM customer
         ), p AS (
           SELECT id,
                  (km * km * 3 + km * 7919) % 1000000 AS x,
                  (km * km * 11 + km * 104729) % 1000000 AS y
           FROM k
         ), cand AS (
           SELECT a.id AS id_a, b.id AS id_b,
                  (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS dist2
           FROM p a JOIN p b
             ON a.id <> b.id
            AND b.x BETWEEN a.x - 5000 AND a.x + 5000
            AND b.y BETWEEN a.y - 5000 AND a.y + 5000
           WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= 25000000
         ), rk AS (
           SELECT id_a, id_b, dist2,
                  row_number() OVER (PARTITION BY id_a
                                     ORDER BY dist2, id_b) AS rank
           FROM cand
         )
         SELECT id_a, CAST(rank AS BIGINT) AS rank, id_b,
                CAST(dist2 AS BIGINT) AS dist2
         FROM rk WHERE rank <= 3 ORDER BY id_a, rank""",
    "m16_audio_resample" ->
      // recompute decode + decimation from the synthesis ramp (data byte
      // j = (seed + j) mod 256, little-endian signed int16; y_i =
      // (s_2i + s_2i+1) // 2, odd tail dropped) — the m10 discipline
      """WITH d AS (
           SELECT doc_id, CAST(n_chars % 400 + 50 AS BIGINT) AS n,
                  doc_id % 251 AS seed
           FROM documents
         ), smp AS (
           SELECT doc_id, n, k.k AS k,
                  ((seed + 2 * k.k) % 256) + ((seed + 2 * k.k + 1) % 256) * 256 AS v
           FROM d CROSS JOIN LATERAL
             (SELECT unnest(generate_series(0, n - 1)) AS k) k
         ), sgn AS (
           SELECT doc_id, n, k,
                  CASE WHEN v >= 32768 THEN v - 65536 ELSE v END AS sv
           FROM smp
         ), ys AS (
           SELECT a.doc_id, a.k // 2 AS i, (a.sv + b.sv) // 2 AS y
           FROM sgn a JOIN sgn b
             ON b.doc_id = a.doc_id AND b.k = a.k + 1
           WHERE a.k % 2 = 0 AND a.k + 1 < a.n
         )
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_out,
                CAST(sum(abs(y)) AS BIGINT) AS sum_abs,
                CAST(max(abs(y)) AS BIGINT) AS max_abs,
                CAST(sum((y + 32768) * (i + 1)) AS BIGINT) AS pos_checksum
         FROM ys GROUP BY doc_id ORDER BY doc_id""",
    "q81_spatial_pairs" ->
      """WITH k AS (
           SELECT c_custkey AS id, c_custkey % 999983 AS km FROM customer
         ), p AS (
           SELECT id,
                  (km * km * 3 + km * 7919) % 1000000 AS x,
                  (km * km * 11 + km * 104729) % 1000000 AS y
           FROM k
         )
         SELECT a.id AS id_a, b.id AS id_b,
                CAST((a.x - b.x) * (a.x - b.x)
                     + (a.y - b.y) * (a.y - b.y) AS BIGINT) AS dist2
         FROM p a JOIN p b
           ON a.id < b.id
          AND b.x BETWEEN a.x - 5000 AND a.x + 5000
          AND b.y BETWEEN a.y - 5000 AND a.y + 5000
         WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= 25000000
         ORDER BY id_a, id_b""",
    "m15_keyframes" ->
      """WITH v AS (
           SELECT doc_id,
                  10 + doc_id % 41 AS nf, 1 + doc_id % 7 AS fs,
                  10 + doc_id % 20 AS ts, 3 + doc_id % 5 AS gop
           FROM documents
         ), k AS (
           -- lateral bounds are unsupported: enumerate the max frame range
           -- (nf ≤ 50 by synthesis) and keep the gop-stride samples
           SELECT doc_id, fs, ts, g.k,
                  344 + 4 * (1 + (nf - 1) // gop) AS chunk_off
           FROM v, generate_series(1, 51) AS g(k)
           WHERE g.k <= nf AND (g.k - 1) % gop = 0
         )
         SELECT doc_id, CAST(k AS BIGINT) AS sample_no,
                CAST(chunk_off + (k - 1) * fs AS BIGINT) AS byte_offset,
                CAST(fs AS BIGINT) AS frame_bytes,
                CAST((k - 1) * 1000 // ts AS BIGINT) AS pts_milli
         FROM k ORDER BY doc_id, sample_no""",
    "m19_mjpeg_pixels" ->
      // the oracle replays the per-block gray synthesis and the tick math
      // only — no container, no JPEG: the engine's hash matching this
      // proves its box walk + range plan + Huffman + IDCT are pixel-exact
      // (each 8x8 block is 64 pixels of its gray value, so the frame
      // luminance sum is 64 * sum(blocks) and min/max are over blocks)
      """WITH v AS (
           SELECT doc_id, 2 + doc_id % 5 AS nf, 10 + doc_id % 20 AS ts,
                  doc_id % 997 AS base
           FROM documents
         ), fr AS (
           SELECT doc_id, ts, base, g.f AS frame_no
           FROM v, generate_series(0, 6) AS g(f)
           WHERE g.f < nf
         ), px AS (
           SELECT doc_id, ts, frame_no,
                  (base * 31 + frame_no * 53 + b.b * 17 + 7) % 256 AS g
           FROM fr, generate_series(0, 3) AS b(b)
         )
         SELECT doc_id, CAST(frame_no AS BIGINT) AS frame_no,
                CAST(16 AS INTEGER) AS width, CAST(16 AS INTEGER) AS height,
                CAST(64 * sum(g) AS BIGINT) AS luma_sum,
                CAST(min(g) AS INTEGER) AS luma_min,
                CAST(max(g) AS INTEGER) AS luma_max,
                CAST(frame_no * 1000 // ts AS BIGINT) AS pts_milli
         FROM px GROUP BY doc_id, frame_no, ts
         ORDER BY doc_id, frame_no""",
    "g10_modularity" ->
      s"""${MiningQueries.lpaCtes},
         lab AS (SELECT vertex, label AS community FROM l3),
         deg AS (
           SELECT vertex, count(*) AS deg
           FROM (SELECT u AS vertex FROM und UNION ALL SELECT v FROM und) t
           GROUP BY vertex
         ), mm AS (SELECT count(*) AS m FROM und),
         intra AS (
           SELECT la.community, count(*) AS e_intra
           FROM und
           JOIN lab la ON la.vertex = und.u
           JOIN lab lb ON lb.vertex = und.v
           WHERE la.community = lb.community
           GROUP BY la.community
         ), per AS (
           SELECT lab.community, count(*) AS n_vertices, sum(deg.deg) AS deg_sum
           FROM lab JOIN deg ON deg.vertex = lab.vertex
           GROUP BY lab.community
         )
         SELECT per.community,
                CAST(per.n_vertices AS BIGINT) AS n_vertices,
                CAST(coalesce(intra.e_intra, 0) AS BIGINT) AS e_intra,
                CAST(per.deg_sum AS BIGINT) AS deg_sum,
                CAST((coalesce(intra.e_intra, 0) * 1000000 // mm.m)
                     - (((per.deg_sum * 1000000 // (2 * mm.m))
                         * (per.deg_sum * 1000000 // (2 * mm.m))) // 1000000)
                     AS BIGINT) AS q_ppm,
                CAST(per.deg_sum - 2 * coalesce(intra.e_intra, 0) AS BIGINT) AS cut_edges,
                CAST(CASE WHEN least(per.deg_sum, 2 * mm.m - per.deg_sum) > 0
                     THEN (per.deg_sum - 2 * coalesce(intra.e_intra, 0)) * 1000000
                          // least(per.deg_sum, 2 * mm.m - per.deg_sum)
                     ELSE 0 END AS BIGINT) AS conductance_ppm
         FROM per LEFT JOIN intra ON intra.community = per.community, mm
         ORDER BY per.community""",
    "s13_embedding_covariance" ->
      """SELECT j, k, CAST(count(*) AS BIGINT) AS n,
                CAST(count(*) * sum(xj * xk) - sum(xj) * sum(xk) AS BIGINT) AS cov_num
         FROM (
           SELECT gj.j, gk.k,
                  CAST(floor(CAST(embedding[gj.j] AS DOUBLE) * 1000) AS BIGINT) AS xj,
                  CAST(floor(CAST(embedding[gk.k] AS DOUBLE) * 1000) AS BIGINT) AS xk
           FROM embeddings,
                generate_series(1, 16) AS gj(j),
                generate_series(1, 16) AS gk(k)
           WHERE gk.k >= gj.j) t
         GROUP BY j, k ORDER BY j, k""",
    "dq10_table_checksum" ->
      """SELECT l_orderkey % 16 AS bucket,
                CAST(count(*) AS BIGINT) AS n_rows,
                CAST(sum((3 * l_orderkey + 5 * l_partkey + 7 * l_suppkey
                          + 11 * CAST(l_linenumber AS BIGINT)
                          + 13 * CAST(floor(l_quantity * 100) AS BIGINT)
                          + 17 * CAST(floor(l_extendedprice * 100) AS BIGINT))
                         % 1000000007) % 1000000007 AS BIGINT) AS sig
         FROM lineitem GROUP BY 1 ORDER BY bucket""",
    "p04_compaction_plan" ->
      """WITH f AS (
           SELECT source, doc_id, coalesce(n_chars, 0) AS sz,
                  coalesce(sum(coalesce(n_chars, 0)) OVER (
                    PARTITION BY source ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
           FROM documents
         )
         SELECT source, CAST(cum_before // 2000 AS BIGINT) AS bin,
                CAST(count(*) AS BIGINT) AS n_files,
                CAST(sum(sz) AS BIGINT) AS bytes,
                min(doc_id) AS first_doc, max(doc_id) AS last_doc
         FROM f GROUP BY source, cum_before // 2000
         ORDER BY source, bin""",
    "q80_holt_forecast" ->
      """WITH RECURSIVE monthly AS (
           SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS t,
                  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS x
           FROM orders GROUP BY 1
         ), ser AS (
           SELECT row_number() OVER (ORDER BY t) AS rn, x FROM monthly
         ), st AS (
           SELECT CAST(1 AS BIGINT) AS rn, x AS l, CAST(0 AS BIGINT) AS b
           FROM ser WHERE rn = 1
           UNION ALL
           SELECT s.rn + 1,
                  (ser.x + s.l + s.b) // 2,
                  (((ser.x + s.l + s.b) // 2) - s.l + s.b) // 2
           FROM st s JOIN ser ON ser.rn = s.rn + 1
         ), fin AS (
           SELECT l, b FROM st ORDER BY rn DESC LIMIT 1
         )
         SELECT CAST(g.h AS BIGINT) AS h, fin.l AS level_cents, fin.b AS trend_cents,
                fin.l + g.h * fin.b AS forecast_cents
         FROM fin, generate_series(1, 3) AS g(h)
         ORDER BY h""")
}
