package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables._
import Shared.cosSql
import graft.operators.{Dedupe, GlobalRank}
import graft.plans.SampledGramHashes
import graft.plans.VectorExpressions.dotProduct

/** Data-selection / physical-layout decision surface: the queries
  * that decide WHICH data enters a training run and HOW it should be laid
  * out on disk — importance-weighted selection (DSIR), sample-based
  * approximate query answers with measured error, the min-max data-skipping
  * audit behind a sort/z-order decision, and the vocabulary coverage curve
  * behind a tokenizer vocab-size decision. Catalog rules as everywhere:
  * deterministic order, exact integer arithmetic for every reported ratio
  * (`div` + explicit scale constants), the floor-log₂ `length(bin(x))−1`
  * basis where a probability log is needed (t37's discipline — exact and
  * engine-identical where a float log never hashes).
  */
object SelectionQueries {
  type Q = (SparkSession, String) => DataFrame

  private val B = 256  // hashed-feature bucket count (DSIR's "hashed n-grams")

  /** Fixed-point log₂ with 1/16 resolution, pure integer + one IEEE-exact
    * 2^msb: ilog16(x) = 16·msb + ⌊x·16 / 2^msb⌋ − 16 where
    * msb = ⌊log₂ x⌋ = length(bin(x))−1 — the linear-interpolation mantissa
    * refinement of t37's floor-log₂ basis (floor alone is too coarse for a
    * likelihood RATIO: two near-equal distributions would round every
    * bucket weight to 0). Max interpolation error ≈ 0.086 log₂ units;
    * `power(2, msb)` is IEEE-exact for integral exponents ≤ 53 so both
    * engines compute the identical BIGINT. Valid for 1 ≤ x < 2⁵⁹ (the
    * x·16 intermediate must fit BIGINT — boundary pinned in spec). */
  private def ilog16(x: String): String = {
    val msb = s"(length(bin($x)) - 1)"
    s"(16 * $msb + ($x) * 16 div CAST(power(2, $msb) AS BIGINT) - 16)"
  }

  /** T41 — DSIR IMPORTANCE WEIGHTS (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every document in
    * the raw pool by how much it resembles a target domain — here the
    * `lang = 'en'` slice stands in for the target corpus — using the
    * paper's hashed n-gram features (unigrams AND word bigrams) bucketed
    * by b = md5₃₂(feature) mod 256, add-one-smoothed bucket counts on both
    * distributions, and the log-likelihood ratio
    * score(d) = Σ_b c_d(b)·[log₂(c_t(b)+1) − log₂(c_r(b)+1)
    *                        + log₂(T_r+B) − log₂(T_t+B)]
    * in the 1/16-resolution [[ilog16]] basis (production DSIR uses float
    * logs; the fixed-point form ranks by the same signal and hashes
    * cross-engine). Output: the top-25 pool documents DSIR would select,
    * with source/lang/feature count — the selection artifact a mix
    * designer inspects before resampling (t39/t22/t25 then execute the
    * mix). Scores are in 1/16-log₂ units; near-zero means the pool doc is
    * distributionally indistinguishable from the target — the honest
    * reading on this fixture, whose langs share one word distribution.
    *
    * Scale shape: two streaming passes over the corpus (model, then
    * score), no join and no checkpoint anywhere; the bucket model is 256
    * rows BY CONSTRUCTION — the bounded driver collect + array-literal
    * fold is safe at any corpus size, unlike a vocabulary join (t11's
    * no-broadcast rule does not apply: hashing fixes the domain); top-25
    * is TakeOrdered, never a global sort. */
  def t41DsirWeights(s: SparkSession, d: String): DataFrame = {
    // no (doc, bucket) count aggregate up front — that would be a
    // ~features-sized exchange with weak map-side combine (docs×256
    // keys), and neither consumer needs that granularity: the
    // bucket model is a 256-row agg straight over the features (strong
    // map-side combine), and the score is Σ_f w(b(f)) = Σ_b c·w(b), so
    // the per-doc agg collapses to one row per doc. Identical integers,
    // same oracle.
    val feats = documents(s, d) // val: one parquet file-index, two passes
      .select(col("doc_id"), col("source"), col("lang"),
        explode(concat(
          filter(Dedupe.words(col("text")), w => length(w) > 0),
          Dedupe.shingles(col("text"), 2))).as("f"))
      .select(col("doc_id"), col("source"), col("lang"),
        (Dedupe.md5Hash32(col("f")) % B).as("b"))
    // the bucket model is
    // 256 rows BY CONSTRUCTION, so it comes to the DRIVER and the
    // weights go back as a 256-entry ARRAY LITERAL — one bounded collect
    // + a codegen'd element_at projection inside the score pass instead
    // of a totals agg, a 256-row checkpoint, a crossJoin and a broadcast
    // score join. Without the join, re-running the tokenize kernel in
    // both passes is CHEAPER than materializing the feature frame
    // (BenchOne min-of-2 pairs, quiet host, sf0.1 — join shape
    // 2.57/1.52 s 9 jobs; literal+checkpoint 2.09/1.34 s 6 jobs;
    // literal+recompute 1.35/1.28 s 7 jobs, with no ~0.7 s
    // first-session ckpt write). The driver replicates ilog16 in
    // the same exact Long arithmetic the SQL spelling uses (floor-log2
    // via numberOfLeadingZeros ≡ length(bin(x))-1; `/` on non-negative
    // Longs ≡ SQL div; x·16 fits BIGINT for x < 2^59, the documented
    // bound), so scores are bit-identical and the oracle is unchanged.
    val btRows = feats.groupBy(col("b"))
      .agg(count(lit(1)).as("cr"),
        coalesce(sum(when(col("lang") === "en", 1L)), lit(0L)).as("ct"))
      .collect() // ≤ B rows by construction
    def ilog16L(x: Long): Long = {
      val msb = 63 - java.lang.Long.numberOfLeadingZeros(x)
      16L * msb + (x * 16L) / (1L << msb) - 16L
    }
    val cr = new Array[Long](B); val ct = new Array[Long](B)
    btRows.foreach { r =>
      val b = r.getLong(0).toInt; cr(b) = r.getLong(1); ct(b) = r.getLong(2)
    }
    val tr = cr.sum; val tt = ct.sum
    val wb = Array.tabulate(B) { b =>
      // a bucket with cr(b)=0 never occurs in feats (the model derives
      // from feats), so its slot value is never read — ilog16 stays in
      // its x ≥ 1 domain on every slot that matters
      ilog16L(ct(b) + 1) - ilog16L(cr(b) + 1) + ilog16L(tr + B) - ilog16L(tt + B)
    }
    feats
      .select(col("doc_id"), col("source"), col("lang"),
        element_at(typedLit(wb), (col("b") + 1).cast("int")).as("wb"))
      .groupBy(col("doc_id"), col("source"), col("lang"))
      .agg(count(lit(1)).as("n_features"), sum(col("wb")).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(25)
  }

  /** Q83 — SAMPLE-BASED APPROXIMATE AGGREGATION with measured error
    * (BlinkDB/online-aggregation distilled to its deterministic core): a
    * 1-in-16 hash sample of lineitem answers the per-returnflag revenue
    * sum, and the report puts the estimate NEXT TO the exact answer and
    * the realized error in bp — the calibration artifact that decides
    * whether a 6 % sample is good enough for a dashboard before anyone
    * trusts it at 100 TB. The sample predicate is a content hash of the
    * row key (md5₃₂(orderkey-linenumber) mod 16 = 0), so the sample is
    * reproducible across runs and engines — never `rand()`. Money enters
    * as exact cents; the estimate is 16·Σ_sample with integer scale-up.
    *
    * Scale shape: ONE narrow scan + one map-side-combinable hash agg
    * computes population and sample sides together as conditional
    * aggregates — the estimate costs zero extra passes. (In production
    * the sample side runs ALONE on 1/16 of the data for the speedup; the
    * audit form here exists to measure the error that choice buys.)
    * BIGINT cent sums hold to ~10¹² rows × 10⁷ cents; past that the
    * accumulator widens to DECIMAL(38,0), dq10's discipline. */
  def q83AqpEstimate(s: SparkSession, d: String): DataFrame =
    tableRaw(s, d, "lineitem")
      .select(col("l_returnflag"),
        expr("CAST(floor(l_extendedprice * 100) AS BIGINT)").as("cents"),
        (Dedupe.md5Hash32(
          concat(col("l_orderkey").cast("string"), lit("-"),
            col("l_linenumber").cast("string"))) % 16).as("h"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("cents")).as("true_cents"),
        coalesce(sum(when(col("h") === 0, 1L)), lit(0L)).as("n_sample"),
        (coalesce(sum(when(col("h") === 0, col("cents"))), lit(0L)) * 16)
          .as("est_cents"))
      .withColumn("err_bp",
        expr("abs(est_cents - true_cents) * 10000 div true_cents"))
      .orderBy(col("l_returnflag"))

  /** P05 — MIN-MAX DATA-SKIPPING AUDIT (the decision artifact behind a
    * sort/z-order): documents group into 64-row "files" under two layouts
    * — ingest order (file = doc_id div 64, what the writer produced) and
    * clustered (files cut from the exact global (n_chars, doc_id) order —
    * what OPTIMIZE ZORDER / a sort rewrite would produce) — and for each
    * layout × threshold the report says how many files a `n_chars ≥ K`
    * predicate skips on min-max stats alone, and how many rows the
    * surviving files force a scan of. Delta/Iceberg data skipping is
    * exactly this arithmetic at file-footer scale; the spread between the
    * two layouts is the measured value of re-clustering, read BEFORE
    * paying for the rewrite (q60's z-order curve is the multi-column
    * sibling; this is the single-column audit that says whether to run it).
    *
    * Scale shape: per layout one file-keyed map-combinable agg over a
    * narrow 2-column projection (the clustered layout's rank comes from
    * [[GlobalRank]] — a range shuffle, never a SinglePartition window);
    * the per-file stats frame is rows/64 — file-count-sized, as in the
    * real system where it IS the table metadata — and the 3-row threshold
    * grid replicates that stats frame, not the data. Matching-row counts
    * ride the same agg as conditional sums. */
  def p05SkippingIndex(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val thresholds = Seq(200L, 300L, 400L)
    val grid = thresholds.toDF("threshold")
    val base = documents(s, d)
      .select(col("doc_id"), coalesce(col("n_chars"), lit(0L)).as("sz"))
    val ingest = base.withColumn("file", expr("doc_id div 64"))
    val clustered = GlobalRank
      .withGlobalRank(base, Seq(col("sz"), col("doc_id")), "rank")
      .withColumn("file", expr("(rank - 1) div 64")).drop("rank")
    // aggregate before you shuffle: the matched-row
    // counts ride the SAME per-file aggregate as the min-max stats, one
    // conditional sum per threshold, instead of replicating the DATA 3×
    // through a grid crossJoin + second (file, threshold) aggregate +
    // join-back. The threshold grid replicates only the file-sized stats
    // frame, `df` has exactly ONE consumer (so the clustered layout's
    // GlobalRank range shuffle runs once), and each layout is one data
    // pass. Same integers: Σ_file count(sz ≥ t in file) == a
    // per-(file,threshold) agg summed with its null-coalesce. Measured
    // 0.765 → 0.609 s min-of-2 / 20 → 15 jobs against the grid shape,
    // same BenchOne session at sf0.1.
    def audit(layout: String, df: DataFrame): DataFrame =
      df.groupBy(col("file"))
        .agg(count(lit(1)).as("cnt"),
          (max(col("sz")).as("fmax") +:
            thresholds.map(t => sum(when(col("sz") >= t, 1L).otherwise(0L))
              .as(s"m$t"))): _*)
        .crossJoin(broadcast(grid))
        .withColumn("matched",
          thresholds.tail.foldLeft(
            when(col("threshold") === thresholds.head, col(s"m${thresholds.head}"))) {
            (acc, t) => acc.when(col("threshold") === t, col(s"m$t"))
          })
        .groupBy(col("threshold"))
        .agg(count(lit(1)).as("n_files"),
          coalesce(sum(when(col("fmax") < col("threshold"), 1L)), lit(0L))
            .as("files_skipped"),
          sum(when(col("fmax") >= col("threshold"), col("cnt"))
            .otherwise(0L)).as("rows_scanned"),
          sum(col("matched")).as("rows_matching"))
        .selectExpr(s"'$layout' AS layout", "threshold", "n_files",
          "files_skipped", "rows_scanned", "rows_matching",
          "files_skipped * 10000 div n_files AS skip_bp")
    audit("ingest", ingest)
      .unionByName(audit("clustered", clustered))
      .orderBy(col("layout"), col("threshold"))
  }


  /** T42 — VOCABULARY COVERAGE CURVE over word-bigram types: what
    * fraction of corpus bigram occurrences the top-k bigram vocabulary
    * covers, at k = 50 / 200 / 800 — the vocab-size decision artifact of
    * tokenizer/phrase-table design (coverage_bp's complement is the
    * fallback rate a merge vocabulary of that size eats; the knee of this
    * curve is where adding merge units stops paying, t33/t38's axis).
    * Bigram types rather than the 31-word fixture unigram vocabulary so
    * the curve has an actual knee to read (≈900 types here); frequencies
    * rank by (count desc, bigram) — exact, deterministic, the Zipf mass
    * integrated rather than assumed (t27 fits the exponent).
    *
    * Scale shape: one corpus explode → bigram-keyed map-combinable count
    * agg (vocabulary-sized output), exact global rank via [[GlobalRank]]'s
    * range shuffle (never a SinglePartition window, and the vocab frame is
    * never broadcast — t11's rule), then the 3-row size grid replicates
    * the VOCAB frame into one 3-group agg. */
  def t42VocabCoverage(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sizes = Seq(50L, 200L, 800L).toDF("vocab_size")
    val wc = documents(s, d)
      .select(explode(Dedupe.shingles(col("text"), 2)).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
    val ranked = GlobalRank.withGlobalRank(
      wc, Seq(col("cnt").desc, col("w")), "rnk")
    val tot = ranked.agg(sum(col("cnt")).as("total_ngrams"),
      count(lit(1)).as("n_vocab"))
    ranked.crossJoin(broadcast(sizes))
      .groupBy(col("vocab_size"))
      .agg(coalesce(sum(when(col("rnk") <= col("vocab_size"), col("cnt"))),
        lit(0L)).as("covered_ngrams"))
      .crossJoin(broadcast(tot))
      .selectExpr("vocab_size", "n_vocab", "covered_ngrams", "total_ngrams",
        "covered_ngrams * 10000 div total_ngrams AS coverage_bp")
      .orderBy(col("vocab_size"))
  }

  /** JPEG Annex K.1 luminance quantization table (the libjpeg base table
    * every quality-scaled encoder starts from), natural order. */
  private val JpegBaseLuma: Array[Int] = Array(
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99)

  /** M14 — JPEG QUALITY ESTIMATE from the real DQT header (the
    * recompression-quality signal of an image-corpus curation pass:
    * heavily requantized web images are the blurry/blocky tail a vision
    * training set wants flagged, and the quantization table says so from
    * ~100 header bytes — no pixel decoded, m12/m15/m17's
    * plan-don't-decode discipline). Fixture JPEGs carry a REAL DQT built
    * with libjpeg's own quality scaling (scale = 5000/q below 50 else
    * 200−2q; t = clamp₁₋₂₅₅((base·scale+50)/100)) at per-doc quality
    * q = 5 + (doc_id·7 mod 91); the engine walks the marker stream with
    * [[graft.functions.JpegDecoder.quantTable0]] and inverts the scaling
    * from the table SUM (ImageMagick's estimator, integer-exact here):
    * scale_est = round(100·Σt/Σbase), est_q = (200−scale_est)/2 above
    * 100 else 5000/scale_est. Output: doc counts per estimated-quality
    * decade — the corpus quality histogram. The oracle recomputes the
    * table from the synthesis arithmetic and never parses a JPEG, so the
    * DQT walk is proven end-to-end (the m-family oracle rule).
    *
    * Scale shape: synthesis + parse + 64-element sum fold are ONE narrow
    * per-row projection; only the ≤10-row decade histogram shuffles
    * (map-side-combinable agg). */
  def m14JpegQuality(s: SparkSession, d: String): DataFrame = {
    import graft.functions.{ImageCodec, JpegDecoder}
    val sumBase = JpegBaseLuma.sum
    val mk = udf { (docId: Long) =>
      val q = (5 + (docId * 7) % 91).toInt
      val scale = if (q < 50) 5000 / q else 200 - 2 * q
      val t = JpegBaseLuma.map(b => math.max(1, math.min(255, (b * scale + 50) / 100)))
      ImageCodec.jpegBytesWithDqt(64, 48, t)
    }
    val qt = udf { (payload: Array[Byte]) =>
      JpegDecoder.quantTable0(payload).orNull
    }
    documents(s, d)
      .select(col("doc_id"), qt(mk(col("doc_id"))).as("t"))
      .filter(col("t").isNotNull)
      .selectExpr("aggregate(t, 0L, (a, x) -> a + x) AS sum_t")
      .selectExpr(s"(100 * sum_t + ${sumBase / 2}) div $sumBase AS scale_est")
      .selectExpr("""CASE WHEN scale_est <= 100 THEN (200 - scale_est) div 2
                    |     ELSE 5000 div scale_est END AS est_q""".stripMargin)
      .groupBy(expr("est_q div 10").as("est_decade"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("est_q")).as("min_q"), max(col("est_q")).as("max_q"))
      .orderBy(col("est_decade"))
  }

  /** DQ13 — DIFFERENTIALLY-PRIVATE COUNT RELEASE, audited (the
    * geometric mechanism of Ghosh–Roughgarden–Sundararajan 2009 in its
    * sign-magnitude form, with EXACT INTEGER sampling): per
    * (segment, nation) class — dq11's quasi-identifier pair — the
    * released count is max(0, n + s·G) where G ~ Geometric(1/2) on
    * {0,1,…} and s = ±1, both read STRAIGHT OFF THE BITS of the class's
    * md5: sign = bit 0; G = the run of consecutive 1-bits from bit 1
    * (P(run = k) = 2^−(k+1) EXACTLY, because md5 bits are uniform — the
    * one distribution whose inverse-CDF sampling is pure bit arithmetic,
    * so the noise is deterministic, engine-identical, and hashable,
    * where a float Laplace inverse-CDF never is). The run length
    * collapses to integer algebra: x ⊕ (x+1) masks the low m+1 bits ⇒
    * m = ⌊log₂((x⊕(x+1))+1)⌋ − 1, t37's bin() basis again. Privacy
    * budget of this mechanism: adjacent-probability ratio is 4 at zero
    * and 2 elsewhere ⇒ ε = ln 4 ≈ 1.39 per released count. Output keeps
    * the true count and |error| NEXT TO the release — the utility-audit
    * form (q83's framing): a production release drops those columns;
    * this artifact is what decides whether ε = ln 4 counts are usable.
    * Deterministic seeding by class key doubles as the real-world
    * "consistent release" property (re-running the release cannot leak
    * fresh noise — the one-draw-per-statistic rule of DP deployment).
    *
    * Scale shape: customer scan ⋈ broadcast nation dim → one
    * QI-keyed map-combinable count agg (report bounded by the QI
    * domain); the noise is a narrow per-ROW projection on the
    * class-count frame, never data-sized. */
  def dq13DpRelease(s: SparkSession, d: String): DataFrame =
    tableRaw(s, d, "customer")
      .select(col("c_mktsegment").as("segment"), col("c_nationkey"))
      .join(broadcast(nation(s, d).select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("segment"), col("n_name").as("nation"))
      .agg(count(lit(1)).as("n_true"))
      .withColumn("h", Dedupe.md5Hash32(concat(col("segment"), lit("|"), col("nation"))))
      .withColumn("noise", expr(
        """CAST((CASE WHEN h % 2 = 1 THEN 1 ELSE -1 END) *
          |(length(bin(((h div 2) ^ (h div 2 + 1)) + 1)) - 2) AS BIGINT)""".stripMargin))
      .withColumn("released", greatest(expr("n_true + noise"), lit(0L)))
      .withColumn("abs_err", abs(col("released") - col("n_true")))
      .drop("h")
      .orderBy(col("segment"), col("nation"))

  /** S15 — IVF INDEX BALANCE AUDIT (the MAINTAIN verb completing the ANN
    * lifecycle: s03 BUILDs and QUERIES, s12 TUNEs probes, s14 tunes
    * dimensions, d27 tunes bands — nothing yet says WHEN the index has
    * degraded): per-partition vector counts of the s03 IVF assignment
    * plus the balance factor max·nparts/total in milli (1000 = perfectly
    * balanced) and the FAISS-folklore re-train trigger balance > 2× —
    * inserts drift a quantizer trained on yesterday's distribution, hot
    * partitions grow until nProbe recall collapses, and THIS artifact is
    * the scheduled check that catches it. Empty partitions are reported
    * (wasted probes), via a left join from the centroid set. The oracle
    * interpolates the SAME [[LlmQueries.ivfBuildCtes]] chain s03
    * declares, so the audited assignment cannot drift from the index
    * (the lpaCtes shared-CTE rule).
    *
    * Scale shape: the assignment is the index's own build artifact
    * (corpus-scan + 8-row broadcast centroid argmax — s03's plan); the
    * audit adds ONE part-keyed map-combinable count agg (output = nparts
    * rows) + a 1-row totals broadcast. */
  def s15IvfBalance(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Similarity
    val emb = embeddings(s, d)
    val cent = Similarity.seededCentroids(emb, col("vec_id"), col("embedding"), 8)
    val assigned = Similarity.assignToCentroids(emb, col("vec_id"), col("embedding"), cent)
    val per = assigned.groupBy(col("part")).agg(count(lit(1)).as("n_vecs"))
    val full = cent.select(col("part"))
      .join(per, Seq("part"), "left")
      .select(col("part").cast("long").as("part"),
        coalesce(col("n_vecs"), lit(0L)).as("n_vecs"))
    val tot = full.agg(sum(col("n_vecs")).as("total"),
      max(col("n_vecs")).as("mx"), count(lit(1)).as("np"),
      coalesce(sum(when(col("n_vecs") === 0L, 1L)), lit(0L)).as("ne"))
    full.crossJoin(broadcast(tot))
      .selectExpr("part", "n_vecs",
        "n_vecs * 10000 div total AS share_bp",
        "mx * np * 1000 div total AS balance_milli",
        "ne AS n_empty",
        "CAST(CASE WHEN mx * np * 1000 div total > 2000 THEN 1 ELSE 0 END AS BIGINT) AS retrain")
      .orderBy(col("part"))
  }

  // ------------------------------------------------- exact Lloyd k-means

  private val KmK = 10       // clusters (the fixture carries 10 latent labels)
  private val KmRounds = 3   // Lloyd refinement rounds (unrolled in the oracle)
  private val KmScale = 1024d   // 2^10: float→fixed-point scaling is EXACT
  private val KmOffset = 1024d  // shift to non-negative (translation-invariant L2)

  /** Quantized embeddings: q_d = round(x_d·2^10) + 2^10 — integral,
    * non-negative (for |x| ≤ 1), held as array<double> so the native
    * [[dotProduct]] kernel applies. Exactness chain: ·2^10 is a pure
    * exponent shift (no mantissa rounding, float OR double), round()
    * ties-away-from-zero in both engines, and every downstream product
    * (≤ 2^22) / 64-term sum (≤ 2^28) / distance (≤ 2^28) is an integer
    * below 2^53 — bit-exact in IEEE double with NO fold-order contract
    * needed (integer addition commutes; the float-cosine queries need
    * the index-order fold rule, this family doesn't). */
  private def kmQuantized(s: SparkSession, d: String): DataFrame =
    embeddings(s, d)
      .filter(col("embedding").isNotNull) // null vectors can't cluster; a
      // no-op on the fixture, defined behavior on adversarial corpora
      // (zero-NORM vectors are fine: the L2 basis has no zero-norm
      // failure mode, unlike the cosine family)
      .select(col("vec_id"),
        transform(col("embedding"),
          // clamp to the documented [0, 2048] band: the integer-mean
          // update relies on non-negative values for Spark's truncating
          // Long division to agree with DuckDB's flooring `//`; an
          // embedding component with |x| > 1 would otherwise diverge
          // cross-engine SILENTLY (oracle clamps identically — parity by
          // construction, a no-op on the fixture, spec-pinned)
          x => greatest(lit(0d),
            least(lit(2d * KmOffset),
              round(x.cast("double") * KmScale) + lit(KmOffset)))).as("qv"))

  /** argmin-L2 assignment against a driver-side centroid array. The
    * centroid set is index metadata — bounded by k, never data-sized — so
    * it inlines as literals and the assignment is a narrow shuffle-free
    * map over the corpus (s03's assignToCentroids shape): per centroid,
    * d² = v·v + c·c − 2·v·c through the native dot kernel, then
    * least(struct(d², part)) = argmin with lowest-part tie-break. */
  private def kmAssign(vq: DataFrame, cents: Array[(Int, Array[Double])]): DataFrame = {
    val vnorm = dotProduct(col("qv"), col("qv"))
    val scored = cents.map { case (p, cv) =>
      val cl = array(cv.toIndexedSeq.map(lit(_)): _*)
      val c2 = cv.map(x => x * x).sum // ints ≤ 2^22 squared, 64-term sum: exact
      struct((vnorm - dotProduct(col("qv"), cl) * 2d + lit(c2)).as("d2"),
        lit(p).as("part"))
    }
    val best = if (scored.length == 1) scored.head else least(scored.toIndexedSeq: _*)
    vq.select(col("vec_id"), col("qv"),
      best.getField("part").as("part"),
      best.getField("d2").cast("long").as("d2"))
  }

  /** Lloyd's algorithm, exact fixed-point form: init = the k lowest-id
    * vectors (s03's seeding), then [[KmRounds]] rounds of
    * assign → integer-mean centroid update (per-dimension
    * ⌊Σq_d / n⌋ — floor division on non-negative BIGINTs, identical in
    * both engines), empty clusters keeping their previous centroid.
    * Returns the FINAL assignment (vec_id, qv, part, d2 vs the round-3
    * centroids) and those centroids.
    *
    * Scale shape per round: one narrow assignment map (centroids are
    * broadcast-sized literals) + one (part, dim)-keyed map-combinable
    * agg whose output is k·dim rows — METADATA-sized, so the driver
    * collect is bounded regardless of corpus size (GlobalRank's
    * offset-collect rule). Rounds are driver-sequenced like every
    * iterative op here (g04/g06), but each round is one job — no
    * checkpoint needed because round N+1's assignment re-reads only the
    * original quantized frame (materialized once) and k·dim literals,
    * never round N's lineage. */
  /** The fitted clustering
    * is a BUILD artifact, not per-query work — exactly the s03/LanceDB
    * index lifecycle (train offline once, persist, every downstream pass
    * reads the persisted assignment). s16 (the audit report) and s17 (the
    * D4 prune) both consume the SAME fit instead of re-running 3 Lloyd
    * rounds per query. Memoized per sf dir with the
    * final assignment eagerly checkpointed — the in-session equivalent of
    * the parquet the build job would leave next to the vector table. */
  private def kmFit(s: SparkSession, d: String): (DataFrame, Array[(Int, Array[Double])]) =
    graft.core.ArtifactRegistry.cached(s, d, "km_fit") {
      val vq = kmQuantized(s, d).localCheckpoint(false) // init + R rounds + final all read it
      var cents: Array[(Int, Array[Double])] =
        vq.orderBy(col("vec_id")).limit(KmK).collect().zipWithIndex.map { case (r, i) =>
          (i, r.getSeq[Double](1).toArray)
        }
      for (_ <- 1 to KmRounds) {
        val upd = kmAssign(vq, cents)
          .select(col("part"), posexplode(col("qv")))
          .groupBy(col("part"), col("pos"))
          .agg(sum(col("col").cast("long")).as("sm"), count(lit(1)).as("cnt"))
          .collect() // k·dim rows by construction
        val byPart = upd.groupBy(_.getInt(0))
        cents = cents.map { case (p, old) =>
          byPart.get(p) match {
            case Some(rows) =>
              val next = old.clone()
              rows.foreach { r => next(r.getInt(1)) = (r.getLong(2) / r.getLong(3)).toDouble }
              (p, next)
            case None => (p, old) // empty cluster keeps its centroid
          }
        }
      }
      // the persisted-artifact stand-in: narrow (vec_id, part, d2) only —
      // consumers never read qv, and the eager checkpoint is what makes
      // the second consumer (s17 after s16, or min-of-2 bench reruns)
      // read the artifact instead of re-fitting
      (kmAssign(vq, cents).select(col("vec_id"), col("part"), col("d2"))
        .localCheckpoint(true), cents)
    }

  /** S16 — EXACT FIXED-POINT LLOYD K-MEANS over the embedding corpus (the
    * clustering pass of SemDeDup/D4-style semantic curation — Abbas et al.
    * 2023, Tirumala et al. 2023 — and the trained upgrade of s03's seeded
    * IVF quantizer): k = 10, 3 refinement rounds, everything in the
    * 2^10 fixed-point basis so assignments, inertia and centroids are
    * INTEGER-exact and hash-identical cross-engine (spark.ml's KMeans
    * float path never is — s03 keeps it driver-side for that reason; this
    * query IS the oracle-checkable training loop). Output per cluster:
    * size, inertia (Σd² vs final centroids), and the centroid L1 mass —
    * the audit row a curation pass reads before trusting the partition
    * (s15 then watches it drift). Empty clusters are reported with their
    * frozen centroid, not dropped.
    *
    * Scale shape: see [[kmFit]] — per round one narrow map + one
    * metadata-sized agg; the final stats agg is k rows. */
  def s16KmeansRefine(s: SparkSession, d: String): DataFrame = {
    val (assigned, cents) = kmFit(s, d)
    import s.implicits._
    val cdf = cents.map { case (p, cv) => (p, cv.sum.toLong) }
      .toSeq.toDF("part", "c_l1")
    cdf.join( // centroid frame drives: empty clusters stay reported
      assigned.groupBy(col("part"))
        .agg(count(lit(1)).as("n"), sum(col("d2")).as("inertia")),
      Seq("part"), "left")
      .select(col("part").cast("long").as("part"),
        coalesce(col("n"), lit(0L)).as("n"),
        coalesce(col("inertia"), lit(0L)).as("inertia"),
        col("c_l1"))
      .orderBy(col("part"))
  }

  /** S17 — D4-STYLE PROTOTYPE/OUTLIER PRUNING on the s16 clustering
    * (Tirumala et al. 2023: after SemDeDup, drop the most PROTOTYPICAL
    * points — nearest the centroid, where semantic near-duplicates pile
    * up — and the farthest OUTLIERS, which are noise): per cluster the
    * closest ⌈n/10⌉ vectors are flagged 'proto' and the farthest ⌈n/20⌉
    * (that aren't already proto) 'outlier'; the output IS the pruned
    * list (part, vec_id, d², action) — the reviewable drop set, not just
    * counts, so the oracle hash pins the per-cluster RANKING itself.
    * Shares [[kmFit]] with s16 (and the oracle shares `kmeansCtes`), so
    * the pruned set can never drift from the clustering it claims to
    * prune — the lpaCtes/ivfBuildCtes rule.
    *
    * Scale shape: ranks come from ONE [[GlobalRank]] range shuffle over
    * (part, d², vec_id) — never a k-partition window, which would funnel
    * the corpus through k tasks — with per-cluster offsets/sizes from a
    * k-row collected agg (metadata-sized); descending rank is derived as
    * n+1−rank from the same total order, so one shuffle serves both
    * ends. */
  def s17D4Prune(s: SparkSession, d: String): DataFrame = {
    val (assigned, _) = kmFit(s, d)
    val base = assigned.select(col("vec_id"), col("part"), col("d2"))
    val counts = base.groupBy(col("part")).agg(count(lit(1)).as("nc"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val parts = counts.keys.toSeq.sorted
    val offsets: Map[Int, Long] =
      parts.zip(parts.scanLeft(0L)((a, p) => a + counts(p)).init).toMap
    val ranked = GlobalRank
      .withGlobalRank(base, Seq(col("part"), col("d2"), col("vec_id")), "grnk")
      .withColumn("rna", col("grnk") - element_at(typedLit(offsets), col("part")))
      .withColumn("nc", element_at(typedLit(counts), col("part")))
      .drop("grnk")
    ranked
      .withColumn("proto", col("rna") <= expr("(nc + 9) div 10"))
      .withColumn("outlier",
        !col("proto") && col("rna") > col("nc") - expr("(nc + 19) div 20"))
      .filter(col("proto") || col("outlier"))
      .select(col("part").cast("long").as("part"), col("vec_id"), col("d2"),
        when(col("proto"), lit("proto")).otherwise(lit("outlier")).as("action"))
      .orderBy(col("part"), col("vec_id"))
  }

  // ------------------------------------------------- URL canonicalization

  /** Deterministic messy-URL synthesis: five variants per document (case
    * games, :80 default port, www prefix, utm_* tracking params, unsorted
    * param order, fragments) over a shared (source, doc_id div 7) page
    * identity — so canonicalization provably collapses them. Synthesized
    * in-query because `documents` carries no URL column (m14's
    * fixture-synthesis pattern); the oracle re-synthesizes from the same
    * arithmetic. */
  private def t43SyntheticUrl: Column = {
    val host = concat(col("source"), lit(".example.com"))
    val path = concat(lit("/doc/"), expr("CAST(doc_id div 7 AS STRING)"))
    val idp = expr("CAST(doc_id % 3 AS STRING)")
    val v = col("doc_id") % 5
    when(v === 0, concat(lit("http://"), host, path))
      .when(v === 1, concat(lit("HTTP://"), upper(host), lit(":80"), path, lit("/")))
      .when(v === 2, concat(lit("http://www."), host, path,
        lit("?utm_source=feed&utm_medium=rss")))
      .when(v === 3, concat(lit("http://"), host, path,
        lit("?id="), idp, lit("&utm_campaign=x#frag")))
      .otherwise(concat(lit("http://"), host, lit(":80"), path,
        lit("?utm_medium=rss&id="), idp))
  }

  /** T43 — URL CANONICALIZATION DEDUPE (the CCNet/FineWeb pre-pass: a
    * crawl's first dedupe key is the canonical URL, long before any
    * content hash): lowercase scheme+host, strip the :80 default port and
    * the www. prefix, drop the fragment, strip trailing slashes (non-root),
    * remove utm_* tracking params and SORT the survivors — then group by
    * the canonical form. Output: the top-15 most-duplicated canonical
    * URLs with raw-count, distinct-form count, and first doc — the
    * syndication/mirror report (d28 says where CONTENT duplication comes
    * from; this says where the crawler burned fetches on the same page).
    * Every step is a plain regexp/string op with the IDENTICAL pattern in
    * both engines (no lookahead — RE2-safe).
    *
    * Scale shape: synthesis + parse + canonicalize are one narrow
    * codegen'd per-row projection; ONE canonical-keyed map-combinable agg;
    * top-15 is TakeOrdered. */
  /** The canonicalization itself, as a composable DataFrame stage over a
    * `url` column (appends `canonical`) — exposed so the spec can drive it
    * on crafted adversarial URLs independent of the query's synthesis. */
  def withCanonicalUrl(df: DataFrame): DataFrame =
    df
      .withColumn("scheme",
        lower(regexp_extract(col("url"), "^([A-Za-z][A-Za-z0-9+.-]*)://", 1)))
      .withColumn("rest",
        regexp_replace(col("url"), "^[A-Za-z][A-Za-z0-9+.-]*://", ""))
      .withColumn("hostport", regexp_extract(col("rest"), "^[^/?#]*", 0))
      .withColumn("host",
        regexp_replace(regexp_replace(lower(col("hostport")), ":80$", ""),
          "^www\\.", ""))
      .withColumn("tail", expr("substring(rest, length(hostport) + 1)"))
      .withColumn("path1",
        regexp_replace(regexp_extract(col("tail"), "^[^?#]*", 0), "/+$", ""))
      .withColumn("path",
        when(length(col("path1")) === 0, lit("/")).otherwise(col("path1")))
      .withColumn("qs", regexp_extract(col("tail"), "\\?([^#]*)", 1))
      .withColumn("keep", array_join(array_sort(
        filter(split(col("qs"), "&"),
          p => length(p) > 0 && !p.startsWith("utm_"))), "&"))
      .withColumn("canonical", concat(col("scheme"), lit("://"), col("host"),
        col("path"),
        when(length(col("keep")) > 0, concat(lit("?"), col("keep")))
          .otherwise(lit(""))))
      .drop("scheme", "rest", "hostport", "host", "tail", "path1", "path", "qs", "keep")

  def t43UrlCanonical(s: SparkSession, d: String): DataFrame =
    withCanonicalUrl(
      documents(s, d)
        .select(col("doc_id"), col("source"))
        .withColumn("url", t43SyntheticUrl))
      .groupBy(col("canonical"))
      .agg(count(lit(1)).as("n_raw"),
        countDistinct(col("url")).as("n_forms"),
        min(col("doc_id")).as("first_doc"))
      .orderBy(col("n_raw").desc, col("canonical"))
      .limit(15)

  // --------------------------------------------------- MOSS winnowing

  private val WinK = 8 // k-gram width (chars)
  private val WinW = 4 // winnowing window (k-grams)
  private val WinP28 = 268435456L // 2^28: h field offset in the window encoding
  private val WinP26 = 67108864L  // 2^26: position field width (docs < 64M chars)

  /** T44 — WINNOWING FINGERPRINTS (Schleimer–Wilkerson–Aiken 2003, the
    * MOSS algorithm — the local-plagiarism / template-reuse detector d12's
    * Manber sampling can't give: winnowing GUARANTEES every shared run of
    * k+w−1 = 11 chars yields at least one shared fingerprint, while mod-p
    * sampling can miss arbitrarily long overlaps): per document, hash all
    * 8-char grams (the [[SampledGramHashes]] kernel at mod 1 — the md5₃₂
    * d12 oracle spelling), then each window of 4 consecutive gram hashes
    * selects its minimum with RIGHTMOST tie-break, encoded arithmetically
    * as min(h·2^28 + (w−j)·2^26 + pos) so one integer min is the whole
    * argmin — no structs, engine-identical. Fingerprint = (hash, position)
    * deduped per doc. Output per source: doc count, total selected
    * fingerprints, distinct gram hashes, hashes shared by ≥ 2 docs, and
    * the shared fraction in bp — the within-feed boilerplate score.
    *
    * Scale shape: gram hashing runs in the native kernel (one md5 per
    * window — THE cost at corpus scale); the winnow itself is O(chars·w)
    * per row, narrow; the per-doc frame is materialized once for its two
    * consumers (totals + the hash-explode, g09's rule); aggs are
    * (source)- and (source, hash)-keyed and map-combinable. */
  /** Winnowed fingerprint ids of a text column: array of DISTINCT
    * fid = h·2^26 + position (1-based gram position), h = md5₃₂ of the
    * 8-char gram — the fused native kernel
    * ([[graft.plans.WinnowedFingerprints]], whose scaladoc carries the
    * composable HOF contract the DuckDB oracle still runs; the HOF
    * spelling measured 31 s at sf0.1, the kernel ~1 s). Exposed so the
    * spec can drive the MOSS guarantee on crafted strings. */
  def winnowFids(text: Column): Column =
    graft.plans.WinnowedFingerprints(text, WinK, WinW)

  def t44Winnowing(s: SparkSession, d: String): DataFrame = {
    val pd = documents(s, d)
      .select(col("doc_id"), col("source"), winnowFids(col("text")).as("fids"))
      // null-text docs pin to n_sel = 0 independent of the ANSI/legacy
      // size(null) config (ANSI yields null — which would propagate
      // through sum() and diverge from the oracle's coalesce-to-0 path on
      // an all-null-text source; legacy yields -1, which coalesce would
      // NOT catch — hence the explicit null test)
      .select(col("doc_id"), col("source"),
        when(col("fids").isNull, lit(0)).otherwise(size(col("fids"))).as("n_sel"),
        array_distinct(transform(col("fids"), f => shiftright(f, 26))).as("hset"))
      .localCheckpoint(false) // totals agg + hash explode both read this
    val a = pd.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_sel")).as("total_sel"))
    val b = pd.select(col("source"), explode(col("hset")).as("h"))
      .groupBy(col("source"), col("h")).agg(count(lit(1)).as("nd"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_hashes"),
        coalesce(sum(when(col("nd") >= 2, 1L)), lit(0L)).as("n_shared"))
    a.join(b, Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("total_sel"),
        coalesce(col("n_hashes"), lit(0L)).as("n_hashes"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"))
      .withColumn("shared_bp",
        expr("n_shared * 10000 div greatest(n_hashes, 1L)"))
      .orderBy(col("source"))
  }

  /** T45 — INTERPOLATED KNESER–NEY bigram surprisal, exact-integer form
    * (Kneser & Ney 1995; Chen & Goodman 1998 found it the strongest
    * n-gram smoothing — t35's stupid backoff is the cheap web-scale
    * stand-in, THIS is the model a perplexity-based quality filter
    * actually wants): with discount d = 3/4,
    *   p(w|u) = max(c(uw)−d, 0)/c(u) + d·N₁₊(u·)/c(u) · N₁₊(·w)/T
    * — the continuation counts N₁₊ are the whole point: "Francisco" is
    * frequent but follows only "San", so its UNIGRAM weight must be its
    * distinct-left-context count, not its frequency. Multiplying through
    * by 4·c(u)·T clears every denominator:
    *   num = max(4c(uw)−3, 0)·T + 3·N₁₊(u·)·N₁₊(·w),  den = 4·c(u)·T
    * (num ≤ den, both ≥ 1 on observed bigrams), and the surprisal is
    * ilog16(den) − ilog16(num) in 1/16-log₂ units — integer-exact and
    * hash-identical cross-engine, no float log anywhere. Output per
    * source: bigram mass, singleton share (the novelty rate), total and
    * mean surprisal in milli-bits — the corpus-fluency ranking a mix
    * designer reads next to t34's divergence. BIGINT headroom: den ≤
    * 4·c(u)·T needs c(u)·T < 2⁶⁰; past ~10⁹ contexts × 10⁹ types the
    * accumulators widen to DECIMAL(38), dq10's discipline.
    *
    * Scale shape: ONE corpus explode → (source,u,w)-keyed map-combinable
    * agg, materialized for its two consumers (model build + score join,
    * g09's rule); every model frame (c(uw), u-stats, w-stats) is
    * VOCAB-sized and flows through hash aggs/joins, never broadcast
    * (t11's rule) — only the 1-row type total broadcasts; the score join
    * is vocab-sized ⋈ vocab-sized on (u,w). */
  def t45KneserNey(s: SparkSession, d: String): DataFrame = {
    val occ = documents(s, d)
      .select(col("source"),
        expr("""filter(split(trim(lower(coalesce(text, ''))), '\\s+'),
               |       x -> length(x) > 0)""".stripMargin).as("ws"))
      .select(col("source"), explode(expr(
        """CASE WHEN size(ws) >= 2
          |  THEN transform(sequence(1, size(ws) - 1),
          |    i -> struct(element_at(ws, i) AS u, element_at(ws, i + 1) AS w))
          |  ELSE array() END""".stripMargin)).as("p"))
      .select(col("source"), col("p.u").as("u"), col("p.w").as("w"))
      .groupBy(col("source"), col("u"), col("w")).agg(count(lit(1)).as("c"))
      .localCheckpoint(false) // model build + score join both read this
    val cuw = occ.groupBy(col("u"), col("w")).agg(sum(col("c")).as("cuw"))
      .localCheckpoint(false) // u-stats, w-stats, T and the score frame
    val ustats = cuw.groupBy(col("u"))
      .agg(sum(col("cuw")).as("cu"), count(lit(1)).as("n1u"))
    val wstats = cuw.groupBy(col("w")).agg(count(lit(1)).as("n1w"))
    val tot = cuw.agg(count(lit(1)).as("tt"))
    val scored = cuw.join(ustats, Seq("u")).join(wstats, Seq("w"))
      .crossJoin(broadcast(tot))
      .selectExpr("u", "w", "cuw",
        "greatest(4 * cuw - 3, 0L) * tt + 3 * n1u * n1w AS num",
        "4 * cu * tt AS den")
      .selectExpr("u", "w", "cuw",
        s"CAST(${ilog16("den")} - ${ilog16("num")} AS BIGINT) AS s16")
    occ.join(scored, Seq("u", "w"))
      .groupBy(col("source"))
      .agg(sum(col("c")).as("n_bigrams"),
        coalesce(sum(when(col("cuw") === 1L, col("c"))), lit(0L)).as("n_singleton"),
        sum(expr("c * s16")).as("sum_s16"))
      .withColumn("mean_milli_bits",
        expr("sum_s16 * 1000 div (16 * n_bigrams)"))
      .orderBy(col("source"))
  }

  /** T46 — SEQUENCE-PACKING MANIFEST (GPT-style straddle pack): assign
    * every document its position in the fixed-length training sequences a
    * trainer will see — concatenate the corpus in doc_id order, split at
    * exact L-token boundaries, documents straddle (the GPT-2/3 pretraining
    * pack; Brown et al. 2020 §2.1 — sequences are filled to capacity and
    * document boundaries ride an EOT token, not padding). Per doc:
    * n_tokens (t03's regex tier — the proven cross-engine tokenizer),
    * seq_first/seq_last (the sequence ids its tokens land in), offset
    * within its first sequence, and the straddle flag. This is the
    * SEQUENCE-level step between t25's shard-level mix execution and the
    * trainer — the manifest a data loader uses to seek, and the audit for
    * "how many docs straddle a boundary" (attention-mask hygiene).
    *
    * Scale shape: the naive spelling is SUM() OVER (ORDER BY doc_id) — a
    * SinglePartition window, the canonical does-not-scale shape. The
    * global EXCLUSIVE prefix sum rides [[GlobalRank.withGlobalPrefixSum]]
    * (TeraSort pattern): one range shuffle, one narrow local-cumsum pass,
    * O(partitions) totals to the driver, offset + local. All integers —
    * boundary math is div/mod on BIGINTs, hash-exact vs the oracle's
    * windowed CTE (DuckDB can afford the single-partition window at
    * oracle scale; the ENGINE must not). */
  def t46SequencePack(s: SparkSession, d: String): DataFrame = {
    val L = 2048L
    val toks = documents(s, d).select(col("doc_id"),
      graft.operators.TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
    GlobalRank.withGlobalPrefixSum(toks, Seq(col("doc_id")), col("n_tokens"), "cum_before")
      .selectExpr("doc_id", "n_tokens",
        s"cum_before div $L AS seq_first",
        s"(cum_before + CASE WHEN n_tokens > 0 THEN n_tokens - 1 ELSE 0 END) div $L AS seq_last",
        s"cum_before % $L AS offset_in_seq")
      .withColumn("straddles",
        expr("CAST(CASE WHEN seq_first <> seq_last THEN 1 ELSE 0 END AS BIGINT)"))
      .orderBy(col("doc_id"))
  }

  /** S18 — SEMANTIC CONTAMINATION AUDIT (the embedding-space half of
    * decontamination: t13/t24 catch n-gram overlap between train and
    * eval, but a PARAPHRASED eval item shares no 8-gram — its nearest
    * train neighbor in embedding space is how it gets caught; the
    * protocol of the GPT-3/PaLM contamination appendices upgraded to
    * dense retrieval): for every held-out eval vector (vec_id % 50 = 0,
    * t07's content-hash-split discipline — never rand()), the exact
    * nearest train vector by cosine, reported as (eval_id, nn_train_id,
    * cos_milli, contaminated @ ≥ 0.950) — the per-item evidence list a
    * release review reads, not just a rate.
    *
    * Scale shape: the EVAL set is a fixed benchmark artifact — bounded
    * by construction, not corpus-scaled — so it broadcasts and the train
    * side stays a narrow scan (one pass, no shuffle); per-eval argmax is
    * max(struct(score, −id)) — one map-combinable agg, g08's argmax
    * rule, never a corpus-wide window. Cosine runs in the native kernel;
    * floor(score·1000) is deterministic cross-engine under the
    * index-order fold contract (s01's rule). */
  def s18SemanticContamination(s: SparkSession, d: String): DataFrame = {
    import graft.plans.VectorExpressions.cosineSim
    val emb = embeddings(s, d).select(col("vec_id"), col("embedding"))
    val ev = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("eval_id"), col("embedding").as("qv"))
    emb.filter(col("vec_id") % 50 =!= 0)
      .crossJoin(broadcast(ev))
      .select(col("eval_id"), col("vec_id"),
        cosineSim(col("embedding"), col("qv")).as("score"))
      .filter(col("score").isNotNull) // zero-norm vectors can't contaminate
      .groupBy(col("eval_id"))
      .agg(max(struct(col("score"), (-col("vec_id")).as("nid"))).as("m"))
      .selectExpr("eval_id", "-m.nid AS nn_train_id",
        "CAST(floor(m.score * 1000) AS BIGINT) AS cos_milli")
      .withColumn("contaminated", (col("cos_milli") >= 950).cast("int"))
      .orderBy(col("eval_id"))
  }

  /** S19 — MARGIN-BASED BITEXT MINING (Artetxe & Schwenk 2019, the
    * LASER/CCMatrix recipe that built the largest public parallel
    * corpora): candidate translation pairs between the en and de slices
    * scored by the RATIO margin — cos(x,y) normalized by the mean of
    * each side's k-NN cosines (k = 4) — because absolute cosine is
    * uncalibrated across hubness regions: a hub vector scores high
    * against EVERYTHING, and dividing by its neighborhood mean is what
    * makes scores comparable corpus-wide. Forward mining: each en doc
    * nominates its best-margin de doc; global top-20 nominations
    * reported with cos and margin in milli.
    *
    * Float discipline: the k-NN mean folds the 4 cosines in RANK order
    * from a rank-sorted array (collect_list → array_sort(struct(rk,c))
    * → left fold ÷ 4.0) — the q48/q80 identical-fold contract; an
    * unordered AVG of doubles would be engine-order-dependent and never
    * hash. margin = c·2/(ax+ay) and the ·1000 floors are then
    * deterministic on identical doubles.
    *
    * CANDIDATE GATE (the declared semantics): pairs are
    * generated through the s02 sign-LSH index — an en/de doc pair is a
    * candidate iff it collides in ANY of the 4 hash tables (3 seeded
    * hyperplane signs each, seeds 42..45, Similarity.lshTables — the
    * SAME tables s02AnnLsh queries), and both k-NN means and the margin
    * are computed exactly OVER THE CANDIDATE UNION. This is the
    * production mining recipe (Artetxe & Schwenk 2019 §3 compute the
    * k-NN means from the retrieved-neighbor set of a FAISS index — the
    * reference's own LanceDB posture, create_lancedb_index.py:138-148:
    * indexes, never brute force), declared deterministically so the
    * DuckDB oracle replays the identical buckets from embedded plane
    * literals. Why not an exact-parity blocking: the fixture embeddings
    * are ISOTROPIC (measured at sf0.1: median pair cos 0.0005, per-doc
    * top-4 mean cos ≈ 0.36) — on isotropic data any blocking that keeps
    * the exact top-20 must enumerate ~all pairs (no cosine gap for LSH /
    * IVF to exploit), so the exact cross join is the only formulation
    * that reproduces itself, and it is quadratic. The spec measures what
    * the gate keeps (pair-cosine equality with the exact frame; top-20
    * overlap floor) on the fixture. Config-robustness sweep
    * (SelectionQueriesSpec "s19 gate robustness", 3 configs × 2 regimes):
    * isotropic fixture 4×3 → frac .42/ret 9/20, 8×3 → .66/17, 8×4 →
    * .42/10; clustered synthetic bitext 4×3 → .65/19, 8×3 → .81/20,
    * 8×4 → .63/20. The shipped 4×3 keeps the production (clustered)
    * regime near-fully at ~2/3 the candidate volume; 8×3 is the measured
    * quality-upgrade knob if anisotropy ever matters more than cost.
    *
    * Scale shape: candidate generation is an equi-join on (tbl, bucket)
    * — the only join shape that survives 100 TB; the pair frame shrinks
    * from |en|·|de| to the colliding fraction (≈ 4/2³ here; at scale
    * nPlanes grows with log n to hold the per-bucket load constant, the
    * standard LSH tuning). The candidate frame is materialized ONCE for
    * its three consumers (both k-NN means + the margin join, g09's
    * rule); per-side k-NN is a key-partitioned window; top-20 is
    * TakeOrdered. No product join anywhere (plan-pinned). */
  /** s19's candidate frame (xid, yid, c) BEFORE the multi-consumer
    * checkpoint — exposed so PlanShapeSpec can pin the bucket equi-join
    * shape (the checkpoint hides the candidate stage from the final
    * plan). */
  private[graft] def s19CandidatePairs(s: SparkSession, d: String): DataFrame = {
    import graft.plans.VectorExpressions.cosineSim
    import graft.operators.Similarity
    def side(lang: String, idc: String, vc: String): DataFrame =
      documents(s, d).filter(col("lang") === lang)
        .select(col("doc_id").as(idc))
        .join(embeddings(s, d), col(idc) === col("vec_id"))
        .select(col(idc), col("embedding").as(vc))
    def banded(df: DataFrame, idc: String, vc: String): DataFrame = df
      .select(col(idc), col(vc),
        explode(Similarity.lshTables(col(vc), dim = 64, nPlanes = 3,
          nTables = 4)).as("tb"))
      .select(col(idc), col(vc), col("tb.tbl").as("tbl"),
        col("tb.bucket").as("bucket"))
    banded(side("en", "xid", "xv"), "xid", "xv")
      .join(banded(side("de", "yid", "yv"), "yid", "yv"), Seq("tbl", "bucket"))
      .select(col("xid"), col("yid"), cosineSim(col("xv"), col("yv")).as("c"))
      .filter(col("c").isNotNull)
      .distinct() // a pair may collide in several tables (s02's rule)
  }

  def s19BitextMining(s: SparkSession, d: String): DataFrame = {
    val pairs = s19CandidatePairs(s, d)
      .localCheckpoint(false) // both k-NN means + the margin join read this
    def kAvg(key: String, other: String, out: String): DataFrame = {
      val w = Window.partitionBy(col(key)).orderBy(col("c").desc, col(other))
      pairs.withColumn("rk", row_number().over(w)).filter(col("rk") <= 4)
        .groupBy(col(key))
        .agg((expr(
          "aggregate(array_sort(collect_list(struct(rk, c))), CAST(0.0 AS DOUBLE), (a, x) -> a + x.c)")
          / 4.0).as(out))
    }
    // forward top-1 per x as ONE partial-aggregable argmax (g08's rule —
    // max(struct(margin, −yid, payload)) replaces a third 1.5M-row
    // window sort; the k-NN mean frames are side-sized so AQE broadcasts
    // them and the margin projection rides the checkpoint blocks)
    pairs
      .join(kAvg("xid", "yid", "ax"), Seq("xid"))
      .join(kAvg("yid", "xid", "ay"), Seq("yid"))
      .withColumn("margin", col("c") * 2.0 / (col("ax") + col("ay")))
      .groupBy(col("xid"))
      .agg(max(struct(col("margin"), (-col("yid")).as("ny"), col("c"))).as("m"))
      .select(col("xid"), (-col("m.ny")).as("yid"),
        col("m.c").as("c"), col("m.margin").as("margin"))
      .orderBy(col("margin").desc, col("xid")).limit(20)
      .selectExpr("xid", "yid",
        "CAST(floor(c * 1000) AS BIGINT) AS cos_milli",
        "CAST(floor(margin * 1000) AS BIGINT) AS margin_milli")
  }

  val queries: Map[String, Q] = Map(
    "s19_bitext_mining" -> s19BitextMining,
    "s18_semantic_contamination" -> s18SemanticContamination,
    "t45_kneser_ney" -> t45KneserNey,
    "t46_sequence_pack" -> t46SequencePack,
    "s16_kmeans_refine" -> s16KmeansRefine,
    "s17_d4_prune" -> s17D4Prune,
    "t43_url_canonical" -> t43UrlCanonical,
    "t44_winnowing" -> t44Winnowing,
    "t41_dsir_weights" -> t41DsirWeights,
    "q83_aqp_estimate" -> q83AqpEstimate,
    "p05_skipping_index" -> p05SkippingIndex,
    "t42_vocab_coverage" -> t42VocabCoverage,
    "m14_jpeg_quality" -> m14JpegQuality,
    "dq13_dp_release" -> dq13DpRelease,
    "s15_ivf_balance" -> s15IvfBalance)

  // ----------------------------------------------------------- oracle SQL

  private val wordsSql = """regexp_split_to_array(trim(lower(text)), '\s+')"""
  private val md5Sql = (v: String) =>
    s"CAST(concat('0x', substr(md5($v), 1, 8)) AS BIGINT)"
  private val ilog16Sql = (x: String) =>
    s"""(16 * (length(bin($x)) - 1)
       | + ($x) * 16 // CAST(power(2, length(bin($x)) - 1) AS BIGINT)
       | - 16)""".stripMargin
  private val bigramSql =
    "list_transform(generate_series(1, len(w) - 1), i -> w[i] || ' ' || w[i+1])"

  /** Integer L2² between two BIGINT lists — order-independent (integer
    * addition), so no fold-order contract is needed. */
  private def kmDistSql(a: String, b: String): String =
    s"list_sum(list_transform(generate_series(1, len($a)), i -> ($a[i] - $b[i]) * ($a[i] - $b[i])))"

  /** Shared Lloyd-k-means CTE chain mirroring [[kmFit]] exactly —
    * quantize → seed c0 → 3× (assign aN → integer-mean update cN, empty
    * clusters coalescing to the previous centroid) → final assignment
    * `a4(vec_id, part, d2)` against `c3(part, cv)`. Interpolated by BOTH
    * the s16 and s17 oracles so the pruned set cannot drift from the
    * clustering (the lpaCtes/ivfBuildCtes rule). */
  private[queries] def kmeansCtes: String = {
    def assignCte(name: String, cent: String) =
      s"""$name AS (
            SELECT vec_id, qv, part FROM (
              SELECT v.vec_id, v.qv, c.part,
                     row_number() OVER (PARTITION BY v.vec_id
                       ORDER BY ${kmDistSql("v.qv", "c.cv")}, c.part) AS rn
              FROM vq v CROSS JOIN $cent c) s
            WHERE rn = 1
          )"""
    def updateCtes(n: Int) =
      s"""c${n}n AS (
            SELECT part, list(cd ORDER BY pos) AS cv FROM (
              SELECT a.part, p.pos,
                     CAST(sum(a.qv[p.pos]) // count(*) AS BIGINT) AS cd
              FROM a$n a,
                   LATERAL (SELECT unnest(generate_series(1, len(a.qv))) AS pos) p
              GROUP BY a.part, p.pos) t
            GROUP BY part
          ), c$n AS (
            SELECT c.part, coalesce(n.cv, c.cv) AS cv
            FROM c${n - 1} c LEFT JOIN c${n}n n USING (part)
          )"""
    s"""vq AS (
          SELECT vec_id,
                 list_transform(embedding,
                   x -> greatest(0, least(2048,
                     CAST(round(CAST(x AS DOUBLE) * 1024) + 1024 AS BIGINT)))) AS qv
          FROM embeddings WHERE embedding IS NOT NULL
        ), c0 AS (
          SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS part,
                 qv AS cv
          FROM (SELECT vec_id, qv FROM vq ORDER BY vec_id LIMIT $KmK) t
        ), ${assignCte("a1", "c0")}, ${updateCtes(1)},
        ${assignCte("a2", "c1")}, ${updateCtes(2)},
        ${assignCte("a3", "c2")}, ${updateCtes(3)},
        a4 AS (
          SELECT vec_id, part, d2 FROM (
            SELECT dd.vec_id, dd.part, dd.d2,
                   row_number() OVER (PARTITION BY dd.vec_id
                     ORDER BY dd.d2, dd.part) AS rn
            FROM (SELECT v.vec_id, c.part, ${kmDistSql("v.qv", "c.cv")} AS d2
                  FROM vq v CROSS JOIN c3 c) dd) s
          WHERE rn = 1
        )"""
  }

  private val t43UrlSql =
    """CASE doc_id % 5
         WHEN 0 THEN 'http://' || source || '.example.com/doc/' || CAST(doc_id // 7 AS VARCHAR)
         WHEN 1 THEN 'HTTP://' || upper(source || '.example.com') || ':80/doc/' || CAST(doc_id // 7 AS VARCHAR) || '/'
         WHEN 2 THEN 'http://www.' || source || '.example.com/doc/' || CAST(doc_id // 7 AS VARCHAR) || '?utm_source=feed&utm_medium=rss'
         WHEN 3 THEN 'http://' || source || '.example.com/doc/' || CAST(doc_id // 7 AS VARCHAR) || '?id=' || CAST(doc_id % 3 AS VARCHAR) || '&utm_campaign=x#frag'
         ELSE 'http://' || source || '.example.com:80/doc/' || CAST(doc_id // 7 AS VARCHAR) || '?utm_medium=rss&id=' || CAST(doc_id % 3 AS VARCHAR)
       END"""


  /** The s19 candidate gate's per-table sign bucket in DuckDB SQL — the
    * SAME seeded plane family as s02 (dim 64, 3 planes/table, seeds 42+t,
    * [[graft.queries.LlmQueries.lshBucketSql]] embedding the literals), so
    * the oracle replays the engine's Similarity.lshTables bit-for-bit. */
  private def s19BucketCase(v: String): String = (0 until 4).map { t =>
    s"WHEN t.tbl = $t THEN ${LlmQueries.lshBucketSql(v, 64, 3, 42L + t)}"
  }.mkString("CASE ", " ", " END")

  val oracle: Map[String, String] = Map(
    "s19_bitext_mining" ->
      s"""WITH xs AS (
            SELECT d.doc_id AS xid, e.embedding AS xv
            FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
            WHERE d.lang = 'en'
          ), ys AS (
            SELECT d.doc_id AS yid, e.embedding AS yv
            FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
            WHERE d.lang = 'de'
          ), xb AS (
            SELECT xid, xv, t.tbl, ${s19BucketCase("xv")} AS bucket
            FROM xs, LATERAL (SELECT unnest([0, 1, 2, 3]) AS tbl) t
          ), yb AS (
            SELECT yid, yv, t.tbl, ${s19BucketCase("yv")} AS bucket
            FROM ys, LATERAL (SELECT unnest([0, 1, 2, 3]) AS tbl) t
          ), pr0 AS (
            SELECT DISTINCT x.xid, y.yid, ${cosSql("x.xv", "y.yv")} AS c
            FROM xb x JOIN yb y ON x.tbl = y.tbl AND x.bucket = y.bucket
          ), pr AS (
            SELECT * FROM pr0 WHERE c IS NOT NULL
          ), axs AS (
            SELECT xid, list_reduce(list(c ORDER BY rk), (a, b) -> a + b) / 4.0 AS ax
            FROM (SELECT xid, c,
                         row_number() OVER (PARTITION BY xid
                           ORDER BY c DESC, yid) AS rk
                  FROM pr) t
            WHERE rk <= 4 GROUP BY xid
          ), ays AS (
            SELECT yid, list_reduce(list(c ORDER BY rk), (a, b) -> a + b) / 4.0 AS ay
            FROM (SELECT yid, c,
                         row_number() OVER (PARTITION BY yid
                           ORDER BY c DESC, xid) AS rk
                  FROM pr) t
            WHERE rk <= 4 GROUP BY yid
          ), sc AS (
            SELECT p.xid, p.yid, p.c, p.c * 2.0 / (axs.ax + ays.ay) AS margin
            FROM pr p JOIN axs USING (xid) JOIN ays USING (yid)
          ), top1 AS (
            SELECT xid, yid, c, margin,
                   row_number() OVER (PARTITION BY xid
                     ORDER BY margin DESC, yid) AS rn
            FROM sc
          )
          SELECT xid, yid, CAST(floor(c * 1000) AS BIGINT) AS cos_milli,
                 CAST(floor(margin * 1000) AS BIGINT) AS margin_milli
          FROM top1 WHERE rn = 1
          ORDER BY margin DESC, xid LIMIT 20""",
    "s18_semantic_contamination" ->
      s"""WITH ev AS (
            SELECT vec_id AS eval_id, embedding AS qv
            FROM embeddings WHERE vec_id % 50 = 0
          ), sc AS (
            SELECT e.eval_id, t.vec_id,
                   ${cosSql("t.embedding", "e.qv")} AS score
            FROM (SELECT vec_id, embedding FROM embeddings
                  WHERE vec_id % 50 <> 0) t
            CROSS JOIN ev e
          ), r AS (
            SELECT eval_id, vec_id, score,
                   row_number() OVER (PARTITION BY eval_id
                     ORDER BY score DESC, vec_id) AS rn
            FROM sc WHERE score IS NOT NULL
          )
          SELECT eval_id, vec_id AS nn_train_id,
                 CAST(floor(score * 1000) AS BIGINT) AS cos_milli,
                 CAST(CASE WHEN floor(score * 1000) >= 950 THEN 1 ELSE 0 END
                   AS INTEGER) AS contaminated
          FROM r WHERE rn = 1 ORDER BY eval_id""",
    "t46_sequence_pack" ->
      """WITH toks AS (
           SELECT doc_id,
                  CASE WHEN text IS NULL OR length(text) = 0 THEN CAST(0 AS BIGINT)
                       ELSE CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) END AS n_tokens
           FROM documents
         ), c AS (
           SELECT doc_id, n_tokens,
                  -- DuckDB SUM(BIGINT) is HUGEINT; cast back so every
                  -- derived column hashes as int64 like the engine's
                  CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
           FROM toks
         )
         SELECT doc_id, n_tokens,
                cum_before // 2048 AS seq_first,
                (cum_before + CASE WHEN n_tokens > 0 THEN n_tokens - 1 ELSE 0 END) // 2048 AS seq_last,
                cum_before % 2048 AS offset_in_seq,
                CAST(CASE WHEN cum_before // 2048 <>
                  (cum_before + CASE WHEN n_tokens > 0 THEN n_tokens - 1 ELSE 0 END) // 2048
                  THEN 1 ELSE 0 END AS BIGINT) AS straddles
         FROM c ORDER BY doc_id""",
    "t45_kneser_ney" ->
      s"""WITH tok AS (
            SELECT source, list_filter($wordsSql, x -> length(x) > 0) AS w
            FROM documents
          ), occ AS (
            SELECT source, u, w2, count(*) AS c FROM (
              SELECT source, w[i.i] AS u, w[i.i + 1] AS w2
              FROM tok,
                   LATERAL (SELECT unnest(generate_series(1, len(w) - 1)) AS i) i
              WHERE len(w) >= 2) t
            GROUP BY source, u, w2
          ), cuw AS (
            SELECT u, w2, CAST(sum(c) AS BIGINT) AS cuw FROM occ GROUP BY u, w2
          ), us AS (
            SELECT u, CAST(sum(cuw) AS BIGINT) AS cu, count(*) AS n1u
            FROM cuw GROUP BY u
          ), wst AS (
            SELECT w2, count(*) AS n1w FROM cuw GROUP BY w2
          ), tot AS (SELECT count(*) AS tt FROM cuw
          ), sc AS (
            SELECT c2.u, c2.w2, c2.cuw,
                   ${ilog16Sql("CAST(4 * cu * tt AS BIGINT)")}
                   - ${ilog16Sql(
               "CAST(GREATEST(4 * cuw - 3, 0) * tt + 3 * n1u * n1w AS BIGINT)")}
                     AS s16
            FROM cuw c2 JOIN us USING (u) JOIN wst USING (w2), tot
          )
          SELECT o.source, CAST(sum(o.c) AS BIGINT) AS n_bigrams,
                 CAST(coalesce(sum(CASE WHEN sc.cuw = 1 THEN o.c END), 0)
                   AS BIGINT) AS n_singleton,
                 CAST(sum(o.c * sc.s16) AS BIGINT) AS sum_s16,
                 CAST(sum(o.c * sc.s16) * 1000 // (16 * sum(o.c)) AS BIGINT)
                   AS mean_milli_bits
          FROM occ o JOIN sc ON sc.u = o.u AND sc.w2 = o.w2
          GROUP BY o.source ORDER BY o.source""",
    "s16_kmeans_refine" ->
      s"""WITH $kmeansCtes, per AS (
            SELECT part, count(*) AS n, sum(d2) AS inertia FROM a4 GROUP BY part
          )
          SELECT CAST(c.part AS BIGINT) AS part,
                 CAST(coalesce(p.n, 0) AS BIGINT) AS n,
                 CAST(coalesce(p.inertia, 0) AS BIGINT) AS inertia,
                 CAST(list_sum(c.cv) AS BIGINT) AS c_l1
          FROM c3 c LEFT JOIN per p USING (part)
          ORDER BY part""",
    "s17_d4_prune" ->
      s"""WITH $kmeansCtes, r AS (
            SELECT vec_id, part, d2,
                   row_number() OVER (PARTITION BY part
                     ORDER BY d2, vec_id) AS rna,
                   count(*) OVER (PARTITION BY part) AS nc
            FROM a4
          )
          SELECT CAST(part AS BIGINT) AS part, CAST(vec_id AS BIGINT) AS vec_id,
                 CAST(d2 AS BIGINT) AS d2,
                 CASE WHEN rna <= (nc + 9) // 10 THEN 'proto'
                      ELSE 'outlier' END AS action
          FROM r
          WHERE rna <= (nc + 9) // 10
             OR (rna > nc - (nc + 19) // 20 AND rna > (nc + 9) // 10)
          ORDER BY part, vec_id""",
    "t43_url_canonical" ->
      s"""WITH raw AS (
            SELECT doc_id, source, $t43UrlSql AS url FROM documents
          ), p1 AS (
            SELECT doc_id, url,
                   lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
                   regexp_replace(url, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest
            FROM raw
          ), p2 AS (
            SELECT doc_id, url, scheme, rest,
                   regexp_extract(rest, '^[^/?#]*') AS hostport
            FROM p1
          ), p3 AS (
            SELECT doc_id, url, scheme,
                   regexp_replace(regexp_replace(lower(hostport), ':80$$', ''),
                                  '^www\\.', '') AS host,
                   substr(rest, length(hostport) + 1) AS tail
            FROM p2
          ), p4 AS (
            SELECT doc_id, url, scheme, host,
                   CASE WHEN length(regexp_replace(regexp_extract(tail, '^[^?#]*'),
                                                   '/+$$', '')) = 0 THEN '/'
                        ELSE regexp_replace(regexp_extract(tail, '^[^?#]*'),
                                            '/+$$', '') END AS path,
                   array_to_string(list_sort(list_filter(
                       string_split(regexp_extract(tail, '\\?([^#]*)', 1), '&'),
                       p -> length(p) > 0 AND NOT starts_with(p, 'utm_'))),
                     '&') AS keep
            FROM p3
          ), canon AS (
            SELECT doc_id, url,
                   scheme || '://' || host || path ||
                   CASE WHEN length(keep) > 0 THEN '?' || keep ELSE '' END AS canonical
            FROM p4
          )
          SELECT canonical, CAST(count(*) AS BIGINT) AS n_raw,
                 CAST(count(DISTINCT url) AS BIGINT) AS n_forms,
                 CAST(min(doc_id) AS BIGINT) AS first_doc
          FROM canon GROUP BY canonical
          ORDER BY n_raw DESC, canonical LIMIT 15""",
    "t44_winnowing" ->
      s"""WITH hsx AS (
            SELECT doc_id, source,
                   list(CAST(concat('0x', substr(md5(substr(text, i.i, $WinK)), 1, 8))
                             AS BIGINT) ORDER BY i.i) AS hs
            FROM documents,
                 LATERAL (SELECT unnest(generate_series(1, length(text) - ${WinK - 1}))
                          AS i) i
            WHERE length(text) >= $WinK
            GROUP BY doc_id, source
          ), win AS (
            SELECT doc_id, source,
                   CASE WHEN len(hs) >= $WinW THEN
                     list_distinct(list_transform(
                       list_transform(generate_series(1, len(hs) - ${WinW - 1}),
                         p -> list_min(list_transform(generate_series(1, $WinW),
                           j -> hs[p + j - 1] * $WinP28 +
                                ($WinW - j) * $WinP26 + (p + j - 1)))),
                       e -> (e // $WinP28) * $WinP26 + (e % $WinP26)))
                   ELSE CAST([] AS BIGINT[]) END AS fids
            FROM hsx
          ), pd AS (
            SELECT d.doc_id, d.source,
                   coalesce(len(w.fids), 0) AS n_sel,
                   coalesce(list_distinct(list_transform(w.fids, f -> f // $WinP26)),
                            CAST([] AS BIGINT[])) AS hset
            FROM documents d LEFT JOIN win w ON w.doc_id = d.doc_id
          ), a AS (
            SELECT source, count(*) AS n_docs, sum(n_sel) AS total_sel
            FROM pd GROUP BY source
          ), hx AS (
            SELECT source, h, count(*) AS nd
            FROM (SELECT source, unnest(hset) AS h FROM pd) t
            GROUP BY source, h
          ), b AS (
            SELECT source, count(*) AS n_hashes,
                   coalesce(sum(CASE WHEN nd >= 2 THEN 1 END), 0) AS n_shared
            FROM hx GROUP BY source
          )
          SELECT a.source, CAST(a.n_docs AS BIGINT) AS n_docs,
                 CAST(a.total_sel AS BIGINT) AS total_sel,
                 CAST(coalesce(b.n_hashes, 0) AS BIGINT) AS n_hashes,
                 CAST(coalesce(b.n_shared, 0) AS BIGINT) AS n_shared,
                 CAST(coalesce(b.n_shared, 0) * 10000
                      // GREATEST(coalesce(b.n_hashes, 0), 1) AS BIGINT) AS shared_bp
          FROM a LEFT JOIN b ON b.source = a.source
          ORDER BY a.source""",
    "t41_dsir_weights" ->
      s"""WITH tw AS (
            SELECT doc_id, source, lang, ${md5Sql("f")} % $B AS b
            FROM (SELECT doc_id, source, lang,
                         unnest(list_concat(w, $bigramSql)) AS f
                  FROM (SELECT doc_id, source, lang,
                               list_filter($wordsSql, x -> length(x) > 0) AS w
                        FROM documents) t0) t
          ), pd AS (
            SELECT doc_id, source, lang, b, count(*) AS c
            FROM tw GROUP BY doc_id, source, lang, b
          ), bt AS (
            SELECT b, sum(c) AS cr,
                   coalesce(sum(c) FILTER (WHERE lang = 'en'), 0) AS ct
            FROM pd GROUP BY b
          ), tot AS (SELECT sum(cr) AS tr, sum(ct) AS tt FROM bt
          ), wk AS (
            SELECT b, ${ilog16Sql("ct + 1")} - ${ilog16Sql("cr + 1")}
                      + ${ilog16Sql(s"tr + $B")} - ${ilog16Sql(s"tt + $B")} AS wb
            FROM bt, tot
          )
          SELECT p.doc_id, p.source, p.lang,
                 CAST(sum(p.c) AS BIGINT) AS n_features,
                 CAST(sum(p.c * wk.wb) AS BIGINT) AS score
          FROM pd p JOIN wk USING (b)
          GROUP BY p.doc_id, p.source, p.lang
          ORDER BY score DESC, p.doc_id LIMIT 25""",
    "q83_aqp_estimate" ->
      s"""WITH base AS (
            SELECT l_returnflag,
                   CAST(floor(l_extendedprice * 100) AS BIGINT) AS cents,
                   ${md5Sql(
               "CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR)")}
                     % 16 AS h
            FROM lineitem
          )
          SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
                 CAST(sum(cents) AS BIGINT) AS true_cents,
                 CAST(coalesce(count(*) FILTER (WHERE h = 0), 0) AS BIGINT)
                   AS n_sample,
                 CAST(coalesce(sum(cents) FILTER (WHERE h = 0), 0) * 16
                   AS BIGINT) AS est_cents,
                 CAST(abs(coalesce(sum(cents) FILTER (WHERE h = 0), 0) * 16
                          - sum(cents)) * 10000 // sum(cents) AS BIGINT)
                   AS err_bp
          FROM base GROUP BY l_returnflag ORDER BY l_returnflag""",
    "p05_skipping_index" ->
      """WITH base AS (
            SELECT doc_id, coalesce(n_chars, 0) AS sz FROM documents
          ), lay AS (
            SELECT 'ingest' AS layout, doc_id // 64 AS f, sz FROM base
            UNION ALL
            SELECT 'clustered' AS layout,
                   (row_number() OVER (ORDER BY sz, doc_id) - 1) // 64 AS f, sz
            FROM base
          ), grid AS (SELECT unnest([200, 300, 400]) AS threshold
          ), files AS (
            SELECT layout, f, count(*) AS cnt, max(sz) AS fmax
            FROM lay GROUP BY layout, f
          ), matched AS (
            SELECT layout, f, threshold, count(*) AS m
            FROM lay, grid WHERE sz >= threshold GROUP BY layout, f, threshold
          )
          SELECT fi.layout, CAST(g.threshold AS BIGINT) AS threshold,
                 CAST(count(*) AS BIGINT) AS n_files,
                 CAST(coalesce(sum(CASE WHEN fi.fmax < g.threshold THEN 1 END), 0)
                   AS BIGINT) AS files_skipped,
                 CAST(sum(CASE WHEN fi.fmax >= g.threshold THEN fi.cnt
                          ELSE 0 END) AS BIGINT) AS rows_scanned,
                 CAST(sum(coalesce(ma.m, 0)) AS BIGINT) AS rows_matching,
                 CAST(coalesce(sum(CASE WHEN fi.fmax < g.threshold THEN 1 END), 0)
                   * 10000 // count(*) AS BIGINT) AS skip_bp
          FROM files fi CROSS JOIN grid g
          LEFT JOIN matched ma
            ON ma.layout = fi.layout AND ma.f = fi.f AND ma.threshold = g.threshold
          GROUP BY fi.layout, g.threshold
          ORDER BY fi.layout, threshold""",
    "t42_vocab_coverage" ->
      s"""WITH wc AS (
            SELECT bg, count(*) AS cnt
            FROM (SELECT unnest($bigramSql) AS bg
                  FROM (SELECT list_filter($wordsSql, x -> length(x) > 0) AS w
                        FROM documents) t0) t
            GROUP BY bg
          ), r AS (
            SELECT cnt, row_number() OVER (ORDER BY cnt DESC, bg) AS rnk FROM wc
          ), tot AS (
            SELECT sum(cnt) AS total, count(*) AS n_vocab FROM wc
          )
          SELECT CAST(k AS BIGINT) AS vocab_size,
                 CAST(n_vocab AS BIGINT) AS n_vocab,
                 CAST(coalesce(sum(cnt) FILTER (WHERE rnk <= k), 0) AS BIGINT)
                   AS covered_ngrams,
                 CAST(total AS BIGINT) AS total_ngrams,
                 CAST(coalesce(sum(cnt) FILTER (WHERE rnk <= k), 0) * 10000
                   // total AS BIGINT) AS coverage_bp
          FROM r, tot, (SELECT unnest([50, 200, 800]) AS k) g
          GROUP BY k, total, n_vocab ORDER BY vocab_size""",
    "m14_jpeg_quality" -> {
      val sumBase = JpegBaseLuma.sum
      s"""WITH sc AS (
            SELECT doc_id,
                   CASE WHEN 5 + (doc_id * 7) % 91 < 50
                        THEN 5000 // (5 + (doc_id * 7) % 91)
                        ELSE 200 - 2 * (5 + (doc_id * 7) % 91) END AS scale
            FROM documents
          ), st AS (
            SELECT doc_id,
                   sum(GREATEST(1, LEAST(255, (bv * scale + 50) // 100))) AS sum_t
            FROM sc, (SELECT unnest([${JpegBaseLuma.mkString(", ")}]) AS bv) b
            GROUP BY doc_id
          ), est AS (
            SELECT CASE WHEN se <= 100 THEN (200 - se) // 2
                        ELSE 5000 // se END AS est_q
            FROM (SELECT doc_id, (100 * sum_t + ${sumBase / 2}) // $sumBase AS se
                  FROM st) t
          )
          SELECT CAST(est_q // 10 AS BIGINT) AS est_decade,
                 CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(min(est_q) AS BIGINT) AS min_q,
                 CAST(max(est_q) AS BIGINT) AS max_q
          FROM est GROUP BY est_decade ORDER BY est_decade"""
    },
    "dq13_dp_release" ->
      s"""WITH cls AS (
            SELECT c.c_mktsegment AS segment, n.n_name AS nation,
                   count(*) AS n_true
            FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
            GROUP BY 1, 2
          ), nz AS (
            SELECT segment, nation, n_true,
                   ${md5Sql("segment || '|' || nation")} AS h
            FROM cls
          ), noised AS (
            SELECT segment, nation, n_true,
                   CAST((CASE WHEN h % 2 = 1 THEN 1 ELSE -1 END) *
                        (length(bin(xor(h // 2, h // 2 + 1) + 1)) - 2)
                     AS BIGINT) AS noise
            FROM nz
          )
          SELECT segment, nation, CAST(n_true AS BIGINT) AS n_true, noise,
                 CAST(GREATEST(n_true + noise, 0) AS BIGINT) AS released,
                 CAST(abs(GREATEST(n_true + noise, 0) - n_true) AS BIGINT)
                   AS abs_err
          FROM noised ORDER BY segment, nation""",
    "s15_ivf_balance" ->
      s"""WITH ${LlmQueries.ivfBuildCtes}, per AS (
            SELECT c.part, count(a.id) AS n_vecs
            FROM cent c LEFT JOIN assigned a ON a.part = c.part
            GROUP BY c.part
          ), tot AS (
            SELECT sum(n_vecs) AS total, max(n_vecs) AS mx,
                   count(*) AS np,
                   coalesce(sum(CASE WHEN n_vecs = 0 THEN 1 END), 0) AS ne
            FROM per
          )
          SELECT CAST(part AS BIGINT) AS part, CAST(n_vecs AS BIGINT) AS n_vecs,
                 CAST(n_vecs * 10000 // total AS BIGINT) AS share_bp,
                 CAST(mx * np * 1000 // total AS BIGINT) AS balance_milli,
                 CAST(ne AS BIGINT) AS n_empty,
                 CAST(CASE WHEN mx * np * 1000 // total > 2000 THEN 1 ELSE 0 END
                   AS BIGINT) AS retrain
          FROM per, tot ORDER BY part""")
}
