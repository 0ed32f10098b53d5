package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables._
import graft.core.ArtifactRegistry
import graft.operators.Dedupe

/** Sketch surface: streaming-friendly approximate aggregates with
  * EXACT integer evaluation so the DuckDB oracle hash-matches bit for bit.
  *
  * Both sketches follow the d01/d02 hashing discipline: md5-prefix integer
  * hashing ([[Dedupe.md5Hash32]]) because every engine agrees on md5 of a
  * UTF-8 string, and ALL sketch math stays in BIGINT (shifts, truncating
  * division) — never an unordered double fold, never a transcendental.
  * The estimates are therefore reproducible across engines, runs, AND
  * partitionings — the property that makes a sketch auditable (d09's
  * accuracy-audit pattern applied to cardinality and frequency).
  */
object SketchQueries {
  type Q = (SparkSession, String) => DataFrame

  /** Second 32-bit word of md5 (hex chars 9-16) — independent of
    * [[Dedupe.md5Hash32]] (chars 1-8), so an HLL can draw its bucket and
    * its rank from one md5 evaluation. */
  private def md5Word2(c: org.apache.spark.sql.Column) =
    conv(substring(md5(c), 9, 8), 16, 10).cast("long")

  /** D11 — HyperLogLog cardinality of the order-key stream, fully
    * deterministic.
    *
    * m = 256 buckets from the low bits of hash word 1; rank ρ = leading
    * zeros + 1 of hash word 2 (independent words, one md5). The register
    * table is ONE map-side-combinable hash aggregate (`max` per bucket) —
    * the shuffle moves at most m rows per partition no matter how many
    * trillions of keys feed it, which is the whole point of HLL at
    * 100 TB (an exact count(distinct) shuffles the full key universe).
    *
    * The harmonic-mean estimate is evaluated in scaled BIGINT arithmetic:
    *   S = Σ_buckets 2^(32-ρ_j)  (empty bucket ⇒ ρ=0 ⇒ 2^32),
    *   E = α·m²·2^32 / S  with α = 0.718273 (= 0.7213/(1+1.079/m)) carried
    * as ×10⁶ integer — m²·2^32 = 2^48 and α·2^48/S stay in BIGINT range,
    * and truncating `div` is identical in Spark and DuckDB, so the
    * estimate is bit-stable. Raw HLL only — the small-range linear-count
    * branch needs ln(), which is not cross-engine bit-safe, so m is sized
    * (256) to keep every fixture scale in the raw regime (n ≥ 2.5m needs
    * n ≥ 640; orders = 1.5k at sf0.001). ρ is capped at 32 (the w=0
    * case, probability 2⁻³²).
    *
    * Output also carries the exact distinct count and the error in basis
    * points — the d09 audit pattern: the sketch ships WITH its measured
    * accuracy. Reference behavior class: corpus-stats distinct counts
    * (reference summarizes vocab/file cardinalities driver-side;
    * assets/processing/assets.py:300-317 profiles corpus stats). */
  /** D21 — EXACT DISTINCT VIA BITMAP OR-AGGREGATION: the roaring-bitmap
    * idea in pure relational form — the membership axis's EXACT sibling
    * (d18 Bloom = approximate membership; this = exact distinct when the
    * id space is dense integers). Each (group, id) sets one bit of a
    * 32-bit word keyed by id div 32; `bit_or` is associative and
    * commutative, so the per-word partial aggregates map-side-combine to
    * ≤ |id-space|/32 rows per group no matter how many raw events there
    * are — the shuffle carries BITMAP WORDS, not ids (a count_distinct
    * shuffles every distinct id). popcount over the words is the exact
    * count. 32-bit words because DuckDB raises on `1::BIGINT << 63`
    * (overflow-checked shift) — bit ≤ 31 keeps both engines in-range.
    *
    * Output carries the bitmap accounting (words, densest word) so the
    * compression ratio is visible in the result — d18's audit discipline. */
  def d21BitmapDistinct(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .select(col("event_type"), expr("user_id div 32").as("word_idx"),
        expr("CAST(user_id % 32 AS INT)").as("bit"))
      .groupBy(col("event_type"), col("word_idx"))
      .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), bit))").as("bits"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_words"),
        sum(expr("bit_count(bits)")).cast("long").as("n_users"),
        max(expr("bit_count(bits)")).cast("long").as("densest_word"))
      .orderBy(col("event_type"))

  def d11HllDistinct(s: SparkSession, d: String): DataFrame = {
    val m = 256
    val keys = orders(s, d).select(col("o_orderkey").cast("string").as("w"))
    val regs = keys
      .select((Dedupe.md5Hash32(col("w")) % m).as("bucket"),
        md5Word2(col("w")).as("wd"))
      .select(col("bucket"),
        when(col("wd") === 0, lit(32))
          .otherwise(lit(33) - length(bin(col("wd")))).as("rho"))
      .groupBy(col("bucket")).agg(max(col("rho")).as("r"))
    val est = regs
      .agg(sum(expr("shiftleft(CAST(1 AS BIGINT), 32 - r)")).as("sp"),
        count(lit(1)).as("nb"))
      .select(lit(256L).as("n_buckets"), (lit(256L) - col("nb")).as("zero_buckets"),
        (col("sp") + (lit(256L) - col("nb")) * lit(4294967296L)).as("s_total"))
      .selectExpr("n_buckets", "zero_buckets",
        "(718273 * (CAST(281474976710656 AS BIGINT) div s_total)) div 1000000 AS est_distinct")
    val exact = keys.agg(count_distinct(col("w")).as("exact_distinct"))
    est.crossJoin(exact)
      .selectExpr("n_buckets", "zero_buckets", "est_distinct", "exact_distinct",
        // Zero guard: an empty orders table has exact_distinct = 0, and ANSI
        // mode turns `div 0` into DIVIDE_BY_ZERO (the t15 hazard class).
        "CASE WHEN exact_distinct = 0 THEN CAST(0 AS BIGINT) " +
          "ELSE abs(est_distinct - exact_distinct) * 10000 div exact_distinct END AS err_bp")
  }

  /** T16 — count-min sketch heavy hitters: a 4×1024 CMS over the word
    * stream, then the top-20 true-frequency words point-queried against
    * it (est = min over the 4 rows; CMS guarantees est ≥ true, so
    * `overcount` is the measured collision inflation — never negative).
    *
    * The sketch build is ONE hash aggregate over (row, col): 4 cells per
    * occurrence, partial-aggregated map-side down to ≤ 4096 rows per
    * partition before the shuffle — constant communication at any corpus
    * size, vs. a full vocabulary shuffle for exact counts (t08). The
    * 4 salted hashes reuse one md5 per (word, row) — same lane discipline
    * as d01's minhash family. Point-probes broadcast against the sketch.
    * Reference behavior class: extension/vocab histograms
    * (resources/summarize.py:41-58) recast as the sketch a 100 TB corpus
    * needs when the key universe itself doesn't fit. */
  def t16CmsHeavyHitters(s: SparkSession, d: String): DataFrame = {
    val w = 1024
    def cellOf(word: org.apache.spark.sql.Column, r: org.apache.spark.sql.Column) =
      Dedupe.md5Hash32(concat(word, lit("#"), r.cast("string"))) % w
    val occ = documents(s, d)
      .select(explode(Dedupe.words(col("text"))).as("w"))
      .filter(length(col("w")) > 0)
    val sketch = occ
      .select(col("w"), explode(expr("sequence(0, 3)")).as("r"))
      .select(col("r"), cellOf(col("w"), col("r")).as("c"))
      .groupBy(col("r"), col("c")).agg(count(lit(1)).as("cell"))
    val top = occ.groupBy(col("w")).agg(count(lit(1)).as("true_cnt"))
      .orderBy(col("true_cnt").desc, col("w")).limit(20)
    val probes = top
      .select(col("w"), col("true_cnt"), explode(expr("sequence(0, 3)")).as("r"))
      .select(col("w"), col("true_cnt"), col("r"), cellOf(col("w"), col("r")).as("c"))
    broadcast(probes).join(sketch, Seq("r", "c"))
      .groupBy(col("w"), col("true_cnt")).agg(min(col("cell")).as("cms_est"))
      .select(col("w").as("word"), col("true_cnt"), col("cms_est"),
        (col("cms_est") - col("true_cnt")).as("overcount"))
      .orderBy(col("true_cnt").desc, col("word"))
  }

  /** D13 — GROUPED HLL: distinct customers per order-priority segment —
    * the per-segment cardinality cube that motivates sketches at 100 TB
    * (exact per-segment distinct = one shuffle of every (segment, key)
    * pair; grouped HLL = max-per-(segment, bucket), ≤ m rows per segment
    * regardless of corpus size, AND the registers are mergeable — roll
    * segments up to any coarser grouping without touching the data
    * again). Same scaled-BIGINT estimator as d11, keyed by (segment,
    * bucket); segments are sized thousands-of-distinct (the d11 lesson:
    * below n ≈ 2.5m the raw estimator degrades, and the ln()-based
    * correction is not cross-engine-bit-safe — err_bp exposes any
    * segment that drifts). Exact per-segment counts ride along as the
    * audit. */
  def d13HllGrouped(s: SparkSession, d: String): DataFrame = {
    val occ = orders(s, d)
      .select(col("o_orderpriority").as("segment"),
        col("o_custkey").cast("string").as("w"))
    val regs = occ
      .select(col("segment"), (Dedupe.md5Hash32(col("w")) % 256).as("bucket"),
        md5Word2(col("w")).as("wd"))
      .select(col("segment"), col("bucket"),
        when(col("wd") === 0, lit(32))
          .otherwise(lit(33) - length(bin(col("wd")))).as("rho"))
      .groupBy(col("segment"), col("bucket")).agg(max(col("rho")).as("r"))
    val est = regs.groupBy(col("segment"))
      .agg(sum(expr("shiftleft(CAST(1 AS BIGINT), 32 - r)")).as("sp"),
        count(lit(1)).as("nb"))
      .select(col("segment"),
        (col("sp") + (lit(256L) - col("nb")) * lit(4294967296L)).as("s_total"))
      .selectExpr("segment",
        "(718273 * (CAST(281474976710656 AS BIGINT) div s_total)) div 1000000 AS est_distinct")
    val exact = occ.groupBy(col("segment"))
      .agg(count_distinct(col("w")).as("exact_distinct"))
    est.join(exact, Seq("segment"))
      .selectExpr("segment", "est_distinct", "exact_distinct",
        // Same zero guard as d11: a segment with zero distinct keys must not
        // raise DIVIDE_BY_ZERO under ANSI mode.
        "CASE WHEN exact_distinct = 0 THEN CAST(0 AS BIGINT) " +
          "ELSE abs(est_distinct - exact_distinct) * 10000 div exact_distinct END AS err_bp")
      .orderBy(col("segment"))
  }

  /** D17 — the SAME HLL as d11 through the custom TypedImperativeAggregate
    * ([[graft.plans.HllSketchAgg]]): one 256-byte register buffer per
    * partial state, elementwise-max merge — the shuffle ships 256 bytes
    * per partition instead of ≤ m rows, and per-group state at 100 TB is
    * constant regardless of key count. The oracle recomputes the estimate
    * relationally (d11's SQL), so the hash gate proves the imperative
    * buffer path bit-equal to the relational formulation — the agg-tier
    * counterpart of the q35/g01 algorithm-swap-invariance discipline. */
  def d17HllAgg(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .select(col("o_orderkey").cast("string").as("w"))
      .agg(graft.plans.HllSketchAgg.hllDistinct(col("w")).as("est_distinct"))

  /** D14 — GROUPED QUANTILE SKETCH (log-bucketed, DDSketch-flavored,
    * integer-exact): per order-priority segment, approximate p50/p90/p99
    * of the order price from a mergeable fixed-size bucket table, with the
    * exact rank values riding along as the audit (the d09/d11 pattern:
    * the sketch ships WITH its measured error).
    *
    * Completes the sketch family's third axis — d11/d13 answer "how
    * many distinct", t16 "how often", d14 "how large at rank q". At
    * 100 TB an exact grouped quantile needs a per-group sort of every
    * value; this sketch shuffles ≤ ~4k bucket counts per segment
    * regardless of row count, the buckets are MERGEABLE (counts add —
    * partial aggregation map-side, roll segments up to any coarser
    * grouping without touching data), and the relative error is bounded
    * by construction: bucket = (bit_length, 6 sub-MSB bits), so every
    * value in a bucket is within 2⁻⁶ ≈ 1.6 % of its lower bound (≤ 160
    * basis points, pinned by spec; values < 128 are EXACT).
    *
    * Determinism discipline (d11): the one float step is floor(x·100) —
    * identical IEEE ops in both engines — then everything is BIGINT
    * shifts/masks/truncating division; no interpolation, no doubles, so
    * the hash check is exact. The rank walk takes the FIRST bucket whose
    * cumulative count reaches ceil(q·n/100) — precisely the bucket
    * containing the rank-q element, so approx ≤ exact always. */
  def d14QuantileSketch(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val qLits = array(lit(50L), lit(90L), lit(99L))
    val o = orders(s, d).select(col("o_orderpriority").as("segment"),
      greatest(expr("CAST(floor(o_totalprice * 100) AS BIGINT)"), lit(1L)).as("v"))
    val bucketed = o.selectExpr("segment", "v",
      """CASE WHEN length(bin(v)) <= 7 THEN v
        | ELSE CAST(length(bin(v)) AS BIGINT) * 64 +
        |      (shiftright(v, length(bin(v)) - 7) & CAST(63 AS BIGINT)) END AS b"""
        .stripMargin)
    val sketch = bucketed.groupBy(col("segment"), col("b"))
      .agg(count(lit(1)).as("cnt"))
    val cum = sketch
      .withColumn("cum", sum(col("cnt"))
        .over(Window.partitionBy(col("segment")).orderBy(col("b"))))
      .withColumn("n", sum(col("cnt")).over(Window.partitionBy(col("segment"))))
    val approx = cum
      .select(col("segment"), col("b"), col("cum"), col("n"),
        explode(qLits).as("q"))
      .filter(col("cum") >= expr("(n * q + 99) div 100"))
      .groupBy(col("segment"), col("q"), col("n"))
      .agg(min(col("b")).as("b"))
      .selectExpr("segment", "q", "n",
        """CASE WHEN b < 128 THEN b
          | ELSE shiftleft(CAST(1 AS BIGINT), CAST(b div 64 AS INT) - 1) +
          |      shiftleft(b % 64, CAST(b div 64 AS INT) - 7) END AS approx_q"""
          .stripMargin)
    val exact = o
      .withColumn("rn", row_number()
        .over(Window.partitionBy(col("segment")).orderBy(col("v"))))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("segment"))))
      .select(col("segment"), col("v"), col("rn"), col("n"),
        explode(qLits).as("q"))
      .filter(col("rn") === expr("(n * q + 99) div 100"))
      .select(col("segment"), col("q"), col("v").as("exact_q"))
    approx.join(exact, Seq("segment", "q"))
      .selectExpr("segment", "q", "n", "approx_q", "exact_q",
        "(exact_q - approx_q) * 10000 div exact_q AS err_bp")
      .orderBy(col("segment"), col("q"))
  }

  /** D15 — HLL SET ALGEBRA over two key streams: the register tables are
    * MERGEABLE, so |A∪B| comes from an elementwise max of A's and B's
    * registers — no second pass over the data — and |A∩B| / Jaccard fall
    * out by inclusion–exclusion. This is the property that makes HLL the
    * cross-corpus overlap tool at 100 TB: each corpus ships a 256-register
    * summary (built independently, map-side-combined), and ANY pairwise or
    * n-way overlap question is answered from summaries alone. An exact
    * overlap needs a full-key shuffle of both corpora per question.
    *
    * Known property (why the exact columns ride along): inclusion–
    * exclusion SUBTRACTS three ~1/√m-noisy estimates, so the intersection
    * estimate's relative error blows up when |A∩B| ≪ |A∪B| — the audit
    * columns make that visible per run instead of hiding it (for tight
    * small-intersection bounds the right tool is a MinHash Jaccard, d09).
    *
    * Key stream: distinct (part, supplier) pairs from lineitem, split into
    * side A/B by line-number parity — pairs recur across lines, so the
    * sides genuinely overlap. Same scaled-BIGINT estimator as d11 (one md5,
    * bucket from word 1, rank from word 2, truncating div) — bit-stable
    * across engines. Exact counts + inclusion–exclusion exacts ride along
    * (the d09 audit pattern); err guards follow d11's ANSI zero rule.
    * Reference behavior class: corpus-stats distinct counts
    * (assets/processing/assets.py:300-317) extended to the cross-corpus
    * overlap audit a dedupe pipeline runs before merging sources. */
  def d15HllSetops(s: SparkSession, d: String): DataFrame = {
    val m = 256
    // ONE key shuffle feeds EVERYTHING: the per-key side-flag aggregate
    // is computed first, the md5/bucket/rho are derived ONCE PER DISTINCT
    // KEY (rho is a function of the key — hashing every duplicate row
    // would be wasted work), and both the three register columns (A/B/
    // union as conditional maxes in a single 256-row agg) and the three
    // exact counts read that one aggregate. Raw scan: the first op is the
    // key shuffle, so the fixture fan-out would be a wasted pass.
    // the dedupe shuffle ships the two BIGINT key halves, not the concat
    // string — w is a function of the group key, so building it after
    // the aggregate is free and the exchange rows shrink
    val keyed = tableRaw(s, d, "lineitem").select(
      when(col("l_linenumber") % 2 === 1, lit("A")).otherwise(lit("B")).as("side"),
      col("l_partkey"), col("l_suppkey"))
    // the exact counts are SUMS over distinct keys, so they ride the
    // register aggregate as per-bucket partial counts (sum(ia)/sum(ib)/
    // count per bucket, then re-summed in the 1-row agg: Σ_bucket Σ_keys
    // ≡ Σ_keys exactly, all integer). base has ONE consumer, so it needs
    // no checkpoint and no crossJoin — ONE linear pipeline: scan → dedupe
    // agg → md5/rho project → 256-row agg → 1-row agg. Measured (BenchOne
    // min-of-2 pairs at sf0.1) against a checkpointed two-consumer base:
    // 7 → 5 jobs, 1.40 → 0.99/1.13 s.
    val base = keyed.groupBy(col("l_partkey"), col("l_suppkey")).agg(
      max(when(col("side") === "A", 1L).otherwise(0L)).as("ia"),
      max(when(col("side") === "B", 1L).otherwise(0L)).as("ib"))
      .select(concat(col("l_partkey").cast("string"), lit("#"),
        col("l_suppkey").cast("string")).as("w"), col("ia"), col("ib"))
    val rhoed = base.select(col("ia"), col("ib"),
        (Dedupe.md5Hash32(col("w")) % m).as("bucket"),
        md5Word2(col("w")).as("wd"))
      .select(col("ia"), col("ib"), col("bucket"),
        when(col("wd") === 0, lit(32))
          .otherwise(lit(33) - length(bin(col("wd")))).as("rho"))
    // one ≤ m-row register table carrying all three registers: side
    // registers as conditional maxes (null = bucket unobserved for that
    // side, exactly a per-side register-row absence), union as the
    // plain max — identical to merging per-side tables by max —
    // plus the exact-count partials so no second pass exists
    val regs = rhoed.groupBy(col("bucket")).agg(
      max(when(col("ia") === 1, col("rho"))).as("ra"),
      max(when(col("ib") === 1, col("rho"))).as("rb"),
      max(col("rho")).as("ru"),
      sum(col("ia")).as("ca"), sum(col("ib")).as("cb"),
      count(lit(1)).as("cu"))
    // the d11 scaled-BIGINT estimator, all three estimates in ONE agg over
    // the 256-row frame (sum of 2^(32-r) over observed buckets + count)
    def estCol(sp: String, nb: String, out: String): String =
      s"(718273 * (CAST(281474976710656 AS BIGINT) div " +
        s"($sp + (256 - $nb) * CAST(4294967296 AS BIGINT)))) div 1000000 AS $out"
    val ests = regs.agg(
        sum(expr("CASE WHEN ra IS NOT NULL THEN shiftleft(CAST(1 AS BIGINT), 32 - ra) END")).as("spa"),
        count(col("ra")).as("nba"),
        sum(expr("CASE WHEN rb IS NOT NULL THEN shiftleft(CAST(1 AS BIGINT), 32 - rb) END")).as("spb"),
        count(col("rb")).as("nbb"),
        sum(expr("shiftleft(CAST(1 AS BIGINT), 32 - ru)")).as("spu"),
        count(lit(1)).as("nbu"),
        // coalesce: on an EMPTY lineitem regs has no rows and these sums
        // go null — a direct count over base would read 0 there
        coalesce(sum(col("ca")), lit(0L)).as("exact_a"),
        coalesce(sum(col("cb")), lit(0L)).as("exact_b"),
        coalesce(sum(col("cu")), lit(0L)).as("exact_union"))
      .selectExpr(estCol("spa", "nba", "est_a"), estCol("spb", "nbb", "est_b"),
        estCol("spu", "nbu", "est_union"),
        "exact_a", "exact_b", "exact_union")
    ests
      .selectExpr("est_a", "est_b", "est_union",
        "est_a + est_b - est_union AS est_intersect",
        "exact_a", "exact_b", "exact_union",
        "exact_a + exact_b - exact_union AS exact_intersect",
        // d11's ANSI zero guard: an empty lineitem gives est_union = 0
        "CASE WHEN est_union = 0 THEN CAST(0 AS BIGINT) " +
          "ELSE (est_a + est_b - est_union) * 10000 div est_union END AS jaccard_bp_est",
        "CASE WHEN exact_union = 0 THEN CAST(0 AS BIGINT) " +
          "ELSE (exact_a + exact_b - exact_union) * 10000 div exact_union END AS jaccard_bp_exact")
  }

  /** D18 — BLOOM-FILTER MEMBERSHIP with a measured false-positive audit:
    * completes the sketch family's fifth axis (d11/d13 "how many
    * distinct", t16 "how often", d14 "how large at rank q", d15 "how much
    * overlap", d18 "have I seen this key"). The production use is the
    * shuffle-avoiding pre-filter: ship the bit table of corpus A's keys
    * and drop corpus B's non-members BEFORE the join shuffle (Spark's own
    * runtime bloom pruning, here as an auditable first-class op).
    *
    * Build: k = 4 bit positions per key from independent md5 lanes
    * (d01's salted-lane discipline), m = 2²⁰; the filter is the DISTINCT
    * bit-position table — ≤ min(k·n, m) rows through one map-side-
    * combinable aggregate regardless of corpus size. Probes: the 100
    * present keys with smallest md5 (deterministic sample) MUST all hit
    * (Bloom guarantees no false negatives — spec-pinned), and 1000
    * synthetic absent keys measure the FP rate, reported in basis points
    * against the n and bits_set that determine it. All integer — the
    * md5/modulo/count math is bit-identical in both engines. */
  def d18BloomMembership(s: SparkSession, d: String): DataFrame = {
    val m = 1 << 20
    // keys feed the bit build, the present-probe sample AND the n_keys
    // stat; bits feed the probe join AND the bits_set stat — checkpoint
    // both so the scan+distinct runs once, not per consumer
    val keys = orders(s, d).select(col("o_orderkey").cast("string").as("w")).distinct()
      .localCheckpoint(true)
    val bits = keys
      .select(col("w"), explode(expr("sequence(0, 3)")).as("lane"))
      .select((Dedupe.md5Hash32(concat(col("w"), lit("#"),
        col("lane").cast("string"))) % m).as("bit"))
      .distinct()
      .localCheckpoint(true)
    val present = keys.orderBy(md5(col("w"))).limit(100)
      .select(col("w"), lit(1L).as("truly_present"))
    val absent = s.range(1000)
      .select(concat(lit("absent#"), col("id").cast("string")).as("w"),
        lit(0L).as("truly_present"))
    val probeHits = broadcast(present.unionAll(absent)
      .select(col("w"), col("truly_present"), explode(expr("sequence(0, 3)")).as("lane"))
      .select(col("w"), col("truly_present"),
        (Dedupe.md5Hash32(concat(col("w"), lit("#"),
          col("lane").cast("string"))) % m).as("bit")))
      // probe side is ~4k rows — broadcast it so the (large) bit table
      // never shuffles for the join
      .join(bits, Seq("bit"))
      .groupBy(col("w"), col("truly_present")).agg(count(lit(1)).as("lanes_hit"))
      .filter(col("lanes_hit") === 4)
    val summary = present.unionAll(absent)
      .join(probeHits.select(col("w"), lit(1L).as("bloom_hit")), Seq("w"), "left")
      .groupBy(col("truly_present"))
      .agg(count(lit(1)).as("n_probes"),
        sum(coalesce(col("bloom_hit"), lit(0L))).as("n_hits"))
    val stats = keys.agg(count(lit(1)).as("n_keys"))
      .crossJoin(bits.agg(count(lit(1)).as("bits_set")))
    summary.crossJoin(stats)
      .selectExpr("truly_present", "n_probes", "n_hits",
        // absent-probe hit rate in bp = the measured FPR; present rows
        // must show n_hits = n_probes (no false negatives)
        "CASE WHEN n_probes = 0 THEN CAST(0 AS BIGINT) " +
          "ELSE n_hits * 10000 div n_probes END AS hit_bp",
        "n_keys", "bits_set")
      .orderBy(col("truly_present"))
  }

  /** D19 — CUMULATIVE HLL TIME SERIES (sketch state roll-forward): the
    * "distinct keys seen through month M, for every M" dashboard — the
    * production daily/monthly-distinct-users query — answered for ALL
    * months in one pass over a per-month register table. Because HLL
    * registers merge by max, the cumulative sketch at month M is a
    * running elementwise max over the month axis: compute per-(month,
    * bucket) registers once (one hash agg, ≤ m rows per month at any
    * corpus size), densify onto the months × observed-buckets grid
    * (≤ m·|months| rows — SKETCH-sized, never data-sized), and a
    * bucket-partitioned running-max window rolls every month's
    * cumulative state forward. An exact recompute needs a full key
    * shuffle PER MONTH (or an expensive distinct-through-M per M);
    * the exact audit here instead uses the first-seen trick (min month
    * per key = one hash agg) — itself the scalable exact formulation.
    *
    * Estimates are monotone non-decreasing BY CONSTRUCTION (register
    * merge is monotone — spec-pinned alongside the exact series).
    * Keys: (part, supplier) pairs by ship month (d15's high-cardinality
    * stream, per the d11 raw-regime lesson). Same scaled-BIGINT
    * estimator as d11. */
  /** The month-keyed distinct (month, part#supp) base and its
    * per-(month, bucket) max-rho REGISTER TABLE are ONE persisted artifact
    * shared by d19 and d20 — d20 answers "the OTHER dashboard shape" of
    * d19's register table, so the two dashboards read the same
    * materialization. Both month
    * encodings ride along (ym = y·100+m for d19's calendar axis,
    * mi = y·12+m for d20's LINEAR sliding axis — bijective, so the
    * distinct/dedupe keys are equivalent). Memoized per (application,
    * sf dir), the kmFit lifecycle; duplicates within a month change
    * neither a max-rho register nor a min-month, so the dedupe is free
    * semantics and md5 runs once per distinct pair. */
  private def monthKeyBase(s: SparkSession, d: String): DataFrame =
    ArtifactRegistry.cached(s, d, "mkbase") {
      graft.core.Materialize.dedupedPartitionedCheckpoint(
        tableRaw(s, d, "lineitem").select(
          (year(col("l_shipdate")) * 100 + month(col("l_shipdate"))).cast("long").as("ym"),
          (year(col("l_shipdate")) * 12 + month(col("l_shipdate"))).cast("long").as("mi"),
          concat(col("l_partkey").cast("string"), lit("#"),
            col("l_suppkey").cast("string")).as("w")),
        keys = Seq("w"), dedupeKeys = Seq("ym", "w"))
    }

  private def monthRegs(s: SparkSession, d: String): DataFrame =
    ArtifactRegistry.cached(s, d, "mkregs") {
      val m = 256
      graft.core.Materialize.checkpointRetainingPartitioning(
        monthKeyBase(s, d)
          .select(col("ym"), col("mi"),
            (Dedupe.md5Hash32(col("w")) % m).as("bucket"),
            md5Word2(col("w")).as("wd"))
          .select(col("ym"), col("mi"), col("bucket"),
            when(col("wd") === 0, lit(32))
              .otherwise(lit(33) - length(bin(col("wd")))).as("rho"))
          .groupBy(col("ym"), col("mi"), col("bucket"))
          .agg(max(col("rho")).as("r")))
    }

  def d19HllTimeseries(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = monthKeyBase(s, d)
    val regs = monthRegs(s, d).select(col("ym"), col("bucket"), col("r"))
    // REGISTER-CHANGE DELTAS instead of a dense months×buckets grid +
    // carry-forward window + per-month agg — the cumulative estimator's sum
    // Σ_b 2^(32−rc(b,M)) only moves when some bucket's running max moves,
    // so each regs row contributes d_sp = 2^(32−r) − 2^(32−prev) (prev =
    // running max of its bucket over earlier months, 0-contribution rows
    // kept so every observed month stays in the output) and d_nb = 1 on
    // first sight. One window over the ≤ m·|months| regs frame, ONE
    // union agg shared with the first-seen exact audit, one global
    // cumulative window — same integers, same oracle, ~half the jobs
    // (measured 16 → 9 at sf0.1, 1.76 → ~1.1 s). Every quantity is exact
    // BIGINT arithmetic: deltas are differences of exact powers of two,
    // cumulative sums of exact deltas telescope to the exact register sum.
    val ev = regs
      .withColumn("prev", max(col("r")).over(
        Window.partitionBy(col("bucket")).orderBy(col("ym"))
          .rowsBetween(Window.unboundedPreceding, -1)))
      .select(col("ym"),
        expr("""CASE WHEN prev IS NULL THEN shiftleft(CAST(1 AS BIGINT), 32 - r)
               |     WHEN r > prev THEN shiftleft(CAST(1 AS BIGINT), 32 - r)
               |                        - shiftleft(CAST(1 AS BIGINT), 32 - prev)
               |     ELSE CAST(0 AS BIGINT) END""".stripMargin).as("d_sp"),
        when(col("prev").isNull, lit(1L)).otherwise(lit(0L)).as("d_nb"),
        lit(0L).as("d_new"))
    val firstSeen = base.groupBy(col("w")).agg(min(col("ym")).as("ym"))
      .groupBy(col("ym")).agg(count(lit(1)).as("nw"))
      .select(col("ym"), lit(0L).as("d_sp"), lit(0L).as("d_nb"),
        col("nw").as("d_new"))
    val wcum = Window.orderBy(col("ym"))
      .rowsBetween(Window.unboundedPreceding, 0)
    ev.unionByName(firstSeen)
      .groupBy(col("ym"))
      .agg(sum(col("d_sp")).as("sp_d"), sum(col("d_nb")).as("nb_d"),
        sum(col("d_new")).as("new_d"))
      .withColumn("sp", sum(col("sp_d")).over(wcum))
      .withColumn("nb", sum(col("nb_d")).over(wcum))
      .withColumn("exact_cum", sum(col("new_d")).over(wcum))
      .selectExpr("ym",
        "(718273 * (CAST(281474976710656 AS BIGINT) div " +
          "(sp + (256 - nb) * CAST(4294967296 AS BIGINT)))) div 1000000 AS est_cum",
        "exact_cum")
      .selectExpr("ym", "est_cum", "exact_cum",
        "CASE WHEN exact_cum = 0 THEN CAST(0 AS BIGINT) " +
          "ELSE abs(est_cum - exact_cum) * 10000 div exact_cum END AS err_bp")
      .localCheckpoint(false) // sever the sort's range-sampling re-execution
      .orderBy(col("ym"))
  }

  /** D20 — SLIDING-WINDOW HLL (trailing 3 months): d19's register table
    * answers the OTHER dashboard shape — "distinct keys in the trailing
    * window ending at month M, for every M" — by swapping the running
    * max for a BOUNDED window max (ROWS 2 PRECEDING). Same one-pass
    * economics: per-month registers once, then every window's merged
    * sketch falls out of one bucket-partitioned window op; an exact
    * recompute touches each key once per window it spans (the explode-
    * to-targets trick below — still one hash agg, ×window-width data).
    *
    * The month axis is a LINEAR index (year·12 + month) — yyyymm + 1
    * breaks at every December (199512 + 1 ≠ 199601), the classic
    * sliding-calendar bug. Window estimate == direct sketch of the
    * window's months by construction (spec-pinned, d15's discipline). */
  def d20HllSliding(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // shared artifacts with d19 (see monthKeyBase/monthRegs): same base,
    // same register table, read through the LINEAR mi axis
    val li = monthKeyBase(s, d).select(col("mi"), col("w"))
    val regs = monthRegs(s, d).select(col("mi"), col("bucket"), col("r"))
    // EXPLODE-TO-TARGETS instead of a dense month spine + carry-forward
    // window — a register row at month mi serves exactly the windows
    // ending at mi, mi+1, mi+2, so the bounded window max is a plain
    // (target, bucket) max agg over the 3×-exploded regs frame. The month
    // axis stays a LINEAR index (year·12 + month) and the trailing-3
    // semantics stays CALENDAR-dense by construction: a target month with
    // no register in its trailing window simply has no rows (a dense grid
    // would produce rw = NULL there and filter it — same output set). Only
    // targets hanging PAST the last real month need trimming, done with a
    // global max over the ~|months| agg frame ('real' marks offset-0
    // rows). Kills the spine agg + explode + broadcast grid join + window
    // (measured 14 → 9 jobs, 1.84 → ~1.2 s at sf0.1); same integers, same
    // oracle.
    val win = regs
      .select(col("bucket"), col("r"), col("mi").as("smi"),
        explode(expr("array(mi, mi + 1, mi + 2)")).as("tmi"))
      .groupBy(col("tmi"), col("bucket"))
      .agg(max(col("r")).as("rw"),
        max(when(col("smi") === col("tmi"), 1).otherwise(0)).as("real"))
    val est = win.groupBy(col("tmi"))
      .agg(sum(expr("shiftleft(CAST(1 AS BIGINT), 32 - rw)")).as("sp"),
        count(lit(1)).as("nb"), max(col("real")).as("realm"))
      .withColumn("hi", max(when(col("realm") === 1, col("tmi"))).over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .filter(col("tmi") <= col("hi"))
      .selectExpr("tmi AS mi",
        "(718273 * (CAST(281474976710656 AS BIGINT) div " +
          "(sp + (256 - nb) * CAST(4294967296 AS BIGINT)))) div 1000000 AS est_win")
    // exact: each (key, month) occurrence covers target months mi..mi+2;
    // distinct (key, target) then count per target — one hash agg (the
    // base is w-clustered, so the distinct inserts no exchange); targets
    // past the last real month are trimmed by the inner join with the
    // already-bounded est frame
    val exact = li.select(col("w"), explode(expr("array(mi, mi + 1, mi + 2)")).as("tmi"))
      .distinct()
      .groupBy(col("tmi")).agg(count(lit(1)).as("exact_win"))
      .withColumnRenamed("tmi", "mi")
    est.join(exact, Seq("mi"))
      .selectExpr("mi", "est_win", "exact_win",
        "CASE WHEN exact_win = 0 THEN CAST(0 AS BIGINT) " +
          "ELSE abs(est_win - exact_win) * 10000 div exact_win END AS err_bp")
      .localCheckpoint(false) // sever the sort's range-sampling re-execution
      .orderBy(col("mi"))
  }

  /** Q62 — SKETCH-DRIVEN EQUI-DEPTH HISTOGRAM: quartile boundaries come
    * from d14's log-bucket quantile walk (global, ungrouped), then one
    * pass bins every order against the three broadcast boundary literals
    * — the two-pass ANALYZE shape every cost-based optimizer uses to
    * build equi-depth column statistics, where a single-pass exact
    * version would need a full sort. share_bp audits how close each bin
    * lands to the ideal 2500 (the sketch's equi-depth quality measured
    * in the result — d9/d11 discipline). Integer cents end-to-end; the
    * one float step is d14's floor(x·100). */
  def q62EquidepthHist(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val o = orders(s, d).select(
      greatest(expr("CAST(floor(o_totalprice * 100) AS BIGINT)"), lit(1L)).as("v"))
    val bucketed = o.selectExpr("v",
      """CASE WHEN length(bin(v)) <= 7 THEN v
        | ELSE CAST(length(bin(v)) AS BIGINT) * 64 +
        |      (shiftright(v, length(bin(v)) - 7) & CAST(63 AS BIGINT)) END AS b"""
        .stripMargin)
    val cum = bucketed.groupBy(col("b")).agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum(col("cnt")).over(
        Window.orderBy(col("b")).rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("n", sum(col("cnt")).over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
    // boundaries: lower bound of the bucket containing ranks p25/p50/p75
    // (the cum/window frames run over ≤ ~4k bucket rows — sketch-sized,
    // never data-sized, which is why the global window is safe here)
    val bounds = cum
      .select(col("b"), col("cum"), col("n"), explode(array(lit(25L), lit(50L), lit(75L))).as("q"))
      .filter(col("cum") >= expr("(n * q + 99) div 100"))
      .groupBy(col("q")).agg(min(col("b")).as("b"))
      .selectExpr("q",
        """CASE WHEN b < 128 THEN b
          | ELSE shiftleft(CAST(1 AS BIGINT), CAST(b div 64 AS INT) - 1) +
          |      shiftleft(b % 64, CAST(b div 64 AS INT) - 7) END AS bound"""
          .stripMargin)
      .groupBy().agg(
        max(when(col("q") === 25, col("bound"))).as("b25"),
        max(when(col("q") === 50, col("bound"))).as("b50"),
        max(when(col("q") === 75, col("bound"))).as("b75"))
    o.crossJoin(broadcast(bounds))
      .selectExpr(
        "CASE WHEN v < b25 THEN 0 WHEN v < b50 THEN 1 WHEN v < b75 THEN 2 ELSE 3 END AS bin",
        "v")
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_orders"), min(col("v")).as("min_cents"),
        max(col("v")).as("max_cents"))
      // total = sum over the ≤ 4 bin rows (every order lands in exactly
      // one bin) — a third scan of orders for count(*) would be wasted
      .selectExpr("bin", "n_orders", "min_cents", "max_cents",
        "CASE WHEN sum(n_orders) OVER () = 0 THEN CAST(0 AS BIGINT) " +
          "ELSE n_orders * 10000 div sum(n_orders) OVER () END AS share_bp")
      .orderBy(col("bin"))
  }

  /** T19 — log₂-bucketed document-length histogram: the corpus-shape
    * profile every dataset card reports (length distributions are
    * heavy-tailed, so linear bins like q24's are useless — power-of-two
    * buckets give the standard log-scale view). Integer log₂ via bit
    * length (`length(bin(n))` — the d11 rho trick), so the bucketing is
    * cross-engine exact with no log()/floor() float hazard. One narrow
    * projection + map-side-combinable group-count. */
  def t19LengthHistogram(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(when(col("n_chars") <= 0, lit(0))
        .otherwise(length(bin(col("n_chars")))).as("log2_bucket"))
      .groupBy(col("log2_bucket"))
      .agg(count(lit(1)).as("n_docs"))
      .select(col("log2_bucket"),
        expr("CASE WHEN log2_bucket = 0 THEN CAST(0 AS BIGINT) " +
          "ELSE shiftleft(CAST(1 AS BIGINT), log2_bucket - 1) END").as("bucket_min_chars"),
        col("n_docs"))
      .orderBy(col("log2_bucket"))

  val queries: Map[String, Q] = Map(
    "d11_hll_distinct" -> d11HllDistinct,
    "d21_bitmap_distinct" -> d21BitmapDistinct,
    "d22_kmv_distinct" -> d22KmvDistinct,
    "d24_kmv_jaccard" -> d24KmvJaccard,
    "d23_kmv_agg" -> d23KmvAgg,
    "d13_hll_grouped" -> d13HllGrouped,
    "d14_quantile_sketch" -> d14QuantileSketch,
    "d15_hll_setops" -> d15HllSetops,
    "d17_hll_agg" -> d17HllAgg,
    "d18_bloom_membership" -> d18BloomMembership,
    "d19_hll_timeseries" -> d19HllTimeseries,
    "d20_hll_sliding" -> d20HllSliding,
    "q62_equidepth_hist" -> q62EquidepthHist,
    "t16_cms_heavy_hitters" -> t16CmsHeavyHitters,
    "t19_length_histogram" -> t19LengthHistogram)

  /** D22 — K-MINIMUM-VALUES cardinality sketch (Bar-Yossef et al. 2002):
    * the ORDER-STATISTICS member of the sketch family, next to HLL
    * (register max, d11), CMS (frequency, t16), Bloom (membership, d18)
    * and DDSketch (rank, d14). Keep the k smallest distinct 40-bit key
    * hashes per group; the estimator is (k−1)·2⁴⁰ div h₍ₖ₎ — all BIGINT
    * ((k−1)·2⁴⁰ ≈ 2.8·10¹⁴), with the <k linear regime exact by
    * construction. The 'ALL' row is the MERGED sketch: k-min of the
    * per-group k-min unions — KMV's closure under union is what makes it
    * a distributed sketch (merging keeps exactly the information of
    * sketching the union; the spec pins this equality). 40-bit hashes
    * keep the estimator integer-exact; key-collision probability at the
    * fixture scale is ≪1 and identical in both engines (same md5 lane).
    *
    * Scale: distinct-hash reduction is one map-side-combinable hash agg;
    * the per-group rank window orders DISTINCT hashes only. At 100 TB the
    * production form replaces the window with a d17-style bounded-heap
    * TypedImperativeAggregate (k values per partition, merged k-min) —
    * the relational formulation here is the oracle-checkable contract. */
  def d22KmvDistinct(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val k = 256
    val kmConst = 255L * 1099511627776L // (k−1)·2^40 = 280375465082880
    // the d15 partial-counts discipline: eagerly checkpointing the
    // DATA-sized (grp, w) projection for the exact audit, a second
    // distinct for the ALL row and a separate two-phase count_distinct
    // would be three data-sized passes. Both consumers only ever
    // need the DISTINCT (grp, w) groups, and the ALL row needs distinct
    // (w): ONE rollup aggregate computes both group sets in a single
    // Expand + hash-agg scan of orders (grand-total row filtered via
    // grouping()), and the sketch AND the audit ride that distinct-keys-
    // sized frame. The (grp, h) DISTINCT feeding the rank window keeps
    // the collision collapse (.distinct()), and exact_distinct = count
    // over distinct (grp, w) groups ≡ count_distinct(w). Measured
    // same-window A/B at sf0.1 (BenchOne min-of-2): three-pass shape
    // 1.57 s / 13 jobs → 1.06-1.09 s / 10 jobs.
    val groups = orders(s, d)
      .select(col("o_orderpriority").as("g"), col("o_custkey").cast("string").as("w"))
      .rollup(col("w"), col("g"))
      .agg(grouping(col("g")).as("gg"), grouping(col("w")).as("gw"))
      .filter(col("gw") === 0) // keep (w, g) and (w); drop the () row
      .select(when(col("gg") === 1, lit("ALL")).otherwise(col("g")).as("grp"),
        col("w"))
      .localCheckpoint(false) // distinct-keys-sized; sketch + audit read it
    val hashes = groups
      .select(col("grp"),
        conv(substring(md5(col("w")), 1, 10), 16, 10).cast("long").as("h"))
      .distinct()
    val w = Window.partitionBy(col("grp")).orderBy(col("h"))
    val sk = hashes
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_kept"),
        max(when(col("rn") === k, col("h"))).as("hk"))
    val exact = groups.groupBy(col("grp")).agg(count(lit(1)).as("exact_distinct"))
    sk.join(exact, Seq("grp"))
      .selectExpr("grp", "n_kept",
        s"CASE WHEN n_kept < $k THEN n_kept " +
          s"ELSE ${kmConst}L div hk END AS est_distinct",
        "exact_distinct")
      .selectExpr("grp", "n_kept", "est_distinct", "exact_distinct",
        "CASE WHEN exact_distinct = 0 THEN CAST(0 AS BIGINT) " +
          "ELSE abs(est_distinct - exact_distinct) * 10000 div exact_distinct" +
          " END AS err_bp")
      .orderBy(col("grp"))
  }

  /** D24 — KMV SET-RESEMBLANCE: Jaccard similarity and intersection size
    * of two key sets estimated from their KMV sketches alone (Beyer et
    * al. 2007; Broder's minwise resemblance on order statistics) — the
    * "how much do these two corpora overlap" question answered WITHOUT
    * shuffling either key universe. Sets: customers placing URGENT vs
    * HIGH-priority orders.
    *
    * Estimator: trim each side's distinct 40-bit hashes to its k smallest
    * (the per-side KMV sketch), merge and re-trim to the union's k
    * smallest K. Any h ∈ K that belongs to set X is necessarily in X's
    * own k-min sketch (it is ≤ the union's k-th minimum, hence ≤ X's),
    * so membership flags come from the TRIMMED sketches only — the whole
    * estimate reads ≤ 2k sketch rows after the per-side distinct+trim:
    *   Ĵ = |K ∩ sk_A ∩ sk_B| / |K|,   |A∪B|^ = d22's (k−1)·2⁴⁰/h₍ₖ₎,
    *   |A∩B|^ = Ĵ·|A∪B|^ — all BIGINT basis points, no doubles.
    * Exact union/intersection/Jaccard ride along as the audit with the
    * d09 err_bp discipline.
    *
    * Scale: per-side hash dedup is map-side combinable; the rank windows
    * order DISTINCT hashes per side, and the merge window is SKETCH-sized
    * (≤ 2k rows), never data-sized — same boundedness argument as q62's
    * quantile walk. At 100 TB each side's trim becomes the d23
    * bounded-heap aggregate; the relational form here is the
    * oracle-checkable contract. */
  def d24KmvJaccard(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val k = 256
    val kmConst = 255L * 1099511627776L // (k−1)·2^40
    // the d15 partial-counts discipline: no eager checkpoint of the
    // DATA-sized (side, w) projection for the exact audit. Both
    // consumers only ever need the distinct keys WITH their side flags —
    // exactly one groupBy(w) max-flag aggregate: the exact audit is its
    // 1-row roll-up, and the per-side hash stream is a filtered explode
    // of the same frame (the per-side DISTINCT that feeds the rank
    // windows keeps the collision collapse (.distinct())). Measured
    // same-window A/B at sf0.1 (BenchOne min-of-2, two pairs): checkpoint
    // shape 0.95 s / 13 jobs → 1.00-1.15 s / 12 jobs — a WALL-CLOCK WASH
    // at this SF (the flags agg serializes both branches), kept for the
    // scale shape: data shuffles once into a lazy distinct-keys-sized
    // frame instead of persisting the DATA-sized projection in the block
    // manager solely for the audit.
    val flags = orders(s, d)
      .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
      .select(when(col("o_orderpriority") === "1-URGENT", lit("A"))
        .otherwise(lit("B")).as("side"),
        col("o_custkey").cast("string").as("w"))
      .groupBy(col("w"))
      .agg(max(when(col("side") === "A", 1L).otherwise(0L)).as("a"),
        max(when(col("side") === "B", 1L).otherwise(0L)).as("b"))
      .localCheckpoint(false) // distinct-keys-sized; sketch + audit read it
    val trimmed = flags
      .select(explode(expr(
        "filter(array(CASE WHEN a = 1 THEN 'A' END, CASE WHEN b = 1 THEN 'B' END)," +
          " x -> x IS NOT NULL)")).as("side"),
        conv(substring(md5(col("w")), 1, 10), 16, 10).cast("long").as("h"))
      .distinct()
      .withColumn("rn",
        row_number().over(Window.partitionBy(col("side")).orderBy(col("h"))))
      .filter(col("rn") <= k)
      .select(col("side"), col("h"))
      .localCheckpoint(true) // ≤ 2k rows; read by the merge AND both flags
    val merged = trimmed.select(col("h")).distinct()
      .withColumn("rn", row_number().over(Window.orderBy(col("h"))))
      .filter(col("rn") <= k)
    val sk = merged
      .join(trimmed.filter(col("side") === "A")
        .select(col("h"), lit(1L).as("in_a")), Seq("h"), "left")
      .join(trimmed.filter(col("side") === "B")
        .select(col("h"), lit(1L).as("in_b")), Seq("h"), "left")
      .agg(count(lit(1)).as("n_kept"),
        sum(coalesce(col("in_a"), lit(0L)) * coalesce(col("in_b"), lit(0L)))
          .cast("long").as("matches"),
        max(when(col("rn") === k, col("h"))).as("hk"))
    val exact = flags
      .agg(count(lit(1)).as("exact_union"),
        sum(col("a") * col("b")).cast("long").as("exact_intersection"))
    sk.crossJoin(exact)
      .selectExpr("n_kept", "matches",
        s"CASE WHEN n_kept < $k THEN n_kept ELSE ${kmConst}L div hk END AS est_union",
        "CASE WHEN n_kept = 0 THEN CAST(0 AS BIGINT) " +
          "ELSE matches * 10000 div n_kept END AS est_jaccard_bp",
        "exact_union", "exact_intersection")
      .selectExpr("n_kept", "matches", "est_union", "est_jaccard_bp",
        "CASE WHEN n_kept = 0 THEN CAST(0 AS BIGINT) " +
          "ELSE matches * est_union div n_kept END AS est_intersection",
        "exact_union", "exact_intersection",
        "CASE WHEN exact_union = 0 THEN CAST(0 AS BIGINT) " +
          "ELSE exact_intersection * 10000 div exact_union END AS exact_jaccard_bp")
      .selectExpr("n_kept", "matches", "est_union", "est_jaccard_bp",
        "est_intersection", "exact_union", "exact_intersection",
        "exact_jaccard_bp",
        "abs(est_jaccard_bp - exact_jaccard_bp) AS err_bp")
  }

  /** D23 — native KMV aggregate ([[graft.plans.KmvSketchAgg]]): the
    * bounded-heap TypedImperativeAggregate form of d22 — ≤ k longs of
    * state per group, union-trim merge, ≤ k·8 bytes shuffled per partial
    * state regardless of partition row count. The oracle recomputes the
    * estimate RELATIONALLY (d22's ranked-window SQL), so the green hash
    * proves the imperative path bit-equal to the relational one — the
    * same imperative-vs-relational pin as d17. The spec additionally pins
    * d23's rows equal to d22's estimate column in-engine. */
  def d23KmvAgg(s: SparkSession, d: String): DataFrame = {
    val keyed = orders(s, d).select(col("o_orderpriority").as("grp"),
      col("o_custkey").cast("string").as("w"))
      .localCheckpoint(true) // read by the per-group agg AND the ALL agg
    val per = keyed.groupBy(col("grp"))
      .agg(graft.plans.KmvSketchAgg.kmvDistinct(col("w")).as("est_distinct"))
    val all = keyed
      .agg(graft.plans.KmvSketchAgg.kmvDistinct(col("w")).as("est_distinct"))
      .select(lit("ALL").as("grp"), col("est_distinct"))
    per.unionAll(all).orderBy(col("grp"))
  }

  // ----------------------------------------------------------- oracle SQL

  private val wordsSql = """regexp_split_to_array(trim(lower(text)), '\s+')"""

  val oracle: Map[String, String] = Map(
    "d23_kmv_agg" ->
      """WITH keyed AS (
           SELECT o_orderpriority AS grp, CAST(o_custkey AS VARCHAR) AS w
           FROM orders
         ), h0 AS (
           SELECT DISTINCT grp,
                  CAST(concat('0x', substr(md5(w), 1, 10)) AS BIGINT) AS h
           FROM keyed
         ), hu AS (
           SELECT grp, h FROM h0
           UNION ALL SELECT DISTINCT 'ALL' AS grp, h FROM h0
         ), rk AS (
           SELECT grp, h,
                  row_number() OVER (PARTITION BY grp ORDER BY h) AS rn
           FROM hu
         ), sk AS (
           SELECT grp, CAST(count(*) AS BIGINT) AS n_kept,
                  max(CASE WHEN rn = 256 THEN h END) AS hk
           FROM rk WHERE rn <= 256 GROUP BY grp
         )
         SELECT grp,
                CAST(CASE WHEN n_kept < 256 THEN n_kept
                     ELSE 280375465082880 // hk END AS BIGINT) AS est_distinct
         FROM sk ORDER BY grp""",
    "d22_kmv_distinct" ->
      """WITH keyed AS (
           SELECT o_orderpriority AS grp, CAST(o_custkey AS VARCHAR) AS w
           FROM orders
         ), h0 AS (
           SELECT DISTINCT grp,
                  CAST(concat('0x', substr(md5(w), 1, 10)) AS BIGINT) AS h
           FROM keyed
         ), hu AS (
           SELECT grp, h FROM h0
           UNION ALL SELECT DISTINCT 'ALL' AS grp, h FROM h0
         ), rk AS (
           SELECT grp, h,
                  row_number() OVER (PARTITION BY grp ORDER BY h) AS rn
           FROM hu
         ), sk AS (
           SELECT grp, CAST(count(*) AS BIGINT) AS n_kept,
                  max(CASE WHEN rn = 256 THEN h END) AS hk
           FROM rk WHERE rn <= 256 GROUP BY grp
         ), ex AS (
           SELECT grp, CAST(count(DISTINCT w) AS BIGINT) AS exact_distinct
           FROM (SELECT grp, w FROM keyed
                 UNION ALL SELECT 'ALL' AS grp, w FROM keyed) u
           GROUP BY grp
         ), est AS (
           SELECT s.grp, s.n_kept,
                  CAST(CASE WHEN s.n_kept < 256 THEN s.n_kept
                       ELSE 280375465082880 // s.hk END AS BIGINT)
                    AS est_distinct,
                  e.exact_distinct
           FROM sk s JOIN ex e ON e.grp = s.grp
         )
         SELECT grp, n_kept, est_distinct, exact_distinct,
                CAST(CASE WHEN exact_distinct = 0 THEN 0
                     ELSE abs(est_distinct - exact_distinct) * 10000
                          // exact_distinct END AS BIGINT) AS err_bp
         FROM est ORDER BY grp""",
    "d24_kmv_jaccard" ->
      """WITH keyed AS (
           SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 'A' ELSE 'B' END AS side,
                  CAST(o_custkey AS VARCHAR) AS w
           FROM orders WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
         ), h0 AS (
           SELECT DISTINCT side,
                  CAST(concat('0x', substr(md5(w), 1, 10)) AS BIGINT) AS h
           FROM keyed
         ), trimmed AS (
           SELECT side, h FROM (
             SELECT side, h,
                    row_number() OVER (PARTITION BY side ORDER BY h) AS rn
             FROM h0) t
           WHERE rn <= 256
         ), merged AS (
           SELECT h, rn FROM (
             SELECT h, row_number() OVER (ORDER BY h) AS rn
             FROM (SELECT DISTINCT h FROM trimmed) u) t
           WHERE rn <= 256
         ), sk AS (
           SELECT CAST(count(*) AS BIGINT) AS n_kept,
                  CAST(sum(CASE WHEN a.h IS NOT NULL AND b.h IS NOT NULL
                           THEN 1 ELSE 0 END) AS BIGINT) AS matches,
                  max(CASE WHEN m.rn = 256 THEN m.h END) AS hk
           FROM merged m
           LEFT JOIN (SELECT h FROM trimmed WHERE side = 'A') a ON a.h = m.h
           LEFT JOIN (SELECT h FROM trimmed WHERE side = 'B') b ON b.h = m.h
         ), ex AS (
           SELECT CAST(count(*) AS BIGINT) AS exact_union,
                  CAST(sum(a * b) AS BIGINT) AS exact_intersection
           FROM (SELECT w, max(CASE WHEN side = 'A' THEN 1 ELSE 0 END) AS a,
                        max(CASE WHEN side = 'B' THEN 1 ELSE 0 END) AS b
                 FROM keyed GROUP BY w) t
         ), est AS (
           SELECT n_kept, matches,
                  CAST(CASE WHEN n_kept < 256 THEN n_kept
                       ELSE 280375465082880 // hk END AS BIGINT) AS est_union,
                  CAST(CASE WHEN n_kept = 0 THEN 0
                       ELSE matches * 10000 // n_kept END AS BIGINT) AS est_jaccard_bp,
                  exact_union, exact_intersection
           FROM sk, ex
         ), fin AS (
           SELECT n_kept, matches, est_union, est_jaccard_bp,
                  CAST(CASE WHEN n_kept = 0 THEN 0
                       ELSE matches * est_union // n_kept END AS BIGINT)
                    AS est_intersection,
                  exact_union, exact_intersection,
                  CAST(CASE WHEN exact_union = 0 THEN 0
                       ELSE exact_intersection * 10000 // exact_union END AS BIGINT)
                    AS exact_jaccard_bp
           FROM est
         )
         SELECT n_kept, matches, est_union, est_jaccard_bp, est_intersection,
                exact_union, exact_intersection, exact_jaccard_bp,
                CAST(abs(est_jaccard_bp - exact_jaccard_bp) AS BIGINT) AS err_bp
         FROM fin""",
    "d21_bitmap_distinct" ->
      """WITH w AS (
           SELECT event_type, user_id // 32 AS word_idx,
                  CAST(bit_or(1::BIGINT << CAST(user_id % 32 AS INT)) AS BIGINT) AS bits
           FROM events GROUP BY event_type, user_id // 32
         )
         SELECT event_type, CAST(count(*) AS BIGINT) AS n_words,
                CAST(sum(bit_count(bits)) AS BIGINT) AS n_users,
                CAST(max(bit_count(bits)) AS BIGINT) AS densest_word
         FROM w GROUP BY event_type ORDER BY event_type""",
    "d11_hll_distinct" ->
      s"""WITH occ AS (
            SELECT CAST(o_orderkey AS VARCHAR) AS w FROM orders
          ), h AS (
            SELECT CAST(concat('0x', substr(md5(w), 1, 8)) AS BIGINT) % 256 AS bucket,
                   CAST(concat('0x', substr(md5(w), 9, 8)) AS BIGINT) AS wd
            FROM occ
          ), regs AS (
            SELECT bucket,
                   max(CASE WHEN wd = 0 THEN 32 ELSE 33 - length(bin(wd)) END) AS r
            FROM h GROUP BY bucket
          ), agg AS (
            SELECT CAST(sum(1::BIGINT << (32 - r)) AS BIGINT) AS sp,
                   count(*) AS nb
            FROM regs
          ), est AS (
            SELECT CAST(256 AS BIGINT) AS n_buckets,
                   CAST(256 - nb AS BIGINT) AS zero_buckets,
                   CAST((718273 * (281474976710656::BIGINT
                          // (sp + (256 - nb) * 4294967296::BIGINT))) // 1000000
                        AS BIGINT) AS est_distinct
            FROM agg
          ), ex AS (
            SELECT count(DISTINCT w) AS exact_distinct FROM occ
          )
          SELECT n_buckets, zero_buckets, est_distinct,
                 CAST(exact_distinct AS BIGINT) AS exact_distinct,
                 CAST(CASE WHEN exact_distinct = 0 THEN 0
                           ELSE abs(est_distinct - exact_distinct) * 10000
                                // exact_distinct END
                      AS BIGINT) AS err_bp
          FROM est, ex""",
    "d13_hll_grouped" ->
      s"""WITH occ AS (
            SELECT o_orderpriority AS segment, CAST(o_custkey AS VARCHAR) AS w
            FROM orders
          ), h AS (
            SELECT segment,
                   CAST(concat('0x', substr(md5(w), 1, 8)) AS BIGINT) % 256 AS bucket,
                   CAST(concat('0x', substr(md5(w), 9, 8)) AS BIGINT) AS wd
            FROM occ
          ), regs AS (
            SELECT segment, bucket,
                   max(CASE WHEN wd = 0 THEN 32 ELSE 33 - length(bin(wd)) END) AS r
            FROM h GROUP BY segment, bucket
          ), agg AS (
            SELECT segment, CAST(sum(1::BIGINT << (32 - r)) AS BIGINT) AS sp,
                   count(*) AS nb
            FROM regs GROUP BY segment
          ), est AS (
            SELECT segment,
                   CAST((718273 * (281474976710656::BIGINT
                          // (sp + (256 - nb) * 4294967296::BIGINT))) // 1000000
                        AS BIGINT) AS est_distinct
            FROM agg
          ), ex AS (
            SELECT segment, count(DISTINCT w) AS exact_distinct
            FROM occ GROUP BY segment
          )
          SELECT e.segment, e.est_distinct,
                 CAST(x.exact_distinct AS BIGINT) AS exact_distinct,
                 CAST(CASE WHEN x.exact_distinct = 0 THEN 0
                           ELSE abs(e.est_distinct - x.exact_distinct) * 10000
                                // x.exact_distinct END
                      AS BIGINT) AS err_bp
          FROM est e JOIN ex x ON x.segment = e.segment
          ORDER BY e.segment""",
    "d17_hll_agg" ->
      // d11's relational estimate, est_distinct only — the imperative
      // buffer path must land on the identical BIGINT
      s"""WITH occ AS (
            SELECT CAST(o_orderkey AS VARCHAR) AS w FROM orders
          ), h AS (
            SELECT CAST(concat('0x', substr(md5(w), 1, 8)) AS BIGINT) % 256 AS bucket,
                   CAST(concat('0x', substr(md5(w), 9, 8)) AS BIGINT) AS wd
            FROM occ
          ), regs AS (
            SELECT bucket,
                   max(CASE WHEN wd = 0 THEN 32 ELSE 33 - length(bin(wd)) END) AS r
            FROM h GROUP BY bucket
          ), agg AS (
            SELECT CAST(sum(1::BIGINT << (32 - r)) AS BIGINT) AS sp,
                   count(*) AS nb
            FROM regs
          )
          SELECT CAST((718273 * (281474976710656::BIGINT
                        // (sp + (256 - nb) * 4294967296::BIGINT))) // 1000000
                      AS BIGINT) AS est_distinct
          FROM agg""",
    "d19_hll_timeseries" ->
      """WITH li AS (
           SELECT CAST(year(l_shipdate) * 100 + month(l_shipdate) AS BIGINT) AS ym,
                  concat(CAST(l_partkey AS VARCHAR), '#',
                         CAST(l_suppkey AS VARCHAR)) AS w
           FROM lineitem
         ), h AS (
           SELECT ym,
                  CAST(concat('0x', substr(md5(w), 1, 8)) AS BIGINT) % 256 AS bucket,
                  CAST(concat('0x', substr(md5(w), 9, 8)) AS BIGINT) AS wd
           FROM li
         ), regs AS (
           SELECT ym, bucket,
                  max(CASE WHEN wd = 0 THEN 32 ELSE 33 - length(bin(wd)) END) AS r
           FROM h GROUP BY ym, bucket
         ), grid AS (
           SELECT m.ym, b.bucket
           FROM (SELECT DISTINCT ym FROM li) m
           CROSS JOIN (SELECT DISTINCT bucket FROM regs) b
         ), cum AS (
           SELECT g.ym,
                  max(r.r) OVER (PARTITION BY g.bucket ORDER BY g.ym
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rc
           FROM grid g LEFT JOIN regs r ON r.ym = g.ym AND r.bucket = g.bucket
         ), est AS (
           SELECT ym,
                  CAST((718273 * (281474976710656::BIGINT
                         // (CAST(sum(1::BIGINT << (32 - rc)) AS BIGINT)
                            + (256 - count(*)) * 4294967296::BIGINT))) // 1000000
                       AS BIGINT) AS est_cum
           FROM cum WHERE rc IS NOT NULL GROUP BY ym
         ), fs AS (
           SELECT w, min(ym) AS fym FROM li GROUP BY w
         ), npm AS (
           SELECT fym AS ym, CAST(count(*) AS BIGINT) AS nw FROM fs GROUP BY fym
         ), ex AS (
           SELECT m.ym,
                  CAST(sum(coalesce(n.nw, 0)) OVER (ORDER BY m.ym
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS BIGINT) AS exact_cum
           FROM (SELECT DISTINCT ym FROM li) m LEFT JOIN npm n ON n.ym = m.ym
         )
         SELECT e.ym, e.est_cum, x.exact_cum,
                CAST(CASE WHEN x.exact_cum = 0 THEN 0
                          ELSE abs(e.est_cum - x.exact_cum) * 10000 // x.exact_cum END
                     AS BIGINT) AS err_bp
         FROM est e JOIN ex x ON x.ym = e.ym ORDER BY e.ym""",
    "d20_hll_sliding" ->
      """WITH li AS (
           SELECT CAST(year(l_shipdate) * 12 + month(l_shipdate) AS BIGINT) AS mi,
                  concat(CAST(l_partkey AS VARCHAR), '#',
                         CAST(l_suppkey AS VARCHAR)) AS w
           FROM lineitem
         ), h AS (
           SELECT mi,
                  CAST(concat('0x', substr(md5(w), 1, 8)) AS BIGINT) % 256 AS bucket,
                  CAST(concat('0x', substr(md5(w), 9, 8)) AS BIGINT) AS wd
           FROM li
         ), regs AS (
           SELECT mi, bucket,
                  max(CASE WHEN wd = 0 THEN 32 ELSE 33 - length(bin(wd)) END) AS r
           FROM h GROUP BY mi, bucket
         ), sp AS (
           SELECT unnest(generate_series((SELECT min(mi) FROM regs),
                                         (SELECT max(mi) FROM regs))) AS mi
         ), grid AS (
           SELECT s.mi, b.bucket
           FROM sp s CROSS JOIN (SELECT DISTINCT bucket FROM regs) b
         ), win AS (
           SELECT g.mi,
                  max(r.r) OVER (PARTITION BY g.bucket ORDER BY g.mi
                        ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS rw
           FROM grid g LEFT JOIN regs r ON r.mi = g.mi AND r.bucket = g.bucket
         ), est AS (
           SELECT mi,
                  CAST((718273 * (281474976710656::BIGINT
                         // (CAST(sum(1::BIGINT << (32 - rw)) AS BIGINT)
                            + (256 - count(*)) * 4294967296::BIGINT))) // 1000000
                       AS BIGINT) AS est_win
           FROM win WHERE rw IS NOT NULL GROUP BY mi
         ), tg AS (
           SELECT DISTINCT w, mi + t.t AS tmi
           FROM li, LATERAL (SELECT unnest([0, 1, 2]) AS t) t
         ), ex AS (
           SELECT t.tmi AS mi, CAST(count(*) AS BIGINT) AS exact_win
           FROM tg t JOIN sp s ON s.mi = t.tmi GROUP BY t.tmi
         )
         SELECT e.mi, e.est_win, x.exact_win,
                CAST(CASE WHEN x.exact_win = 0 THEN 0
                          ELSE abs(e.est_win - x.exact_win) * 10000 // x.exact_win END
                     AS BIGINT) AS err_bp
         FROM est e JOIN ex x ON x.mi = e.mi ORDER BY e.mi""",
    "q62_equidepth_hist" ->
      """WITH o AS (
           SELECT greatest(CAST(floor(o_totalprice * 100) AS BIGINT), 1) AS v
           FROM orders
         ), bk AS (
           SELECT v,
                  CASE WHEN length(bin(v)) <= 7 THEN v
                       ELSE CAST(length(bin(v)) AS BIGINT) * 64 +
                            ((v >> (length(bin(v)) - 7)) & 63) END AS b
           FROM o
         ), cum AS (
           SELECT b, cnt,
                  CAST(sum(cnt) OVER (ORDER BY b
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS BIGINT) AS cum,
                  CAST(sum(cnt) OVER () AS BIGINT) AS n
           FROM (SELECT b, count(*) AS cnt FROM bk GROUP BY b) s
         ), qv AS (
           SELECT CAST(unnest([25, 50, 75]) AS BIGINT) AS q
         ), app AS (
           SELECT q, min(b) AS b
           FROM cum, qv WHERE cum >= (n * q + 99) // 100
           GROUP BY q
         ), bounds AS (
           SELECT max(CASE WHEN q = 25 THEN bound END) AS b25,
                  max(CASE WHEN q = 50 THEN bound END) AS b50,
                  max(CASE WHEN q = 75 THEN bound END) AS b75
           FROM (SELECT q,
                        CASE WHEN b < 128 THEN b
                             ELSE (CAST(1 AS BIGINT) << (CAST(b // 64 AS INTEGER) - 1)) +
                                  ((b % 64) << (CAST(b // 64 AS INTEGER) - 7)) END AS bound
                 FROM app) t
         ), binned AS (
           SELECT CASE WHEN v < b25 THEN 0 WHEN v < b50 THEN 1
                       WHEN v < b75 THEN 2 ELSE 3 END AS bin, v
           FROM o, bounds
         ), tot AS (
           SELECT CAST(count(*) AS BIGINT) AS n_total FROM o
         )
         SELECT bin, count(*) AS n_orders,
                min(v) AS min_cents, max(v) AS max_cents,
                CAST(CASE WHEN n_total = 0 THEN 0
                          ELSE count(*) * 10000 // n_total END AS BIGINT) AS share_bp
         FROM binned, tot
         GROUP BY bin, n_total ORDER BY bin""",
    "d18_bloom_membership" ->
      """WITH keys AS (
           SELECT DISTINCT CAST(o_orderkey AS VARCHAR) AS w FROM orders
         ), bits AS (
           SELECT DISTINCT
                  CAST(concat('0x', substr(md5(w || '#' || CAST(lane AS VARCHAR)), 1, 8))
                       AS BIGINT) % 1048576 AS bit
           FROM keys, LATERAL (SELECT unnest([0, 1, 2, 3]) AS lane) l
         ), present AS (
           SELECT w, CAST(1 AS BIGINT) AS truly_present
           FROM keys ORDER BY md5(w) LIMIT 100
         ), absent AS (
           SELECT 'absent#' || CAST(i AS VARCHAR) AS w, CAST(0 AS BIGINT) AS truly_present
           FROM range(1000) t(i)
         ), probes AS (
           SELECT * FROM present UNION ALL SELECT * FROM absent
         ), lanes AS (
           SELECT p.w, p.truly_present,
                  CAST(concat('0x', substr(md5(p.w || '#' || CAST(l.lane AS VARCHAR)), 1, 8))
                       AS BIGINT) % 1048576 AS bit
           FROM probes p, LATERAL (SELECT unnest([0, 1, 2, 3]) AS lane) l
         ), hits AS (
           SELECT w, truly_present FROM lanes JOIN bits USING (bit)
           GROUP BY w, truly_present HAVING count(*) = 4
         ), summary AS (
           SELECT p.truly_present, count(*) AS n_probes,
                  CAST(sum(CASE WHEN h.w IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                    AS n_hits
           FROM probes p LEFT JOIN hits h
             ON h.w = p.w AND h.truly_present = p.truly_present
           GROUP BY p.truly_present
         ), stats AS (
           SELECT (SELECT CAST(count(*) AS BIGINT) FROM keys) AS n_keys,
                  (SELECT CAST(count(*) AS BIGINT) FROM bits) AS bits_set
         )
         SELECT truly_present, n_probes, n_hits,
                CAST(CASE WHEN n_probes = 0 THEN 0
                          ELSE n_hits * 10000 // n_probes END AS BIGINT) AS hit_bp,
                n_keys, bits_set
         FROM summary, stats
         ORDER BY truly_present""",
    "d15_hll_setops" ->
      s"""WITH keyed AS (
            SELECT CASE WHEN l_linenumber % 2 = 1 THEN 'A' ELSE 'B' END AS side,
                   concat(CAST(l_partkey AS VARCHAR), '#',
                          CAST(l_suppkey AS VARCHAR)) AS w
            FROM lineitem
          ), h AS (
            SELECT side,
                   CAST(concat('0x', substr(md5(w), 1, 8)) AS BIGINT) % 256 AS bucket,
                   CAST(concat('0x', substr(md5(w), 9, 8)) AS BIGINT) AS wd
            FROM keyed
          ), rho AS (
            SELECT side, bucket,
                   CASE WHEN wd = 0 THEN 32 ELSE 33 - length(bin(wd)) END AS rho
            FROM h
          ), side_regs AS (
            SELECT side, bucket, max(rho) AS r FROM rho GROUP BY side, bucket
          ), side_est AS (
            SELECT side,
                   CAST((718273 * (281474976710656::BIGINT
                          // (CAST(sum(1::BIGINT << (32 - r)) AS BIGINT)
                             + (256 - count(*)) * 4294967296::BIGINT))) // 1000000
                        AS BIGINT) AS est
            FROM side_regs GROUP BY side
          ), union_regs AS (
            SELECT bucket, max(r) AS r FROM side_regs GROUP BY bucket
          ), union_est AS (
            SELECT CAST((718273 * (281474976710656::BIGINT
                          // (CAST(sum(1::BIGINT << (32 - r)) AS BIGINT)
                             + (256 - count(*)) * 4294967296::BIGINT))) // 1000000
                        AS BIGINT) AS est_union
            FROM union_regs
          ), ests AS (
            SELECT max(CASE WHEN side = 'A' THEN est END) AS est_a,
                   max(CASE WHEN side = 'B' THEN est END) AS est_b
            FROM side_est
          ), exact_sides AS (
            SELECT max(CASE WHEN side = 'A' THEN x END) AS exact_a,
                   max(CASE WHEN side = 'B' THEN x END) AS exact_b
            FROM (SELECT side, CAST(count(DISTINCT w) AS BIGINT) AS x
                  FROM keyed GROUP BY side) t
          ), exact_union AS (
            SELECT CAST(count(DISTINCT w) AS BIGINT) AS exact_union FROM keyed
          )
          SELECT est_a, est_b, est_union,
                 est_a + est_b - est_union AS est_intersect,
                 exact_a, exact_b, exact_union,
                 exact_a + exact_b - exact_union AS exact_intersect,
                 CAST(CASE WHEN est_union = 0 THEN 0
                           ELSE (est_a + est_b - est_union) * 10000 // est_union END
                      AS BIGINT) AS jaccard_bp_est,
                 CAST(CASE WHEN exact_union = 0 THEN 0
                           ELSE (exact_a + exact_b - exact_union) * 10000 // exact_union END
                      AS BIGINT) AS jaccard_bp_exact
          FROM ests, union_est, exact_sides, exact_union""",
    "d14_quantile_sketch" ->
      """WITH o AS (
           SELECT o_orderpriority AS segment,
                  greatest(CAST(floor(o_totalprice * 100) AS BIGINT), 1) AS v
           FROM orders
         ), bk AS (
           SELECT segment, v,
                  CASE WHEN length(bin(v)) <= 7 THEN v
                       ELSE CAST(length(bin(v)) AS BIGINT) * 64 +
                            ((v >> (length(bin(v)) - 7)) & 63) END AS b
           FROM o
         ), sketch AS (
           SELECT segment, b, count(*) AS cnt FROM bk GROUP BY segment, b
         ), cum AS (
           SELECT segment, b, cnt,
                  CAST(sum(cnt) OVER (PARTITION BY segment ORDER BY b) AS BIGINT) AS cum,
                  CAST(sum(cnt) OVER (PARTITION BY segment) AS BIGINT) AS n
           FROM sketch
         ), qv AS (
           SELECT CAST(unnest([50, 90, 99]) AS BIGINT) AS q
         ), app AS (
           SELECT segment, q, n, min(b) AS b
           FROM cum, qv WHERE cum >= (n * q + 99) // 100
           GROUP BY segment, q, n
         ), appr AS (
           SELECT segment, q, n,
                  CASE WHEN b < 128 THEN b
                       ELSE (CAST(1 AS BIGINT) << (CAST(b // 64 AS INTEGER) - 1)) +
                            ((b % 64) << (CAST(b // 64 AS INTEGER) - 7)) END AS approx_q
           FROM app
         ), rn AS (
           SELECT segment, v,
                  row_number() OVER (PARTITION BY segment ORDER BY v) AS rn,
                  CAST(count(*) OVER (PARTITION BY segment) AS BIGINT) AS n
           FROM o
         ), ex AS (
           SELECT r.segment, qv.q, r.v AS exact_q
           FROM rn r, qv WHERE r.rn = (r.n * qv.q + 99) // 100
         )
         SELECT a.segment, a.q, a.n, a.approx_q, e.exact_q,
                CAST((e.exact_q - a.approx_q) * 10000 // e.exact_q AS BIGINT) AS err_bp
         FROM appr a JOIN ex e ON e.segment = a.segment AND e.q = a.q
         ORDER BY a.segment, a.q""",
    "t19_length_histogram" ->
      """WITH b AS (
           SELECT CASE WHEN n_chars <= 0 THEN 0
                       ELSE CAST(length(bin(n_chars)) AS INTEGER) END AS log2_bucket
           FROM documents
         )
         SELECT log2_bucket,
                CASE WHEN log2_bucket = 0 THEN CAST(0 AS BIGINT)
                     ELSE CAST(1::BIGINT << (log2_bucket - 1) AS BIGINT) END
                  AS bucket_min_chars,
                count(*) AS n_docs
         FROM b GROUP BY log2_bucket ORDER BY log2_bucket""",
    "t16_cms_heavy_hitters" ->
      s"""WITH occ AS (
            SELECT w FROM (
              SELECT unnest($wordsSql) AS w FROM documents) t
            WHERE length(w) > 0
          ), cells AS (
            SELECT r.r,
                   CAST(concat('0x', substr(md5(w || '#' || CAST(r.r AS VARCHAR)), 1, 8))
                        AS BIGINT) % 1024 AS c
            FROM occ, LATERAL (SELECT unnest([0, 1, 2, 3]) AS r) r
          ), sketch AS (
            SELECT r, c, count(*) AS cell FROM cells GROUP BY r, c
          ), top AS (
            SELECT w, count(*) AS true_cnt FROM occ
            GROUP BY w ORDER BY true_cnt DESC, w LIMIT 20
          ), probes AS (
            SELECT w, true_cnt, r.r,
                   CAST(concat('0x', substr(md5(w || '#' || CAST(r.r AS VARCHAR)), 1, 8))
                        AS BIGINT) % 1024 AS c
            FROM top, LATERAL (SELECT unnest([0, 1, 2, 3]) AS r) r
          )
          SELECT p.w AS word, p.true_cnt,
                 min(s.cell) AS cms_est,
                 CAST(min(s.cell) - p.true_cnt AS BIGINT) AS overcount
          FROM probes p JOIN sketch s ON s.r = p.r AND s.c = p.c
          GROUP BY p.w, p.true_cnt
          ORDER BY p.true_cnt DESC, word""")
}
