package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for large text corpora.
  *
  * Reference semantics: resources/refine/dedupe.py:31-107 (BLAKE2b content
  * hash, first-wins in deterministic walk order). Beyond the reference, this
  * module adds the near-dup family a training-data pipeline needs: MinHash
  * LSH, SimHash, n-gram Jaccard, and embedding-cosine near-dup.
  *
  * Scale design notes (100 TB):
  *  - `exactFirstWins` is ONE hash-shuffle on the digest; no pairwise work.
  *  - MinHash/SimHash candidate generation only ever joins on (band, hash)
  *    or fingerprint buckets — the quadratic all-pairs comparison is
  *    avoided; candidate pairs are then verified exactly.
  *  - All hashing is expressed as integer Column arithmetic over md5 prefixes
  *    (codegen'd, deterministic across engines/retries). No UDFs.
  */
object Dedupe {

  /** Exact dedupe, first-wins by `order` within equal `hash`.
    * The reference's dedupe.py walk-order "first" pinned to an explicit
    * deterministic order column.
    */
  def exactFirstWins(df: DataFrame, hash: Column, order: Column): DataFrame = {
    val w = Window.partitionBy(hash).orderBy(order)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Lower-cased whitespace-split word array of a text column. */
  def words(text: Column): Column = split(trim(lower(text)), "\\s+")

  /** `n`-gram word shingles of a text column (space-joined). Empty array when
    * the text has fewer than `n` words. Empty tokens are dropped before
    * shingling: `trim` strips only spaces, so a tab/newline-
    * prefixed text would otherwise contribute a leading "" token and
    * produce shingles the filtered docShingles tokenization does not —
    * with the filter the two tokenizations are identical by construction,
    * not just on fixtures without such texts. Oracle SQL that replicates
    * this shingle construction applies the same list_filter.
    */
  def shingles(text: Column, n: Int): Column = {
    val ws = filter(words(text), w => length(w) > lit(0))
    when(size(ws) >= n,
      transform(sequence(lit(0), size(ws) - lit(n)),
        i => concat_ws(" ", slice(ws, i + 1, lit(n)))))
      .otherwise(array().cast("array<string>"))
  }

  /** Portable 32-bit hash of a string as a non-negative long: the first 8 hex
    * chars of md5. Chosen over murmur/xxhash because every engine (and the
    * DuckDB oracle) computes the identical value.
    */
  def md5Hash32(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  private val MersennePrime = 2147483647L // 2^31 - 1

  /** Deterministic affine hash family params (a_k, b_k) for MinHash. */
  def hashFamily(k: Int): Seq[(Long, Long)] = {
    // Linear congruential constants derived from a fixed seed — stable
    // across runs so signatures are reproducible.
    val rnd = new scala.util.Random(42)
    Seq.fill(k)((math.abs(rnd.nextLong()) % (MersennePrime - 1) + 1,
      math.abs(rnd.nextLong()) % MersennePrime))
  }

  /** MinHash signature (array<long> of length k) over a shingle array.
    *
    * The md5 base hashes are bound once via a lambda variable
    * (`transform` over a single-element wrapper) so the k affine lanes
    * reuse them — inlining `base` into each lane would re-md5 every
    * shingle k times (measured 50× slower at bench).
    */
  def minhashSignature(shingleArr: Column, k: Int): Column = {
    val base = transform(shingleArr, s => md5Hash32(s) % MersennePrime)
    val sig = (h: Column) => array(hashFamily(k).map { case (a, b) =>
      array_min(transform(h, x => (x * a + b) % MersennePrime))
    }: _*)
    // bind base to a lambda variable: evaluate once, reference k times
    element_at(transform(array(base), h => sig(h)), 1)
  }

  /** MinHash + LSH banding near-dup candidate pairs.
    *
    * Pipeline: shingle → k-minhash signature → split into `bands` bands →
    * explode (doc, band_idx, band_key) → self-join on (band_idx, band_key)
    * with id < id — a pure equi-join, shuffle-partitioned on the band key,
    * which is the scalable LSH shape — then verify candidates with exact
    * signature agreement and keep pairs above `minAgree`.
    *
    * @return columns (id_a, id_b, agree) — agree = fraction of equal
    *         signature components (Jaccard estimate).
    */
  /** MinHash signatures (id, sig array<long> length k) via explode + ONE
    * codegen'd hash aggregate (min per lane) instead of per-row
    * higher-order functions: HOF lambdas are evaluated interpreted in
    * Spark, and the signature subtree would otherwise be recomputed on
    * each side of any downstream self-join. The tiny aggregated result
    * (one row per doc) is localCheckpoint'ed so every consumer reads
    * materialized blocks, not the lineage. Shared by [[minhashLshPairs]]
    * and the d27 band-configuration sweep. */
  def minhashSignatures(df: DataFrame, id: Column, text: Column,
      shingleN: Int = 3, k: Int = 16): DataFrame = {
    // memoized per (application, input plan, params) with an eager
    // checkpoint — the signature table is the persisted MinHash artifact
    // (d29's scaladoc states the production posture:
    // "the history side is the persisted signature table"); d01, d09,
    // d27 and d29 all read ONE materialization instead of each
    // re-running the shingle explode + 16-lane min agg.
    minhashSignaturesFromShingles(
      df.select(id.as("id"), shingles(text, shingleN).as("gs")),
      col("id"), col("gs"), k)
  }

  /** [[minhashSignatures]] over an ALREADY-shingled (id, shingle-array)
    * frame — lets the signature build ride the corpus's ONE
    * materialized tokenization (the d16 posture; MiningQueries.docShingles
    * is that artifact) instead of re-scanning and re-shingling the
    * documents. Values are IDENTICAL to the text path by construction:
    * each lane is a MIN over the per-shingle hashes, and min() is
    * duplicate-insensitive, so the artifact's array_distinct (and any
    * shingle ordering) cannot change a signature — pinned in DedupeSpec.
    * Build cost drops to explode + md5 + k affine min-lanes over DISTINCT
    * shingles (the dominant md5/lane work also shrinks with the dedup). */
  def minhashSignaturesFromShingles(shingled: DataFrame, id: Column,
      gs: Column, k: Int = 16): DataFrame = {
    val key = (shingled.queryExecution.analyzed.canonicalized,
      id.toString, gs.toString, k)
    graft.core.ArtifactRegistry.cached(shingled.sparkSession, key, "minhash_sig") {
      val fam = hashFamily(k)
      val exploded = shingled
        .select(id.as("id"), explode(gs).as("sh"))
        .select(col("id"), (md5Hash32(col("sh")) % MersennePrime).as("h"))
      val laneMins = fam.zipWithIndex.map { case ((a, b), i) =>
        min((col("h") * a + b) % MersennePrime).as(s"__m$i")
      }
      graft.core.Materialize.checkpointRetainingPartitioning(
        exploded.groupBy(col("id"))
          .agg(laneMins.head, laneMins.tail: _*)
          .select(col("id"),
            array((0 until k).map(i => col(s"__m$i")): _*).as("sig")))
    }
  }

  /** LSH banding of a signature frame: (id, sig, band_idx, band_key) with
    * k/bands rows per band key. */
  def bandKeys(sig: DataFrame, k: Int, bands: Int): DataFrame = {
    require(k % bands == 0, "k must be divisible by bands")
    val r = k / bands
    sig.select(col("id"), col("sig"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => concat_ws(":", transform(slice(col("sig"), b * r + 1, lit(r)), v => v.cast("string"))))))
      .withColumnRenamed("pos", "band_idx")
      .withColumnRenamed("col", "band_key")
  }

  def minhashLshPairs(df: DataFrame, id: Column, text: Column,
      shingleN: Int = 3, k: Int = 16, bands: Int = 4,
      minAgree: Double = 0.5): DataFrame =
    lshPairsFromSignatures(minhashSignatures(df, id, text, shingleN, k),
      k, bands, minAgree)

  /** The band→bucket-join→verify half of [[minhashLshPairs]], over an
    * existing (id, sig) signature frame — callers holding the memoized
    * signature artifact skip the shingle/signature build entirely. */
  def lshPairsFromSignatures(sig: DataFrame, k: Int = 16, bands: Int = 4,
      minAgree: Double = 0.5): DataFrame = {
    val banded = bandKeys(sig, k, bands)
    val a = banded.select(col("id").as("id_a"), col("sig").as("sig_a"),
      col("band_idx"), col("band_key"))
    val b = banded.select(col("id").as("id_b"), col("sig").as("sig_b"),
      col("band_idx"), col("band_key"))
    a.join(b, Seq("band_idx", "band_key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("sig_a"), col("sig_b"))
      .distinct()
      .withColumn("agree",
        size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y),
          m => m)).cast("double") / lit(k.toDouble))
      .filter(col("agree") >= minAgree)
      .select(col("id_a"), col("id_b"), col("agree"))
  }

  /** SimHash fingerprint (bits-wide, default 32) from term frequencies.
    * bit_j(doc) = 1 iff sum over distinct words of tf * (word_hash bit_j ? +1 : -1) > 0.
    *
    * Returns df with (id, simhash) — computed via explode + groupBy, i.e. one
    * shuffle on the doc id; fully relational. 32 bits (not 16) is the
    * default because the pigeonhole candidate join below buckets on
    * bits/(maxHamming+1)-bit segments: 8-bit segments give 256 bucket
    * values per segment vs 16 for 4-bit ones — measured 8× faster at
    * bench sf0.1 because the candidate join stops degenerating toward
    * all-pairs, while the recall guarantee is unchanged.
    */
  def simhash(df: DataFrame, id: Column, text: Column, bits: Int = 32): DataFrame = {
    val wordsDf = df.select(id.as("id"), explode(words(text)).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("id"), col("w")).agg(count(lit(1)).as("tf"))
      .withColumn("h", md5Hash32(col("w")))
    val bitSums = (0 until bits).map { j =>
      sum(when(shiftright(col("h"), j) % 2 === 1, col("tf")).otherwise(-col("tf")))
        .as(s"b$j")
    }
    val agg = wordsDf.groupBy(col("id")).agg(bitSums.head, bitSums.tail: _*)
    val fp = (0 until bits).map { j =>
      when(col(s"b$j") > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    agg.select(col("id"), fp.as("simhash"))
  }

  /** SimHash candidate pairs from precomputed fingerprints via pigeonhole
    * banding: the fingerprint splits into (maxHamming + 1) equal-width
    * segments; two fingerprints within Hamming distance maxHamming MUST
    * agree on at least one whole segment (pigeonhole), so the equi-join on
    * (segment_idx, segment_value) has GUARANTEED recall — unlike bucketing
    * on any fixed bit range, which silently misses pairs whose differing
    * bits land inside the bucket. Still a pure equi-join: the 100 TB shape.
    *
    * @param fps (id, simhash) fingerprints
    * @return (id_a, id_b, hamming) verified pairs with hamming <= maxHamming
    */
  def simhashCandidatePairs(fps: DataFrame, bits: Int = 32,
      maxHamming: Int = 3): DataFrame = {
    val nSegs = maxHamming + 1
    require(bits % nSegs == 0, "bits must be divisible by maxHamming + 1")
    val segBits = bits / nSegs
    val mask = (1L << segBits) - 1
    def segments(fp: Column): Column = array((0 until nSegs).map { i =>
      shiftright(fp, i * segBits).bitwiseAND(lit(mask))
    }: _*)
    // materialize the tiny (id, simhash) table once — both join sides and
    // the verification otherwise re-run the fingerprint explode+agg lineage
    val mat = fps.localCheckpoint(false)
    def side(idName: String, fpName: String) =
      mat.select(col("id").as(idName), col("simhash").as(fpName),
        posexplode(segments(col("simhash"))))
        .withColumnRenamed("pos", "seg_idx")
        .withColumnRenamed("col", "seg_val")
    side("id_a", "fp_a").join(side("id_b", "fp_b"), Seq("seg_idx", "seg_val"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("fp_a"), col("fp_b"))
      .distinct() // a pair may agree on several segments
      .withColumn("hamming", bit_count(col("fp_a").bitwiseXOR(col("fp_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** SimHash near-dup pairs with Hamming distance <= maxHamming:
    * fingerprint + pigeonhole-banded candidate generation (see
    * [[simhashCandidatePairs]] for the recall guarantee).
    */
  def simhashPairs(df: DataFrame, id: Column, text: Column,
      bits: Int = 32, maxHamming: Int = 3): DataFrame =
    simhashCandidatePairs(simhash(df, id, text, bits), bits, maxHamming)

  /** Cross-corpus line-level dedupe (the C4/RefinedWeb "remove repeated
    * lines across documents" pass): every trimmed non-empty line of every
    * document, flagged `kept = 1` only at its GLOBAL first occurrence —
    * first = lexicographic min (docOrder, lineIdx) over all appearances
    * of that exact line.
    *
    * Scale shape: one shuffle keyed by line content, and the first-
    * occurrence choice is `min(struct(docOrder, lineIdx))` — a PARTIAL
    * aggregate (map-side combine), so a line repeated 100M times
    * ("cookie banner" boilerplate) reduces to one row per map task before
    * the shuffle. The window-function formulation (row_number over the
    * line partition) computes the same flag but must sort every
    * occurrence of the hot line in one task — this agg-join shape is the
    * one that survives boilerplate skew at 100 TB.
    *
    * @return (id, line_idx, line, kept) one row per non-empty line
    */
  def lineDedupe(df: DataFrame, id: Column, text: Column): DataFrame = {
    val lines = df.select(id.as("id"),
        posexplode(split(text, "\n")).as(Seq("line_idx", "raw")))
      .withColumn("line", trim(col("raw")))
      .filter(length(col("line")) > 0)
      .select(col("id"), col("line_idx"), col("line"))
    val firsts = lines.groupBy(col("line"))
      .agg(min(struct(col("id"), col("line_idx"))).as("first"))
    lines.join(firsts, "line")
      .withColumn("kept",
        (struct(col("id"), col("line_idx")) === col("first")).cast("int"))
      .select(col("id"), col("line_idx"), col("line"), col("kept"))
  }

  /** Exact word-set Jaccard similarity for pairs sharing a blocking key.
    * Blocking bounds the join: candidate pairs only form inside a block, and
    * the block is caller-chosen (an LSH bucket, a cluster id, a source).
    *
    * Prefix filtering (rarest-token prefixes of length |d|-ceil(t|d|)+1) was
    * implemented and MEASURED SLOWER here: this corpus has a tiny vocabulary,
    * so no token is rare and the extra freq-join/rank shuffles cost more
    * than they save. On a realistic heavy-tailed vocabulary it is the right
    * 100 TB refinement of the token equi-join below.
    *
    * @return (id_a, id_b, inter, uni, jaccard)
    */
  def ngramJaccardPairs(df: DataFrame, id: Column, text: Column,
      block: Column, minJaccard: Double): DataFrame = {
    val tok = df.select(id.as("id"), block.as("blk"),
      explode(array_distinct(words(text))).as("w"))
      .filter(length(col("w")) > 0)
      .localCheckpoint(false) // feeds sizes + both sides of the pair join
    val sizes = tok.groupBy(col("id")).agg(count(lit(1)).as("sz"))
    val aTok = tok.select(col("id").as("id_a"), col("blk"), col("w"))
    val bTok = tok.select(col("id").as("id_b"), col("blk"), col("w"))
    val inter = aTok.join(bTok, Seq("blk", "w"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("id").as("id_a"), col("sz").as("sz_a")), "id_a")
      .join(sizes.select(col("id").as("id_b"), col("sz").as("sz_b")), "id_b")
      .withColumn("uni", col("sz_a") + col("sz_b") - col("inter"))
      .withColumn("jaccard", col("inter").cast("double") / col("uni").cast("double"))
      .filter(col("jaccard") >= minJaccard)
      .select(col("id_a"), col("id_b"), col("inter"), col("uni"), col("jaccard"))
  }

  /** CONTAINMENT near-dup pairs: |A∩B| / min(|A|, |B|) — the asymmetric
    * twin of [[ngramJaccardPairs]]. Symmetric Jaccard MISSES subset-style
    * duplication (a doc pasted inside a much larger one scores
    * |A|/|B| ≈ small even at 100 % containment); containment of the
    * smaller token set catches exactly that, which is why suffix-array
    * dedupe pipelines (Lee et al. 2021) track it separately. Same blocked
    * token equi-join as the Jaccard path — one tokenization pass, no new
    * corpus scan shape; the threshold gates on a single division of exact
    * integer counts. */
  def containmentPairs(df: DataFrame, id: Column, text: Column,
      block: Column, minContainment: Double): DataFrame = {
    val tok = df.select(id.as("id"), block.as("blk"),
      explode(array_distinct(words(text))).as("w"))
      .filter(length(col("w")) > 0)
      .localCheckpoint(false) // feeds sizes + both sides of the pair join
    val sizes = tok.groupBy(col("id")).agg(count(lit(1)).as("sz"))
    val aTok = tok.select(col("id").as("id_a"), col("blk"), col("w"))
    val bTok = tok.select(col("id").as("id_b"), col("blk"), col("w"))
    val inter = aTok.join(bTok, Seq("blk", "w"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("id").as("id_a"), col("sz").as("sz_a")), "id_a")
      .join(sizes.select(col("id").as("id_b"), col("sz").as("sz_b")), "id_b")
      .withColumn("sz_min", least(col("sz_a"), col("sz_b")))
      .withColumn("containment",
        col("inter").cast("double") / col("sz_min").cast("double"))
      .filter(col("containment") >= minContainment)
      .select(col("id_a"), col("id_b"), col("inter"), col("sz_min"),
        col("containment"))
  }

  /** Embedding-cosine near-dup pairs within a blocking key (e.g. an LSH
    * bucket or cluster label). Cosine via the deterministic sequential fold
    * of [[graft.plans.CosineSimilarityExpr]].
    *
    * Scale guard: the self-join is O(B²) PER BLOCK — the caller's blocking
    * key bounds the cost, so blocks must stay small (LSH buckets / IVF
    * partitions, not raw labels, at corpus scale). A hot block should be
    * split by composing the key with [[Salting.salt]] (recall loss is
    * confined to cross-salt pairs of that block) or routed through
    * [[graft.operators.Similarity.approxTopKByCosine]]'s banded path
    * instead. AQE's skew-join split also caps a runaway block's task size.
    */
  /** PPJoin/AllPairs-style PREFIX-FILTERED exact Jaccard join: the same
    * (id_a, id_b, inter, uni, jaccard ≥ τ) contract as
    * [[ngramJaccardPairs]], but candidate generation joins each document's
    * PREFIX tokens only, not its whole token set.
    *
    * Canonical order: tokens sorted by (global document frequency ASC,
    * token ASC) — rarest first, total order. Prefix length for Jaccard τ
    * is p = sz − ⌈τ·sz⌉ + 1: if two sets' prefixes are disjoint, their
    * first shared token sits past position p in both, so
    * |x∩y| ≤ ⌈τ·|x|⌉ − 1 < τ·|x| ≤ τ·max(|x|,|y|) ≤ |x∩y| — contradiction.
    * Prefix disjoint ⇒ Jaccard < τ, so the filter is LOSSLESS (the
    * unfiltered d03 oracle pins it). A length filter rides along:
    * Jaccard ≥ τ ⇒ min(sz) ≥ ⌈τ·max(sz)⌉.
    *
    * Scale: the whole-token inverted-index join (d03's shape) pays
    * Σ posting² over EVERY token including stopwords; here only the
    * ~(1−τ) rarest tokens of each document enter the index, and
    * rarest-first ordering makes those posting lists the SHORT ones —
    * candidate volume drops superlinearly with τ. Verification ships the
    * sorted token arrays of candidate pairs only (array_intersect, no
    * re-shuffle of the corpus). The frequency table is an equi-join, not
    * a broadcast — vocabulary scales with the corpus (t08's discipline).
    */
  def prefixFilterJaccardPairs(df: DataFrame, id: Column, text: Column,
      block: Column, minJaccard: Double): DataFrame = {
    // Exchange budget: ONE explicit w-clustering feeds both the document-frequency
    // aggregate and the frequency join (identical exchange subtree —
    // deduped by ReuseExchange), the canonical-order regroup re-clusters
    // by id BEFORE its aggregate ({id} ⊆ {id, blk} so the agg inserts no
    // exchange), and the doc table materializes through a partitioning-
    // RETAINING checkpoint — so both verify joins read it in place and
    // only the (small) candidate side moves. Net: 3 corpus-token-sized
    // exchanges, where separate freq, tok-join, regroup and two
    // doc-table exchanges would be 5.
    val tok = df.select(id.as("id"), block.as("blk"),
      explode(array_distinct(words(text))).as("w"))
      .filter(length(col("w")) > 0)
    val tokW = tok.repartition(col("w"))
    val freq = tokW.groupBy(col("w")).agg(count(lit(1)).as("df_w"))
    // per-doc token array in canonical (df ASC, w ASC) order; freq rides a
    // shuffle-hash hint (vocab-sized build per partition — static planning
    // inside the checkpoint would otherwise SMJ-sort the posting stream)
    val docs = graft.core.Materialize.checkpointRetainingPartitioning(
      tokW.join(freq.hint("shuffle_hash"), "w")
        .repartition(col("id"))
        .groupBy(col("id"), col("blk"))
        .agg(sort_array(collect_list(struct(col("df_w"), col("w")))).as("ts"))
        .select(col("id"), col("blk"),
          expr("transform(ts, t -> t.w)").as("toks"), size(col("ts")).as("sz")))
    // ⌈τ·sz⌉ computed as ceil(τ·sz − ε): double rounding can push τ·sz a
    // hair ABOVE the true rational product (e.g. τ=0.55, sz=100 →
    // 55.00000000000001, ceil 56), which would shorten the prefix and
    // over-tighten the length filter — both silently LOSSY. Subtracting
    // ε=1e-9 errs the other way only (a one-longer prefix / one-looser
    // bound keeps the filter lossless; ε is far below the 1-unit integer
    // grid for any realistic sz, so exact products are unaffected).
    def ceilTau(sz: Column): Column =
      ceil(sz * lit(minJaccard) - lit(1e-9)).cast("int")
    val prefLen = (col("sz") - ceilTau(col("sz")) + 1)
    // posexplode keeps each prefix token's 1-based GLOBAL rank in the
    // canonical order (the prefix is the head of the same sorted list) —
    // fuel for PPJoin's positional filter below
    val pref = docs.select(col("id"), col("blk"), col("sz"),
      posexplode(slice(col("toks"), lit(1), prefLen)))
      .select(col("id"), col("blk"), col("sz"),
        (col("pos") + 1).as("i"), col("col").as("w"))
    // PPJoin positional filter (Xiao et al., WWW'08 §3.2): Jaccard ≥ τ ⟺
    // |x∩y| ≥ α where α = ⌈τ/(1+τ)·(|x|+|y|)⌉. A shared prefix token at
    // ranks (i_a, i_b) bounds the overlap by 1 + min(sz_a−i_a, sz_b−i_b)
    // (everything before the match in either list is potentially shared,
    // nothing, after only min-remaining can be) — an occurrence that
    // cannot reach α cannot WITNESS the pair. The pair's FIRST shared
    // token has the smallest ranks and hence the loosest bound, so
    // filtering per-occurrence then distinct-ing keeps every pair whose
    // true overlap reaches α: lossless, and it prunes candidates the
    // plain prefix filter admits (the d03-oracle hash match pins it).
    val alphaNum = minJaccard / (1.0 + minJaccard)
    val cand = pref.select(col("id").as("id_a"), col("blk"), col("sz").as("sz_a"),
        col("i").as("i_a"), col("w"))
      .join(pref.select(col("id").as("id_b"), col("blk"), col("sz").as("sz_b"),
        col("i").as("i_b"), col("w")),
        Seq("blk", "w"))
      .filter(col("id_a") < col("id_b"))
      .filter(least(col("sz_a"), col("sz_b")) >=
        ceilTau(greatest(col("sz_a"), col("sz_b"))))
      .filter(lit(1) + least(col("sz_a") - col("i_a"), col("sz_b") - col("i_b")) >=
        ceil((col("sz_a") + col("sz_b")) * lit(alphaNum) - lit(1e-9)).cast("int"))
      .select(col("id_a"), col("id_b")).distinct()
    cand
      .join(docs.select(col("id").as("id_a"), col("toks").as("toks_a"),
        col("sz").as("sz_a")), "id_a")
      .join(docs.select(col("id").as("id_b"), col("toks").as("toks_b"),
        col("sz").as("sz_b")), "id_b")
      .withColumn("inter", size(array_intersect(col("toks_a"), col("toks_b"))).cast("long"))
      .withColumn("uni", col("sz_a") + col("sz_b") - col("inter"))
      .withColumn("jaccard", col("inter").cast("double") / col("uni").cast("double"))
      .filter(col("jaccard") >= minJaccard)
      .select(col("id_a"), col("id_b"), col("inter"), col("uni"), col("jaccard"))
  }

  /** Embedding-cosine near-dup candidate pairs. The caller's block is
    * COMPOSED with the s02
    * multi-table sign-LSH bucketing BY DEFAULT — a pair is a candidate
    * iff it shares the caller block AND collides in at least one of the
    * `nTables` seeded hash tables — so the O(Σ block²) bound holds by
    * construction instead of depending on caller discipline (even a
    * corpus-sized caller block degrades to the LSH bucket join, the only all-pairs shape that
    * survives 100 TB). The caller block still composes semantics (e.g.
    * "same label only"); callers that genuinely need exhaustive
    * within-block pairs should go through the exact s01-style scan
    * knowing its cost. Deterministic seeded planes — the DuckDB oracle
    * replays the buckets from embedded literals (the s19/s02 rule). */
  def embeddingNearDupPairs(df: DataFrame, id: Column, vec: Column,
      block: Column, minCosine: Double, dim: Int = 64,
      nPlanes: Int = 3, nTables: Int = 4): DataFrame = {
    import graft.plans.VectorExpressions.cosineSim
    val base = df.select(id.as("id"), vec.as("v"), block.as("blk"))
      .select(col("id"), col("v"), col("blk"),
        explode(graft.operators.Similarity.lshTables(col("v"), dim, nPlanes,
          nTables)).as("tb"))
      .select(col("id"), col("v"), col("blk"),
        col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
    val a = base.select(col("id").as("id_a"), col("v").as("v_a"),
      col("blk"), col("tbl"), col("bucket"))
    val b = base.select(col("id").as("id_b"), col("v").as("v_b"),
      col("blk"), col("tbl"), col("bucket"))
    a.join(b, Seq("blk", "tbl", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine", cosineSim(col("v_a"), col("v_b")))
      .filter(col("cosine") >= minCosine)
      .select(col("id_a"), col("id_b"), col("cosine"))
      .distinct() // a pair may collide in several tables (s02's rule)
  }
}
