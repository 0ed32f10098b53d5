package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables._
import graft.core.ArtifactRegistry
import Shared.{normSql, cosSql}
import graft.operators.{ConnectedComponents, Dedupe, GlobalRank, Multimodal, Similarity, TextAnalysis}

/** Training-data-pipeline operators beyond the reference's own surface
  * (BASELINE.json north star): near-dup dedupe family, ANN similarity
  * search, text analysis, multimodal plumbing. Each is a first-class
  * declared query with a DuckDB oracle wherever the kernel is
  * SQL-expressible (everything md5/integer/fold-based is).
  */
object LlmQueries {
  type Q = (SparkSession, String) => DataFrame

  // ---------------------------------------------------------------- dedupe

  /** MinHash+LSH near-dup pairs over documents (3-word shingles, k=16
    * signatures, 4 bands — shingle→minhash→band→bucket-join). */
  def d01MinhashLsh(s: SparkSession, d: String): DataFrame =
    // signatures from the SHARED artifact (docShingles →
    // minhashSigShared) — one tokenization + one signature build for the
    // whole d01/d09/d27/d29 family; values byte-identical (min-lanes are
    // duplicate-insensitive, DedupeSpec pins it)
    Dedupe.lshPairsFromSignatures(MiningQueries.minhashSigShared(s, d))
      .orderBy(col("id_a"), col("id_b"))

  /** SimHash near-dup pairs (32-bit fingerprint, Hamming <= 3, pigeonhole
    * 4x8-bit segment banding — guaranteed recall for Hamming <= 3, 256
    * bucket values per segment so the candidate equi-join stays selective). */
  def d02Simhash(s: SparkSession, d: String): DataFrame =
    Dedupe.simhashPairs(documents(s, d), col("doc_id"), col("text"))
      .orderBy(col("id_a"), col("id_b"))

  /** Exact word-set Jaccard pairs, blocked by source.
    *
    * localCheckpoint before the global sort (here and in d25): orderBy
    * range-partitions via a SAMPLING pass that re-executes everything
    * after the last exchange — for pair-verify pipelines that tail is the
    * expensive array_intersect scan, so an unmaterialized sort pays it
    * twice (measured 5.6 s vs 3.0 s unsorted at sf0.1). */
  def d03NgramJaccard(s: SparkSession, d: String): DataFrame =
    jaccardPairs08(s, d).orderBy(col("id_a"), col("id_b"))

  /** The 0.8-Jaccard pair table is ONE persisted artifact — d16's
    * scaladoc states the posture ("a dedupe pass at 100 TB
    * runs both off ONE tokenization"); d03 (the pair report), d05 and d10
    * (both cluster passes) and p03 (the impact report, via d05) all read
    * the same materialization instead of re-running the shingle join.
    * Memoized per (application, sf dir), eager checkpoint — the
    * kmFit/doubledEdgesFused lifecycle. d25 deliberately does NOT share
    * it: its point is that a different algorithm (prefix filtering)
    * reaches the identical pair set. */
  private[queries] def jaccardPairs08(s: SparkSession, d: String): DataFrame =
    ArtifactRegistry.cached(s, d, "jp08") {
      graft.core.Materialize.checkpointRetainingPartitioning(
        Dedupe.ngramJaccardPairs(documents(s, d), col("doc_id"), col("text"),
          col("source"), minJaccard = 0.8))
    }

  /** The d05 cluster assignment (pre-sort) as a shared artifact — p03's
    * impact report composes exactly this frame. */
  private[queries] def d05Assigned(s: SparkSession, d: String): DataFrame =
    ArtifactRegistry.cached(s, d, "d05a") {
      graft.core.Materialize.checkpointRetainingPartitioning(
        dupClustersAssigned(ConnectedComponents.run(_))(s, d))
    }

  /** D29 — INCREMENTAL DEDUPE: today's batch against the historical
    * corpus (the daily-crawl reality every corpus-wide d-family query
    * skips: production dedupe is "what of TODAY is new?", run against a
    * store of yesterday's fingerprints, never a full-corpus self-join).
    * History = content-hash bucket < 80 of doc_id (t07's split
    * discipline — deterministic, never rand()); per batch document the
    * verdict, in precedence order: `dup_exact_hist` (normalized-text md5
    * seen in history), `dup_near_hist` (≥ 8/16 minhash lanes agree with
    * some history doc — d01's signature family and threshold, found
    * through the band index), `dup_in_batch` (exact dup of an
    * earlier-id batch doc — first-wins, q07's rule), else `net_new`.
    * Output per source: batch size and the four class counts — the
    * ingest-gate report a crawl operator reads every morning.
    *
    * Scale shape: the history "fingerprint store" stays corpus-sized —
    * the exact check is a hash semi-join and the near check an LSH BAND
    * equi-join (batch side × history side, never all-pairs, never
    * broadcast); signatures come from [[Dedupe.minhashSignatures]]'s
    * one-agg form, computed ONCE for both sides; verification touches
    * only banded candidates. In production the history side is the
    * persisted signature table and only the batch side is computed —
    * the plan here is that join with the store inlined. */
  def d29IncrementalDedupe(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Sampling
    val base = documents(s, d)
      .select(col("doc_id"), col("source"),
        (Sampling.hashBucket(col("doc_id")) < 80).as("is_hist"),
        // null text coalesces to '' BEFORE hashing: a null thash would be
        // silently dropped by the inner join with firstInBatch (null keys
        // never match) and vanish from n_batch — every batch row must
        // receive a verdict (the documented four-class partition)
        Dedupe.md5Hash32(trim(lower(coalesce(col("text"), lit(""))))).as("thash"))
      .localCheckpoint(false) // split flag + text hash feed four branches
    val sig = MiningQueries.minhashSigShared(s, d)
    val banded = Dedupe.bandKeys(sig, 16, 4)
      .join(base.select(col("doc_id").as("id"), col("is_hist")), Seq("id"))
    val candNear = banded.filter(!col("is_hist"))
      .select(col("id").as("bid"), col("band_idx"), col("band_key"))
      .join(banded.filter(col("is_hist"))
        .select(col("id").as("hid"), col("band_idx"), col("band_key")),
        Seq("band_idx", "band_key"))
      .select(col("bid"), col("hid")).distinct()
    val nearVerified = candNear
      .join(sig.select(col("id").as("bid"), col("sig").as("sa")), Seq("bid"))
      .join(sig.select(col("id").as("hid"), col("sig").as("sb")), Seq("hid"))
      .filter(expr("size(filter(zip_with(sa, sb, (x, y) -> x = y), b -> b)) >= 8"))
      .select(col("bid")).distinct()
    val batch = base.filter(!col("is_hist"))
    val exactHist = batch
      .join(base.filter(col("is_hist")).select(col("thash")).distinct(),
        Seq("thash"), "left_semi")
      .select(col("doc_id"))
    val firstInBatch = batch.groupBy(col("thash")).agg(min(col("doc_id")).as("first_id"))
    batch
      .join(exactHist.withColumn("f_exact", lit(1)), Seq("doc_id"), "left")
      .join(nearVerified.withColumnRenamed("bid", "doc_id")
        .withColumn("f_near", lit(1)), Seq("doc_id"), "left")
      .join(firstInBatch, Seq("thash"))
      .withColumn("cls",
        when(col("f_exact").isNotNull, "dup_exact_hist")
          .when(col("f_near").isNotNull, "dup_near_hist")
          .when(col("doc_id") =!= col("first_id"), "dup_in_batch")
          .otherwise("net_new"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_batch"),
        coalesce(sum(when(col("cls") === "dup_exact_hist", 1L)), lit(0L)).as("n_exact_hist"),
        coalesce(sum(when(col("cls") === "dup_near_hist", 1L)), lit(0L)).as("n_near_hist"),
        coalesce(sum(when(col("cls") === "dup_in_batch", 1L)), lit(0L)).as("n_dup_in_batch"),
        coalesce(sum(when(col("cls") === "net_new", 1L)), lit(0L)).as("n_net_new"))
      .orderBy(col("source"))
  }

  /** D25 — the SAME pair set as d03, found by PPJoin-style prefix
    * filtering ([[Dedupe.prefixFilterJaccardPairs]]): only each doc's
    * (1−τ)·sz+1 globally-rarest tokens enter the candidate index instead
    * of the whole token set. The oracle is d03's unfiltered formulation —
    * the hash match is the losslessness proof (q50's blocking discipline),
    * and PrefixFilterSpec pins engine-side d25 == d03. */
  def d25PrefixFilter(s: SparkSession, d: String): DataFrame =
    Dedupe.prefixFilterJaccardPairs(documents(s, d), col("doc_id"),
      col("text"), col("source"), minJaccard = 0.8)
      .localCheckpoint(false) // see d03: sort sampling re-runs the verify tail
      .orderBy(col("id_a"), col("id_b"))

  /** D16 — containment near-dup pairs ([[Dedupe.containmentPairs]]):
    * subset-style duplication (a doc embedded inside a larger one) that
    * symmetric Jaccard structurally misses — |A∩B|/min(|A|,|B|) ≥ 0.9
    * within the d03 source blocks. The 0.8-Jaccard and 0.9-containment
    * pair sets overlap but neither contains the other; a dedupe pass at
    * 100 TB runs both off ONE tokenization. */
  def d16Containment(s: SparkSession, d: String): DataFrame =
    Dedupe.containmentPairs(documents(s, d), col("doc_id"), col("text"),
      col("source"), minContainment = 0.9)
      .orderBy(col("id_a"), col("id_b"))

  /** Transitive duplicate clusters: the d03 Jaccard pairs form an edge
    * graph; connected components assign every document a cluster (min
    * doc_id of its component — own id when it has no near-dups), plus the
    * cluster size and a canonical-representative flag. This is the full
    * dedup story: pairs → clusters → keep one doc per cluster. */
  def d05DupClusters(s: SparkSession, d: String): DataFrame =
    d05Assigned(s, d).orderBy(col("doc_id"))

  /** D10 — the same duplicate clusters through the O(log n)-round
    * large-star/small-star components ([[ConnectedComponents.runStar]]);
    * the algorithm swap must be result-invariant, and the shared d05
    * oracle pins it (same contract as q35 salting / g01 orientation). */
  def d10DupClustersStar(s: SparkSession, d: String): DataFrame =
    dupClustersVia(ConnectedComponents.runStar(_))(s, d)

  private def dupClustersVia(cc: DataFrame => DataFrame)(
      s: SparkSession, d: String): DataFrame =
    dupClustersAssigned(cc)(s, d).orderBy(col("doc_id"))

  private def dupClustersAssigned(cc: DataFrame => DataFrame)(
      s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val pairs = jaccardPairs08(s, d).select(col("id_a"), col("id_b"))
    val comp = cc(pairs)
    val assigned = docs.select(col("doc_id"))
      .join(comp.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("cluster"))
    // cluster_size via ONE cluster-partitioned window count instead of
    // groupBy + re-join: same integers, one exchange on cluster and no
    // join; cluster cardinality bounds the partition (near-dup clusters
    // are small by construction), so the window is safe at scale.
    assigned.withColumn("cluster_size",
      count(lit(1)).over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("cluster"))))
      .select(col("doc_id"), col("cluster"), col("cluster_size"),
        (col("doc_id") === col("cluster")).cast("int").as("is_canonical"))
  }

  /** Cross-corpus line dedupe profile: per document, how many non-empty
    * lines it has and how many survive global first-occurrence line
    * dedupe ([[Dedupe.lineDedupe]] — the C4-style boilerplate-removal
    * pass). Docs whose text has no non-empty lines drop out (both sides). */
  def d06LineDedupe(s: SparkSession, d: String): DataFrame =
    Dedupe.lineDedupe(documents(s, d), col("doc_id"), col("text"))
      .groupBy(col("id").as("doc_id"))
      .agg(count(lit(1)).as("n_lines"), sum(col("kept")).as("n_kept"))
      .select(col("doc_id"), col("n_lines"), col("n_kept"),
        (col("n_kept").cast("double") / col("n_lines").cast("double")).as("kept_frac"))
      .orderBy(col("doc_id"))

  /** Line-dedupe with text RECONSTRUCTION: the d06 kept-flags applied —
    * each document rebuilt from only its globally-first lines, in line
    * order, and fingerprinted. `array_sort(collect_list(struct(idx,
    * line)))` makes the rebuild deterministic regardless of collect
    * order (structs sort by the leading index field). This is the
    * output-corpus half of the C4 boilerplate pass; d06 is the profile. */
  def d07LineRebuild(s: SparkSession, d: String): DataFrame =
    Dedupe.lineDedupe(documents(s, d), col("doc_id"), col("text"))
      .filter(col("kept") === 1)
      .groupBy(col("id").as("doc_id"))
      .agg(md5(concat_ws("\n",
        transform(array_sort(collect_list(struct(col("line_idx"), col("line")))),
          x => x.getField("line")))).as("rebuilt_fp"),
        count(lit(1)).as("n_kept"))
      .orderBy(col("doc_id"))

  /** Embedding-cosine near-dup pairs, blocked by label, sampled ids. */
  def d04EmbeddingNearDup(s: SparkSession, d: String): DataFrame =
    Dedupe.embeddingNearDupPairs(
      embeddings(s, d).filter(col("vec_id") % 5 === 0),
      col("vec_id"), col("embedding"), col("label"), minCosine = 0.15)
      .orderBy(col("id_a"), col("id_b"))

  /** End-to-end training-data prep pipeline in ONE declared query —
    * operator COMPOSITION is the product: exact first-wins dedupe on the
    * content fingerprint → language + min-length quality gates →
    * stratum-capped rebalance (cap 40/source over the post-gate counts)
    * → per-source doc and token totals. Every stage is an operator with
    * its own green query (q07/t02/t12/t03); this pins that they compose
    * without semantic drift, mirrored stage-for-stage in the oracle. */
  def p01Pipeline(s: SparkSession, d: String): DataFrame = {
    val f = TextAnalysis.qualityFeatures(col("text"))
    val deduped = Dedupe.exactFirstWins(documents(s, d),
      TextAnalysis.fingerprint(col("text")), col("doc_id"))
    val gated = deduped.filter(col("lang") === "en" && f("word_count") >= 50)
    val strata = gated.groupBy(col("source")).agg(count(lit(1)).as("n_total"))
    gated.join(broadcast(strata), "source")
      .filter(graft.operators.Sampling.stratumCappedPredicate(
        col("doc_id"), col("n_total"), cap = 40))
      .select(col("source"), TextAnalysis.tokenCount(col("text")).as("tc"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tc")).cast("long").as("total_tokens"))
      .orderBy(col("source"))
  }

  // ------------------------------------------------------------ similarity

  /** Brute-force batched k-NN: top-5 cosine neighbors for each query vector
    * (vec_id < 3), self excluded. */
  def s01AnnBruteForce(s: SparkSession, d: String): DataFrame = {
    val qs = embeddings(s, d).filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    Similarity.batchTopKByCosine(embeddings(s, d), col("vec_id"),
      col("embedding"), qs, 5)
      .orderBy(col("qid"), col("rank"))
  }

  /** LSH-bucketed approximate k-NN (the 100 TB path: bucket equi-join
    * instead of cross join). The hyperplanes are seeded, so the DuckDB
    * oracle reproduces the buckets exactly from embedded plane literals. */
  def s02AnnLsh(s: SparkSession, d: String): DataFrame = {
    val qs = embeddings(s, d).filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    Similarity.approxTopKByCosine(embeddings(s, d), col("vec_id"),
      col("embedding"), qs, 5, dim = 64, nPlanes = 3, nTables = 4)
      .orderBy(col("qid"), col("rank"))
  }

  /** IVF-partitioned approximate k-NN (the LanceDB IVF index shape; the
    * second scale path next to LSH). The declared query uses the
    * deterministic seeded-centroid build (nearest of the 8 lowest-id
    * vectors) so the DuckDB oracle recomputes the identical index in SQL;
    * the trained KMeans build + persisted-index lifecycle is
    * [[graft.operators.Similarity.buildIvfIndex]]/searchIvf, pinned by
    * SimilaritySpec. No training runs in this query. */
  def s03AnnIvf(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    val qs = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val cent = Similarity.seededCentroids(emb, col("vec_id"), col("embedding"), 8)
    val assigned = Similarity.assignToCentroids(emb, col("vec_id"), col("embedding"), cent)
    Similarity.searchIvf(cent, assigned, qs, 5, nProbe = 3)
      .orderBy(col("qid"), col("rank"))
  }

  /** Graph-ANN k-NN ([[Similarity.graphSearchTopK]] — the HNSW-family
    * niche in a deterministic shape): seeded LSH-bounded k-NN graph build,
    * symmetrized edges, bucket-seeded 3-hop beam search, exact rerank of
    * the visited set. The oracle replays the identical build + walk in
    * SQL; SimilaritySpec pins recall@k against the exact scan (s01) —
    * the d09 audit pattern for the graph family. */
  /** S07 — MMR diversified rerank ([[Similarity.mmrRerank]]): after
    * retrieval, re-order the top-10 pool so each pick balances relevance
    * against redundancy with what's already picked (λ = 1/2). The greedy
    * walk is bounded by the pool, never the corpus; the pool and the
    * pairwise similarities are computed distributed with the codegen
    * cosine kernel. Oracle: the same five picks unrolled as chained CTEs
    * (argmax per step, ascending-id tie-break). */
  def s07MmrRerank(s: SparkSession, d: String): DataFrame = {
    val q = embeddings(s, d).filter(col("vec_id") === 0)
      .select(col("embedding").as("qv"))
    Similarity.mmrRerank(embeddings(s, d).filter(col("vec_id") =!= 0),
      col("vec_id"), col("embedding"), q, k = 5, poolSize = 10)
  }

  def s06AnnGraph(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    val qs = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    Similarity.graphSearchTopK(emb, col("vec_id"), col("embedding"), qs,
        k = 5, dim = 64, nPlanes = 5, nTables = 6, m = 8, beamWidth = 10)
      .orderBy(col("qid"), col("rank"))
  }

  /** SQ8 scalar-quantized approximate k-NN: 8-bit per-dimension codes
    * drive the candidate scan (integer dot, exact in doubles), exact
    * cosine reranks the top-20 candidates ([[Similarity.sq8TopKByCosine]]
    * — the memory-compression ANN path next to LSH (s02) and IVF (s03)). */
  def s04AnnSq8(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    val qs = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    Similarity.sq8TopKByCosine(emb, col("vec_id"), col("embedding"), qs,
        k = 5, candidateK = 20)
      .orderBy(col("qid"), col("rank"))
  }

  // ---------------------------------------------------------- text analysis

  def t01LangId(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"), TextAnalysis.languageId(col("text")).as("lang_pred"))
      .orderBy(col("doc_id"))

  def t02Quality(s: SparkSession, d: String): DataFrame = {
    val f = TextAnalysis.qualityFeatures(col("text"))
    documents(s, d)
      .select(col("doc_id"), f("n_chars").as("n_chars"),
        f("word_count").as("word_count"), f("mean_word_len").as("mean_word_len"),
        f("punct_ratio").as("punct_ratio"), f("upper_ratio").as("upper_ratio"),
        f("stopword_hits").as("stopword_hits"))
      .orderBy(col("doc_id"))
  }

  def t03TokenCount(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("token_count"))
      .orderBy(col("doc_id"))

  /** Real BPE token count (embedded merges table; the regex approximation
    * stays as t03 — see [[graft.functions.BpeTokenizer]] for the contract). */
  def t05BpeTokenCount(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"),
        graft.functions.BpeTokenizer.bpeTokenCount(col("text")).as("bpe_token_count"))
      .orderBy(col("doc_id"))

  /** Gopher-style repetition gates over documents. */
  def t06Repetition(s: SparkSession, d: String): DataFrame =
    TextAnalysis.repetitionSignals(documents(s, d), col("doc_id"), col("text"))
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("doc_id"))

  def t04Fingerprint(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"),
        TextAnalysis.fingerprintBucket(col("text")).as("bucket"))
      .orderBy(col("doc_id"))

  /** Deterministic 80/10/10 split assignment + per-(source, split) counts —
    * the reproducible-sampling primitive ([[graft.operators.Sampling]]). */
  def t07HashSplit(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("source"),
        graft.operators.Sampling.split(col("doc_id"), 80, 10).as("split"))
      .groupBy(col("source"), col("split")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("source"), col("split"))

  /** Corpus vocabulary profile: global top-20 words by frequency,
    * deterministic tie-break. */
  def t08TopVocab(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(explode(Dedupe.words(col("text"))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("word"))
      .limit(20)

  /** Per-document top-3 terms by TF-IDF with a LINEAR inverse document
    * frequency (score = tf * N / df, no logarithm): log would make the
    * score transcendental and cross-engine bit-equality of the oracle
    * hash unreliable, while the linear form ranks by the same tf/df
    * signal with only IEEE-exact multiply/divide. Shape: explode →
    * two hash aggregates (tf per (doc, term), df per term) → equi-join —
    * df is NOT broadcast-hinted (vocabulary scales with the corpus; AQE
    * decides) — → per-doc top-k window.
    *
    * The tf frame feeds BOTH the df aggregate and the score join;
    * without a materialization the duplicated subtree re-tokenizes
    * documents twice (the plan shows two full scan+explode+agg
    * branches). A LAZY checkpoint of tf — the (doc, term) AGGREGATE, far
    * smaller than the raw token stream, which is why this wins where
    * t20/t41's token-stream materialization loses — measured 0.905 →
    * 0.700 s min-of-2, same BenchOne session at sf0.1. */
  def t11Tfidf(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val tok = docs.select(col("doc_id"), explode(Dedupe.words(col("text"))).as("w"))
      .filter(length(col("w")) > 0)
    val tf = tok.groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
      .localCheckpoint(false) // two consumers: df agg + score join
    val dfreq = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
    val n = docs.select(countDistinct(col("doc_id")).as("n_docs"))
    val rankW = Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("w"))
    tf.join(dfreq, "w")
      .crossJoin(broadcast(n))
      .withColumn("score",
        col("tf").cast("double") * col("n_docs").cast("double") / col("df").cast("double"))
      .withColumn("rank", row_number().over(rankW))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("w").as("term"), col("score"), col("rank"))
      .orderBy(col("doc_id"), col("rank"))
  }

  /** Stratum-capped deterministic sampling profile: rebalance the corpus
    * to at most ~60 docs per source by keeping each doc iff its fine hash
    * bucket clears the stratum-adaptive threshold
    * ([[graft.operators.Sampling.stratumCappedPredicate]]). Two-pass:
    * tiny per-source counts (broadcast), then a narrow predicate — no
    * shuffle of the corpus itself. */
  def t12StratifiedSample(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val strata = docs.groupBy(col("source")).agg(count(lit(1)).as("n_total"))
    docs.join(broadcast(strata), "source")
      .withColumn("sampled",
        graft.operators.Sampling.stratumCappedPredicate(
          col("doc_id"), col("n_total"), cap = 60).cast("int"))
      .groupBy(col("source"))
      .agg(max(col("n_total")).as("n_total"), sum(col("sampled")).as("n_sampled"))
      .orderBy(col("source"))
  }

  /** C4-style line gates over documents. */
  def t09C4Gates(s: SparkSession, d: String): DataFrame = {
    val g = TextAnalysis.c4LineGates(col("text"))
    documents(s, d)
      .select(col("doc_id"), g("n_lines").cast("long").as("n_lines"),
        g("frac_lines_terminal").as("frac_lines_terminal"),
        g("mean_words_per_line").as("mean_words_per_line"),
        g("has_curly").as("has_curly"), g("has_lorem").as("has_lorem"))
      .orderBy(col("doc_id"))
  }

  /** PII surface counts over documents. */
  def t10PiiCount(s: SparkSession, d: String): DataFrame = {
    val p = TextAnalysis.piiCounts(col("text"))
    documents(s, d)
      .select(col("doc_id"), p("n_emails").cast("long").as("n_emails"),
        p("n_phones").cast("long").as("n_phones"))
      .orderBy(col("doc_id"))
  }

  /** D12 — content-defined substring dedupe (Manber/Broder mod-sampling;
    * the shingle-sampling half of the suffix-array exact-substring dedupe
    * of Lee et al. 2021): hash EVERY 16-char gram, keep grams whose hash
    * ≡ 0 (mod 8), flag a doc when any kept gram already appears in a
    * lower-id doc (the A1 first-wins rule at substring granularity).
    *
    * Selection depends only on gram CONTENT — never on the gram's offset —
    * so two documents sharing a run of text select the SAME grams
    * regardless of where the run sits in each doc. (A stride/phase scheme
    * — "every 16th position" — silently misses shared runs whose offsets
    * differ mod the stride; that failure mode is why winnowing/CDC exist.)
    * A shared run of L chars survives sampling with prob 1-(7/8)^(L-15):
    * ≥99.8 % at L=64. One narrow gram scan (no shuffle until the
    * vocabulary-sized group-min on the sampled 1/8 subset), so at 100 TB
    * the shuffle moves ~total_chars/8 hashes, not total_chars grams. */
  def d12SubstringDedupe(s: SparkSession, d: String): DataFrame = {
    // ONE pass over the gram stream with the mod-8 sampling fused into a
    // custom kernel ([[graft.plans.SampledGramHashes]]) — only the ~1/8
    // surviving hashes ever become rows (exploding all grams first was
    // measured 2× slower: per-row materialization, not md5, dominates).
    // The kernel replaces the per-window substring/hex-string/conv churn
    // of the composable SQL chain, which the ORACLE still runs — the hash
    // match proves the kernel bit-equal. The owner-min rides a WINDOW over
    // the hash partition instead of a separate groupBy + join-back: one
    // plan, two shuffles (h, then doc), no materialization barrier — the
    // earlier checkpoint-and-rejoin formulation paid an extra job and a
    // broadcast for the same answer. Shuffle volume at 100 TB is still
    // ~total_chars/8 sampled hashes, never total_chars grams.
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("h"))
    val g = documents(s, d)
      .select(col("doc_id"),
        explode(graft.plans.SampledGramHashes(col("text"), 16, 8)).as("h"))
      .withColumn("first_id", min(col("doc_id")).over(w))
    val per = g
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_id") < col("doc_id"), 1L).otherwise(0L)).as("n_shared"),
        max(when(col("first_id") < col("doc_id"), 1).otherwise(0)).as("is_dup"))
    documents(s, d).select(col("doc_id"))
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        coalesce(col("is_dup"), lit(0)).as("is_dup"))
      .orderBy(col("doc_id"))
  }

  /** T17 — positional inverted index + phrase search: the IR primitive a
    * RAG/search stack needs beyond bag-of-words (t08/t11 can't tell
    * "data protection" from "protection data"). The probed phrase is
    * data-derived (the globally most frequent bigram, ties broken
    * lexicographically) so the query is meaningful at every scale factor;
    * per-doc hit counts are adjacent-occurrence counts.
    *
    * Shape (same integers as the positional definition): an
    * adjacent-position pair IS a 2-gram shingle, so the positional
    * posting self-join — which would re-run the corpus posexplode four
    * times and shuffle two corpus-sized posting frames per phrase —
    * collapses to ONE
    * [[Dedupe.shingles]] explode pass, checkpointed for its two
    * consumers: the bigram-vocabulary hash agg (map-side combined,
    * TakeOrdered(1) — never a global sort) and the broadcast-probe
    * per-doc count. Tokens cannot contain whitespace, so ordering by the
    * space-joined shingle string equals ordering by the (w1, w2) pair,
    * and counting shingle = phrase equals counting the positional join's
    * (pos, pos+1) matches. A production index additionally PERSISTS the
    * posting/shingle frame — this is the query-side plan over it. */
  /** t17's scored frame BEFORE the final checkpoint+sort — exposed so
    * PlanShapeSpec can pin the one-pass shingle shape (the checkpoint
    * hides the probe stage from the final plan, the s19 pin pattern). */
  private[graft] def t17Scored(s: SparkSession, d: String): DataFrame = {
    val sh2 = documents(s, d)
      .select(col("doc_id"), explode(Dedupe.shingles(col("text"), 2)).as("g"))
      .localCheckpoint(false) // vocab agg + phrase probe both read this
    val top = sh2.groupBy(col("g")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("g")).limit(1)
    sh2.join(broadcast(top.select(col("g"))), Seq("g"))
      .groupBy(col("doc_id"), col("g"))
      .agg(count(lit(1)).as("n_hits"))
      .select(col("doc_id"), col("g").as("phrase"), col("n_hits"))
  }

  def t17PhraseSearch(s: SparkSession, d: String): DataFrame =
    t17Scored(s, d)
      .localCheckpoint(false) // d03's rule: the range sort must not re-probe
      .orderBy(col("doc_id"))

  /** T18 — corpus-familiarity score: mean corpus frequency of a doc's
    * tokens — the rare-word/gibberish detector that needs no language
    * model (docs of corpus-rare tokens score low; boilerplate scores
    * high). All arithmetic stays integral until ONE final division
    * (familiarity = Σ corpus_count(token) / (n_tokens · corpus_total)),
    * so the double is a single IEEE op both engines compute identically —
    * the t11 linear-idf discipline. Shape: one explode scan → vocab
    * hash-agg → equi-join back (vocab scales with corpus: NOT
    * broadcast-hinted, AQE decides) → per-doc sum; the 1-row corpus
    * total rides a broadcast cross join. */
  def t18Familiarity(s: SparkSession, d: String): DataFrame = {
    val toks = documents(s, d)
      .select(col("doc_id"), explode(Dedupe.words(col("text"))).as("w"))
      .filter(length(col("w")) > 0)
    val vocab = toks.groupBy(col("w")).agg(count(lit(1)).as("cf"))
    val total = toks.agg(count(lit(1)).as("total"))
    toks.join(vocab, Seq("w"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cf")).as("fam_sum"), count(lit(1)).as("n_tokens"))
      .crossJoin(broadcast(total))
      .select(col("doc_id"), col("n_tokens"), col("fam_sum"),
        (col("fam_sum").cast("double") /
          (col("n_tokens") * col("total")).cast("double")).as("familiarity"))
      .orderBy(col("doc_id"))
  }

  /** T20 — BM25 ranking: the retrieval scorer a search stack runs above
    * t11's TF-IDF and t17's phrase index. Query = the 3 globally most
    * frequent words (data-derived, ties lexicographic — meaningful at
    * every scale factor); k1 = 1.25 and b = 0.75 are DYADIC so every
    * constant is exact in IEEE doubles. Two deviations from textbook
    * BM25, both for cross-engine bit-stability: idf is the LINEAR ratio
    * (N - df + 0.5)/(df + 0.5) (ln() is not bit-safe across engines —
    * the t11 linear-idf discipline), and the per-doc sum over query
    * terms folds a term-sorted array with the first element as seed
    * (q48's list_reduce contract) — a groupBy sum of doubles would fold
    * in engine order and never hash-match. Corpus-sized work is two
    * hash-aggs (dl, tf); the 3-term postings join probes term-frequency-
    * sized inputs, never the corpus (the t17 shape).
    *
    * A/B, REJECTED: lazily checkpointing the token stream (3 tokenize
    * passes → 1 + cached reads) measured WORSE — 1.315 vs 1.157 s
    * min-of-2, same BenchOne session at sf0.1 — confirming t41's recorded
    * lesson at three passes: materializing the corpus-sized token stream
    * costs more than re-running the codegen'd split+explode over the
    * page-cached scan. Re-tokenize stays the shape (and the scale-honest
    * one: the token stream is corpus-sized × token overhead). */
  def t20Bm25(s: SparkSession, d: String): DataFrame = {
    val toks = documents(s, d)
      .select(col("doc_id"), explode(Dedupe.words(col("text"))).as("w"))
      .filter(length(col("w")) > 0)
    val dl = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      sum(col("dl")).as("total_words")) // 1 row
    val qterms = toks.groupBy(col("w")).agg(count(lit(1)).as("cf"))
      .orderBy(col("cf").desc, col("w")).limit(3).select(col("w"))
    val tf = toks.join(broadcast(qterms), Seq("w"))
      .groupBy(col("w"), col("doc_id")).agg(count(lit(1)).as("tf"))
    val dft = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
    val scored = tf.join(broadcast(dft), Seq("w"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .withColumn("avgdl",
        col("total_words").cast("double") / col("n_docs").cast("double"))
      .withColumn("idf",
        ((col("n_docs") - col("df")).cast("double") + lit(0.5)) /
          (col("df").cast("double") + lit(0.5)))
      .withColumn("score", col("idf") *
        ((col("tf").cast("double") * lit(2.25)) /
          (col("tf").cast("double") + lit(1.25) *
            (lit(0.25) + lit(0.75) * (col("dl").cast("double") / col("avgdl"))))))
    scored
      .groupBy(col("doc_id"), col("dl"))
      .agg(sort_array(collect_list(struct(col("w"), col("score")))).as("xs"))
      .select(col("doc_id"), col("dl"),
        expr("""aggregate(slice(xs, 2, size(xs) - 1),
               |  CAST(xs[0].score AS DOUBLE),
               |  (acc, x) -> acc + x.score)""".stripMargin).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id")).limit(20)
  }

  /** T23 — bigram novelty: per doc, how many of its DISTINCT bigrams sit
    * outside the corpus's top-1000 bigrams — high novelty flags unusual
    * text (fresh content or gibberish — triage either way), low novelty
    * flags boilerplate; the complement of t13's contamination overlap,
    * aimed at the corpus itself. Fully integral (counts and a membership
    * anti-join — no floats anywhere), so hash-exact. The top-set is a
    * vocabulary-sized aggregate (deterministic (count desc, bigram)
    * cut); the per-doc pass is one explode + distinct + one broadcast-
    * sized membership join — the t13 broadcast-eval-set shape.
    *
    * A/B, REJECTED: lazily checkpointing the distinct-bigram frame
    * (two consumers: top-1000 agg + membership join) measured a wash —
    * 0.876 vs 0.872 s min-of-2, same BenchOne session at sf0.1: the
    * frame is corpus-sized (per-doc distinct bigrams), so materializing
    * it buys back exactly what the duplicate explode cost. Kept the
    * recompute shape (no corpus-sized materialization at 100 TB). */
  def t23BigramNovelty(s: SparkSession, d: String): DataFrame = {
    val bigrams = documents(s, d)
      .select(col("doc_id"), Dedupe.words(col("text")).as("w"))
      .select(col("doc_id"), explode(expr(
        """CASE WHEN size(w) >= 2
          |  THEN transform(sequence(1, size(w) - 1),
          |    i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))
          |  ELSE array() END""".stripMargin)).as("bg"))
      .filter(length(col("bg")) > 1)
      .distinct()
    val top = bigrams.groupBy(col("bg")).agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("bg")).limit(1000)
      .select(col("bg"), lit(1).as("in_top"))
    val flagged = bigrams.join(broadcast(top), Seq("bg"), "left")
    val per = flagged.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("in_top").isNull, 1L).otherwise(0L)).as("n_novel"))
    documents(s, d).select(col("doc_id"))
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"))
      .orderBy(col("doc_id"))
  }

  /** T27 — ZIPF RANK-FREQUENCY PROFILE: the corpus-health fingerprint —
    * frequency of the rank-1, 2, 4, … 4096 vocabulary words (log-spaced
    * ranks), with the rank×count product whose flatness IS Zipf's law.
    * A corpus whose profile bows away from constant is boilerplate-heavy
    * (top-rank inflation) or shredded text (tail inflation) — checked
    * before training, alongside t08/t19.
    *
    * Scale design: the vocabulary is corpus-scaled, so the rank CANNOT
    * be a bare `row_number() OVER (ORDER BY cnt)` — that plans a
    * SinglePartition window sorting the whole vocabulary in one task.
    * [[GlobalRank]] ranks it with a range shuffle (q40's TeraSort
    * shape); the power-of-two filter then keeps ≤ 13 rows. */
  def t27ZipfProfile(s: SparkSession, d: String): DataFrame = {
    val vocab = documents(s, d)
      .select(explode(Dedupe.words(col("text"))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
    GlobalRank.withGlobalRank(vocab, Seq(col("cnt").desc, col("word")), "rank")
      .filter(expr("(rank & (rank - 1)) = 0 AND rank <= 4096"))
      .selectExpr("rank", "word", "cnt", "rank * cnt AS rank_cnt")
      .orderBy(col("rank"))
  }

  /** T26 — BIGRAM-LM SURPRISAL SCORING: the perplexity-style quality
    * signal every pretraining pipeline computes — score each document by
    * how "surprising" its token sequence is under a language model built
    * from the corpus itself — in EXACT INTEGER arithmetic. The model is
    * the corpus bigram conditional C(w1 w2)/C(w1·); per-bigram surprisal
    * is the INTEGER floor-log₂ of the inverse probability,
    * `length(bin(c_w1 div c_bg)) - 1` (d11's bit-length primitive — a
    * real log would be transcendental and never cross-engine
    * hash-stable), and a doc's score is the mean surprisal in millis.
    * High score = improbable word sequences (noise, boilerplate soup);
    * low = formulaic repetition. Same adjacency extraction as t23.
    *
    * Scale design: ONE explode produces the (doc, bigram) stream; the
    * model is a hash-agg of that stream (c_w1 derived from the DISTINCT-
    * bigram frame by a w1-partitioned window sum — model-sized, never a
    * second corpus scan); scoring is an equi-join on the bigram key, NOT
    * broadcast (the model scales with the corpus — t11's rule). */
  def t26BigramSurprisal(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pairs = documents(s, d)
      .select(col("doc_id"), Dedupe.words(col("text")).as("w"))
      .select(col("doc_id"), explode(expr(
        """CASE WHEN size(w) >= 2
          |  THEN transform(sequence(1, size(w) - 1),
          |    i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))
          |  ELSE array() END""".stripMargin)).as("bg"))
      .filter(length(col("bg")) > 1)
    val model = pairs.groupBy(col("bg")).agg(count(lit(1)).as("c_bg"))
      .withColumn("w1", element_at(split(col("bg"), " ", 2), 1))
      .withColumn("c_w1", sum(col("c_bg")).over(Window.partitionBy(col("w1"))))
      .selectExpr("bg",
        "CAST(length(bin(c_w1 div c_bg)) - 1 AS BIGINT) AS surprisal")
    pairs.join(model, Seq("bg"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("surprisal")).as("sum_surprisal"))
      .selectExpr("doc_id", "n_bigrams", "sum_surprisal",
        "sum_surprisal * 1000 div n_bigrams AS mean_milli")
      .orderBy(col("mean_milli").desc, col("doc_id"))
      .limit(20)
  }

  /** T28 — RAKE KEYWORD EXTRACTION (Rose et al. 2010): candidate phrases
    * are maximal runs of content words between delimiter words, scored by
    * summing each member word's degree/frequency ratio — the classic
    * unsupervised corpus-keyword operator. Adapted deterministically:
    * the delimiter set is this corpus's actual function words ('a','the');
    * candidates are capped at 4 words (standard RAKE practice — and on
    * this corpus the cap is what keeps near-whole-document runs from
    * qualifying); word scores are integer basis points (deg·10⁴ div freq)
    * so the phrase score — an integer SUM of member-word scores — is
    * order-independent and cross-engine exact.
    *
    * Scale design: phrase generation is one NARROW pass — tokens are
    * mapped to a delimiter marker and re-split per row (array ops, no
    * window, no explode-then-islands shuffle); the only shuffles are the
    * two hash-aggs (word stats, phrase counts) and a word-keyed equi-join
    * that is NOT broadcast-hinted (the vocabulary scales with the corpus —
    * t11's rule). Top-20 is TakeOrderedAndProject, never a global sort. */
  def t28RakeKeywords(s: SparkSession, d: String): DataFrame = {
    val phrases = documents(s, d)
      .select(split(concat_ws(" ",
        transform(
          filter(split(lower(coalesce(col("text"), lit(""))), "[^a-z]+"),
            w => length(w) > 0),
          w => when(w.isin("a", "the"), lit("|")).otherwise(w))), "\\|")
        .as("segs"))
      .select(explode(col("segs")).as("seg"))
      .select(filter(split(trim(col("seg")), " "), w => length(w) > 0).as("pw"))
      .filter(size(col("pw")).between(1, 4))
      .select(col("pw"), concat_ws(" ", col("pw")).as("phrase"),
        size(col("pw")).cast("long").as("len"))
      .localCheckpoint(true) // read by word stats AND the phrase agg
    val wscore = phrases
      .select(explode(col("pw")).as("word"), col("len"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("freq"), sum(col("len")).as("deg"))
      .selectExpr("word", "deg * 10000 div freq AS word_bp")
    phrases
      .groupBy(col("phrase"))
      .agg(count(lit(1)).as("n_occ"), max(col("len")).as("n_words"))
      .select(col("phrase"), col("n_occ"), col("n_words"),
        explode(split(col("phrase"), " ")).as("word"))
      .join(wscore, Seq("word"))
      .groupBy(col("phrase"), col("n_occ"), col("n_words"))
      .agg(sum(col("word_bp")).as("score_bp"))
      .orderBy(col("score_bp").desc, col("n_occ").desc, col("phrase"))
      .limit(20)
      .select(col("phrase"), col("n_occ"), col("n_words"), col("score_bp"))
  }

  // ------------------------------------------------------------ multimodal

  /** Binary-payload plumbing with REAL image decode: each document is
    * materialized as a minimal VALID image byte stream (format cycles
    * png/jpeg/gif/bmp by doc_id, dimensions derived from n_chars — see
    * [[graft.functions.ImageCodec]]; real signatures, chunk layout, CRCs),
    * then [[Multimodal.withDecodedMeta]] parses width/height back OUT OF
    * THE BYTES via the header parser (PNG IHDR / JPEG SOFn scan / GIF LSD /
    * BMP DIB). The oracle computes the dimensions the synthesizer encoded
    * and the exact container size — so a green hash proves the parse path
    * recovered real values from real byte streams across all four formats,
    * not stub arithmetic. The mapPartitions decode shape (narrow, batched,
    * shuffle-free) is additionally pinned by MultimodalSpec.
    */
  /** Deterministic real-image-stream synthesis from doc metadata (format
    * cycles by doc_id, dims from n_chars) — shared by m01/m03. */
  private def imagePayloads(s: SparkSession, d: String): DataFrame = {
    import graft.functions.ImageCodec
    val makePayload = udf { (docId: Long, nChars: Long) =>
      val w = (nChars % 640 + 1).toInt
      val h = (nChars * 7 % 480 + 1).toInt
      val k = (nChars % 100).toInt
      (docId % 4) match {
        case 0 => ImageCodec.pngBytes(w, h, k)
        case 1 => ImageCodec.jpegBytes(w, h, k)
        case 2 => ImageCodec.gifBytes(w, h)
        case _ => ImageCodec.bmpBytes(w, h)
      }
    }
    documents(s, d)
      .select(col("doc_id"), makePayload(col("doc_id"), col("n_chars")).as("payload"))
  }

  /** M04 — audio corpus profile THROUGH the real WAV decode path: each
    * document is materialized as a minimal VALID RIFF/WAVE stream
    * (sample rate cycles through the five standard rates by doc_id,
    * channels/bit-depth/sample-count derived from doc metadata — real
    * RIFF sizes incl. the odd-length pad byte), then
    * [[Multimodal.withAudioMeta]] chunk-walks the headers back OUT OF THE
    * BYTES and the per-rate aggregate profiles the corpus: clip counts,
    * stereo/8-bit splits, total duration, byte volume. The oracle
    * recomputes every field from the synthesis arithmetic, so a green
    * hash proves the parse path recovered real values — the m01/m03
    * de-stubbing pattern extended to audio. Narrow decode + one
    * map-side-combinable hash agg; headers only, samples never read. */
  def m04AudioMeta(s: SparkSession, d: String): DataFrame = {
    import graft.functions.AudioCodec
    val makeWav = udf { (docId: Long, nChars: Long) =>
      val rates = Array(8000, 16000, 22050, 44100, 48000)
      AudioCodec.wavBytes(rates((docId % 5).toInt), 1 + (docId % 2).toInt,
        if (docId % 3 == 0) 8 else 16, (nChars % 2000 + 1).toInt,
        seed = (nChars % 100).toInt)
    }
    val payloads = documents(s, d)
      .select(col("doc_id"), makeWav(col("doc_id"), col("n_chars")).as("payload"))
    Multimodal.withAudioMeta(payloads, "payload")
      .select(col("ameta.sample_rate").as("sample_rate"),
        col("ameta.channels").as("channels"), col("ameta.bits").as("bits"),
        col("ameta.n_samples").as("n_samples"),
        col("ameta.duration_ms").as("duration_ms"),
        col("ameta.n_bytes").cast("long").as("n_bytes"))
      .groupBy(col("sample_rate"))
      .agg(count(lit(1)).as("n_clips"),
        sum(when(col("channels") === 2, 1L).otherwise(0L)).as("n_stereo"),
        sum(when(col("bits") === 8, 1L).otherwise(0L)).as("n_8bit"),
        sum(col("n_samples")).as("sum_samples"),
        sum(col("duration_ms")).as("sum_duration_ms"),
        sum(col("n_bytes")).as("sum_bytes"))
      .orderBy(col("sample_rate"))
  }

  /** M07 — video corpus profile THROUGH the real MP4 decode path: each
    * document is materialized as a minimal VALID ISO-BMFF stream
    * (timescale cycles through four standard movie timescales by doc_id;
    * duration/track-count/mdat-size derived from doc metadata — real box
    * sizes, spec-shaped mvhd/tkhd), then [[Multimodal.withVideoMeta]]
    * box-walks the headers back OUT OF THE BYTES and the per-timescale
    * aggregate profiles the corpus: video counts, multi-track share,
    * total duration (ticks and integer ms), mdat payload volume, byte
    * volume. The oracle recomputes every field from the synthesis
    * arithmetic, so a green hash proves the parse path recovered real
    * values — the m01/m03/m04 de-stubbing pattern extended to video.
    * Narrow decode + one map-side-combinable hash agg; header boxes
    * only, sample data never read. */
  def m07VideoMeta(s: SparkSession, d: String): DataFrame = {
    import graft.functions.VideoCodec
    val makeMp4 = udf { (docId: Long, nChars: Long) =>
      val scales = Array(600, 1000, 24000, 90000)
      VideoCodec.mp4Bytes(scales((docId % 4).toInt), nChars % 5000 + 1,
        1 + (docId % 3).toInt, (nChars % 3000).toInt,
        seed = (docId % 100).toInt)
    }
    val payloads = documents(s, d)
      .select(col("doc_id"), makeMp4(col("doc_id"), col("n_chars")).as("payload"))
    Multimodal.withVideoMeta(payloads, "payload")
      .select(col("vmeta.timescale").as("timescale"),
        col("vmeta.duration").as("duration"),
        col("vmeta.duration_ms").as("duration_ms"),
        col("vmeta.n_tracks").as("n_tracks"),
        col("vmeta.mdat_bytes").as("mdat_bytes"),
        col("vmeta.n_bytes").cast("long").as("n_bytes"))
      .groupBy(col("timescale"))
      .agg(count(lit(1)).as("n_videos"),
        sum(when(col("n_tracks") > 1, 1L).otherwise(0L)).as("n_multitrack"),
        sum(col("duration")).as("sum_duration"),
        sum(col("duration_ms")).as("sum_duration_ms"),
        sum(col("mdat_bytes")).as("sum_mdat_bytes"),
        sum(col("n_bytes")).as("sum_bytes"))
      .orderBy(col("timescale"))
  }

  /** M08 — MEDIA ROUTER over a MIXED corpus: payloads cycle through all
    * four container families (PNG, JPEG, WAV, MP4) plus raw blobs by
    * doc_id, and [[Multimodal.routeMedia]] sniff-dispatches every one in
    * a single narrow pass — the "profile whatever we crawled" query that
    * precedes any modality-specific pipeline. Per (kind, format): counts,
    * byte volume, total pixels (images), total duration (timed media).
    * The oracle recomputes all of it from the synthesis arithmetic
    * (including each container's exact on-disk size formula), so the
    * green hash proves sniff → parse → unify → aggregate end-to-end
    * across every parser at once. */
  def m08MediaRouter(s: SparkSession, d: String): DataFrame = {
    import graft.functions.{AudioCodec, ImageCodec, VideoCodec}
    val make = udf { (docId: Long, nChars: Long) =>
      val w = (nChars % 640 + 1).toInt
      val h = (nChars * 7 % 480 + 1).toInt
      val k = (nChars % 100).toInt
      (docId % 5) match {
        case 0 => ImageCodec.pngBytes(w, h, k)
        case 1 => ImageCodec.jpegBytes(w, h, k)
        case 2 =>
          val rates = Array(8000, 16000, 22050, 44100, 48000)
          AudioCodec.wavBytes(rates((nChars % 5).toInt), 1 + (nChars % 2).toInt,
            if (nChars % 3 == 0) 8 else 16, (nChars % 2000 + 1).toInt, seed = k)
        case 3 =>
          val scales = Array(600, 1000, 24000, 90000)
          VideoCodec.mp4Bytes(scales((nChars % 4).toInt), nChars % 5000 + 1,
            1 + (nChars % 3).toInt, (nChars % 3000).toInt, seed = k)
        case _ =>
          Array.tabulate((nChars % 1000).toInt)(i => ((i * 13 + 5) & 0xFF).toByte)
      }
    }
    val payloads = documents(s, d)
      .select(col("doc_id"), make(col("doc_id"), col("n_chars")).as("payload"))
    Multimodal.routeMedia(payloads, "payload")
      .select(col("rmeta.kind").as("kind"), col("rmeta.format").as("format"),
        col("rmeta.n_bytes").cast("long").as("n_bytes"),
        col("rmeta.px").as("px"), col("rmeta.duration_ms").as("duration_ms"))
      .groupBy(col("kind"), col("format"))
      .agg(count(lit(1)).as("n_media"),
        sum(col("n_bytes")).as("sum_bytes"),
        sum(col("px")).as("sum_px"),
        sum(col("duration_ms")).as("sum_duration_ms"))
      .orderBy(col("kind"), col("format"))
  }

  def m01MultimodalMeta(s: SparkSession, d: String): DataFrame = {
    Multimodal.withDecodedMeta(imagePayloads(s, d), "payload")
      .select(col("doc_id"),
        col("meta.format").as("format"),
        col("meta.n_bytes").as("n_bytes"),
        col("meta.width").as("width"),
        col("meta.height").as("height"),
        col("meta.n_frames").as("n_frames"))
      .orderBy(col("doc_id"))
  }

  /** M03 — corpus image statistics THROUGH the real decode path: per
    * sniffed container format, counts, width extremes/sum and the
    * landscape share — the "what's in this multimodal corpus" profile
    * that gates resize/filter decisions. All-integer aggregates of
    * PARSED dimensions (the oracle recomputes them from the synthesis
    * arithmetic, so the hash proves decode → aggregate end-to-end).
    * One mapPartitions decode (narrow) + one map-side-combinable
    * hash agg — the metadata pass never touches pixel data, the shape
    * that keeps a 100 TB image corpus profile I/O-bound. */
  def m03ImageStats(s: SparkSession, d: String): DataFrame =
    Multimodal.withDecodedMeta(imagePayloads(s, d), "payload")
      .select(col("meta.format").as("format"),
        col("meta.width").cast("long").as("w"),
        col("meta.height").cast("long").as("h"))
      .groupBy(col("format"))
      .agg(count(lit(1)).as("n_images"),
        min(col("w")).as("min_width"),
        max(col("w")).as("max_width"),
        sum(col("w")).as("sum_width"),
        sum(when(col("w") > col("h"), 1L).otherwise(0L)).as("n_landscape"))
      .orderBy(col("format"))

  /** T21 — TOKEN-BUDGET SHARD MANIFESTS: the step between "filtered
    * corpus" and "training run" — documents are packed, in a deterministic
    * order, into contiguous shards of ≈ 512 tokens each (a fixture-scaled stand-in for the 2k-8k context budget), and the manifest
    * reports how full each shard came out. Greedy next-fit semantics: docs
    * are laid end-to-end per source in md5(doc_id) order (the t07 trick —
    * a stable, content-independent shuffle that decorrelates length from
    * position) and a doc belongs to the shard its FIRST token lands in, so
    * shard boundaries never split the manifest even when a doc straddles
    * the budget line.
    *
    * Scale design: one token-count projection (t03's codegen regex), one
    * running sum windowed BY SOURCE (sources partition the corpus — no
    * global-order window; a global manifest would use GlobalRank's
    * two-phase offsets instead), one group-count. Integer end-to-end. */
  def t21TokenShards(s: SparkSession, d: String): DataFrame = {
    val budget = 512L
    val w = Window.partitionBy(col("source"))
      .orderBy(md5(col("doc_id").cast("string")))
      .rowsBetween(Window.unboundedPreceding, 0)
    documents(s, d)
      .select(col("source"), col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("tok"))
      .withColumn("cum", sum(col("tok")).over(w))
      .withColumn("shard", expr(s"(cum - tok) div $budget"))
      .groupBy(col("source"), col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("shard_tokens"))
      .withColumn("fill_bp", expr(s"shard_tokens * 10000 div $budget"))
      .orderBy(col("source"), col("shard"))
  }

  /** T22 — DOMAIN-MIX ALLOCATION by largest remainder: given a training
    * budget of ⌊T/3⌋ tokens over a corpus of T, split it across sources
    * proportionally to their token mass with the largest-remainder
    * (Hamilton) method — the standard way to turn real-valued mixing
    * weights into an integer token plan that sums EXACTLY to the budget.
    * Each source gets ⌊B·Tₛ/T⌋, and the leftover R = B − Σ floors goes to
    * the R largest fractional remainders (B·Tₛ mod T, source as the
    * deterministic tiebreak).
    *
    * Scale design: the heavy pass is one map-side-combinable per-source
    * token sum; everything after operates on one row per source — a
    * bounded domain (like d13's segments), so the rank window over that
    * tiny frame is not a data-scale window. Integer throughout; at
    * petascale token counts B·Tₛ would need DECIMAL(38) headroom, noted
    * here because the BIGINT product caps at T ≈ 3·10⁹ × corpus tokens. */
  def t22DomainMix(s: SparkSession, d: String): DataFrame = {
    val perSource = documents(s, d)
      .select(col("source"), TextAnalysis.tokenCount(col("text")).cast("long").as("tok"))
      .groupBy(col("source")).agg(sum(col("tok")).as("tokens"))
    val totals = perSource.agg(sum(col("tokens")).as("t_total"))
      .selectExpr("t_total", "t_total div 3 AS budget")
    val based = perSource.crossJoin(broadcast(totals))
      .selectExpr("source", "tokens", "budget",
        "(budget * tokens) div t_total AS base",
        "(budget * tokens) % t_total AS rem")
    val leftover = based.agg((max(col("budget")) - sum(col("base"))).as("r_extra"))
    based.crossJoin(broadcast(leftover))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("rem").desc, col("source"))))
      .selectExpr("source", "tokens",
        "base + CASE WHEN rk <= r_extra THEN 1 ELSE 0 END AS alloc_tokens",
        "CASE WHEN budget = 0 THEN CAST(0 AS BIGINT) " +
          "ELSE (base + CASE WHEN rk <= r_extra THEN 1 ELSE 0 END) * 10000 div budget " +
          "END AS share_bp")
      .orderBy(col("source"))
  }

  /** T25 — MIX-PLAN EXECUTION: materialize t22's largest-remainder token
    * allocation into an actual document selection — per source, take docs
    * in the same deterministic md5 order as t21 until the source's
    * allocation is filled (a doc is taken iff its FIRST token lands
    * inside the allocation — t21's next-fit straddle semantic, so the
    * take can overshoot by at most one doc). The report carries
    * tokens_taken against alloc_tokens with the fill in basis points —
    * the audit a mixing run ships with.
    *
    * Scale design: the allocation table is one row per source
    * (broadcast); the take is t21's source-partitioned running sum plus
    * one filter — no new shuffle shape. Plan → execution → audit is the
    * t22 → t25 pair, the same composition discipline as d18 → t24. */
  def t25MixExecute(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("source"))
      .orderBy(md5(col("doc_id").cast("string")))
      .rowsBetween(Window.unboundedPreceding, 0)
    val alloc = t22DomainMix(s, d).select(col("source"), col("alloc_tokens"))
    documents(s, d)
      .select(col("source"), col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("tok"))
      .withColumn("cum", sum(col("tok")).over(w))
      .join(broadcast(alloc), Seq("source"))
      .filter(col("cum") - col("tok") < col("alloc_tokens"))
      .groupBy(col("source"), col("alloc_tokens"))
      .agg(count(lit(1)).as("n_docs_taken"), sum(col("tok")).as("tokens_taken"))
      .selectExpr("source", "n_docs_taken", "tokens_taken", "alloc_tokens",
        "CASE WHEN alloc_tokens = 0 THEN CAST(0 AS BIGINT) " +
          "ELSE tokens_taken * 10000 div alloc_tokens END AS fill_bp")
      .orderBy(col("source"))
  }

  val queries: Map[String, Q] = Map(
    "t21_token_shards" -> t21TokenShards,
    "t25_mix_execute" -> t25MixExecute,
    "t22_domain_mix" -> t22DomainMix,
    "d01_minhash_lsh" -> d01MinhashLsh,
    "d29_incremental_dedupe" -> d29IncrementalDedupe,
    "d02_simhash" -> d02Simhash,
    "d03_ngram_jaccard" -> d03NgramJaccard,
    "d25_prefix_filter" -> d25PrefixFilter,
    "d16_containment" -> d16Containment,
    "d04_embedding_near_dup" -> d04EmbeddingNearDup,
    "d05_dup_clusters" -> d05DupClusters,
    "d10_dup_clusters_star" -> d10DupClustersStar,
    "d06_line_dedupe" -> d06LineDedupe,
    "d07_line_rebuild" -> d07LineRebuild,
    "d12_substring_dedupe" -> d12SubstringDedupe,
    "t17_phrase_search" -> t17PhraseSearch,
    "t18_familiarity" -> t18Familiarity,
    "t20_bm25" -> t20Bm25,
    "t23_bigram_novelty" -> t23BigramNovelty,
    "t26_bigram_surprisal" -> t26BigramSurprisal,
    "t27_zipf_profile" -> t27ZipfProfile,
    "t28_rake_keywords" -> t28RakeKeywords,
    "p01_pipeline" -> p01Pipeline,
    "s01_ann_brute_force" -> s01AnnBruteForce,
    "s02_ann_lsh" -> s02AnnLsh,
    "s03_ann_ivf" -> s03AnnIvf,
    "s04_ann_sq8" -> s04AnnSq8,
    "s06_ann_graph" -> s06AnnGraph,
    "s07_mmr_rerank" -> s07MmrRerank,
    "t01_lang_id" -> t01LangId,
    "t02_quality" -> t02Quality,
    "t03_token_count" -> t03TokenCount,
    "t04_fingerprint" -> t04Fingerprint,
    "t05_bpe_token_count" -> t05BpeTokenCount,
    "t06_repetition" -> t06Repetition,
    "t07_hash_split" -> t07HashSplit,
    "t08_top_vocab" -> t08TopVocab,
    "t09_c4_gates" -> t09C4Gates,
    "t10_pii_count" -> t10PiiCount,
    "t11_tfidf" -> t11Tfidf,
    "t12_stratified_sample" -> t12StratifiedSample,
    "m01_multimodal_meta" -> m01MultimodalMeta,
    "m03_image_stats" -> m03ImageStats,
    "m04_audio_meta" -> m04AudioMeta,
    "m07_video_meta" -> m07VideoMeta,
    "m08_media_router" -> m08MediaRouter)

  // ----------------------------------------------------------- oracle SQL

  private val P = 2147483647L
  private val wordsSql = """regexp_split_to_array(trim(lower(text)), '\s+')"""
  private val md5HashSql = (v: String) =>
    s"CAST(concat('0x', substr(md5($v), 1, 8)) AS BIGINT)"

  /** MinHash signature SQL — same (a,b) family as Dedupe.hashFamily(16). */
  /** Shared minhash-signature CTE chain ending in `sig(doc_id, sig)` —
    * the identical 16-lane family as `Dedupe.hashFamily(16)`. Interpolated
    * by BOTH the d01 pair oracle and the d29 incremental-dedupe oracle so
    * signature semantics cannot drift (the lpaCtes/ivfBuildCtes rule). */
  private val sigCtes: String = {
    val fam = Dedupe.hashFamily(16)
    val shingle =
      s"""list_transform(generate_series(1, len(w) - 2),
          i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])"""
    val base = s"list_transform($shingle, sh -> ${md5HashSql("sh")} % $P)"
    val sigEntries = fam.map { case (a, b) =>
      s"list_min(list_transform(h, x -> (x * $a + $b) % $P))"
    }.mkString("[", ", ", "]")
    s"""w0 AS (
          SELECT doc_id, list_filter($wordsSql, x -> length(x) > 0) AS w
          FROM documents
        ), hh AS (
          SELECT doc_id, $base AS h FROM (SELECT doc_id, w FROM w0 WHERE len(w) >= 3) t
        ), sig AS (
          SELECT doc_id, $sigEntries AS sig FROM hh
        )"""
  }

  private val minhashSql: String = {
    s"""WITH $sigCtes, banded AS (
          SELECT doc_id, sig, b.band_idx,
                 array_to_string(sig[band_idx * 4 + 1 : band_idx * 4 + 4], ':') AS band_key
          FROM sig, LATERAL (SELECT unnest([0,1,2,3]) AS band_idx) b
        ), pairs AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.sig AS sig_a, b.sig AS sig_b
          FROM banded a JOIN banded b
            ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id
        )
        SELECT id_a, id_b,
               CAST(len(list_filter(list_zip(sig_a, sig_b), p -> p[1] = p[2])) AS DOUBLE) / 16.0 AS agree
        FROM pairs WHERE agree >= 0.5 ORDER BY id_a, id_b"""
  }

  /** SimHash SQL — 32-bit fingerprint, identical bit arithmetic. */
  private val simhashSql: String = {
    val bitSums = (0 until 32).map { j =>
      s"sum(CASE WHEN (h >> $j) & 1 = 1 THEN tf ELSE -tf END) AS b$j"
    }.mkString(", ")
    val fp = (0 until 32).map { j =>
      s"(CASE WHEN b$j > 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString(" + ")
    s"""WITH tf AS (
          SELECT doc_id, w, count(*) AS tf FROM (
            SELECT doc_id, unnest($wordsSql) AS w FROM documents) t
          WHERE length(w) > 0 GROUP BY doc_id, w
        ), hashed AS (
          SELECT doc_id, ${md5HashSql("w")} AS h, tf FROM tf
        ), bits AS (
          SELECT doc_id, $bitSums FROM hashed GROUP BY doc_id
        ), fps AS (
          SELECT doc_id, $fp AS fp FROM bits
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(bit_count(xor(a.fp, b.fp)) AS INTEGER) AS hamming
        FROM fps a JOIN fps b
          ON a.doc_id < b.doc_id AND
             (((a.fp >> 0) & 255) = ((b.fp >> 0) & 255) OR
              ((a.fp >> 8) & 255) = ((b.fp >> 8) & 255) OR
              ((a.fp >> 16) & 255) = ((b.fp >> 16) & 255) OR
              ((a.fp >> 24) & 255) = ((b.fp >> 24) & 255))
        WHERE bit_count(xor(a.fp, b.fp)) <= 3
        ORDER BY id_a, id_b"""
  }

  private val dotVV =
    "list_reduce(list_transform(list_zip(a.v, b.v), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (x, y) -> x + y)"

  /** DuckDB sign-LSH bucket over SQL vector expr `v`: the same seeded
    * hyperplanes as Similarity.lshBucket, embedded as double literals, with
    * the identical sequential-fold projection — so buckets agree bit-for-bit
    * with the Spark side. */
  private[queries] def lshBucketSql(v: String, dim: Int, nPlanes: Int, seed: Long): String =
    Similarity.lshPlanes(dim, nPlanes, seed).map { p =>
      val lst = p.mkString("[", ", ", "]")
      s"(CASE WHEN list_reduce(list_transform(list_zip($v, $lst), pp -> CAST(pp[1] AS DOUBLE) * pp[2]), (x, y) -> x + y) >= 0 THEN '1' ELSE '0' END)"
    }.mkString("(", " || ", ")")

  /** s02 oracle: per-table sign buckets from embedded plane literals, bucket
    * equi-join, distinct candidates, exact cosine rank — the same pipeline
    * as Similarity.approxTopKByCosine. */
  private def s02Sql: String = {
    val (dim, nPlanes, nTables) = (64, 3, 4)
    def bucketCase(v: String) = (0 until nTables).map { t =>
      s"WHEN t.tbl = $t THEN ${lshBucketSql(v, dim, nPlanes, 42L + t)}"
    }.mkString("CASE ", " ", " END")
    val tblList = (0 until nTables).mkString("[", ", ", "]")
    s"""WITH corpus_b AS (
          SELECT vec_id AS id, embedding AS v, t.tbl,
                 ${bucketCase("embedding")} AS bucket
          FROM embeddings, LATERAL (SELECT unnest($tblList) AS tbl) t
        ), qb AS (
          SELECT qid, qv, t.tbl, ${bucketCase("qv")} AS bucket
          FROM (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 3) q,
               LATERAL (SELECT unnest($tblList) AS tbl) t
        ), cand AS (
          SELECT DISTINCT b.qid, a.id, ${cosSql("a.v", "b.qv")} AS score
          FROM corpus_b a JOIN qb b ON a.tbl = b.tbl AND a.bucket = b.bucket
          WHERE a.id <> b.qid
        ), ranked AS (
          SELECT qid, id, score,
                 CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, id) AS INT) AS rank
          FROM cand
        )
        SELECT qid, id, score, rank FROM ranked WHERE rank <= 5 ORDER BY qid, rank"""
  }

  /** s06 oracle: replay the deterministic graph-ANN build and 2-hop beam
    * walk in SQL — same seeded planes (embedded literals), same (score
    * desc, id) tie-breaks, same dedup/merge per hop, exact rerank. */
  /** s07 oracle: the MMR greedy walk unrolled as chained CTEs — pick_i is
    * the argmax of 0.5·rel − 0.5·max(sim to sel_{i−1}) with ascending-id
    * tie-break; sel_i accumulates the picks. Same λ, same empty-set-max=0
    * convention, same index-ordered cosine folds as the engine. */
  private def s07Sql: String = {
    val (k, poolSize) = (5, 10)
    val steps = (2 to k).map { i =>
      s"""pick$i AS (
         |  SELECT $i AS step, c.id, c.rel,
         |         0.5 * c.rel - 0.5 * (
         |           SELECT max(p.sim) FROM pair p
         |           WHERE p.ia = c.id AND p.ib IN (SELECT id FROM sel${i - 1})
         |         ) AS mmr
         |  FROM pool c
         |  WHERE c.id NOT IN (SELECT id FROM sel${i - 1})
         |  ORDER BY mmr DESC, c.id LIMIT 1
         |), sel$i AS (SELECT * FROM sel${i - 1} UNION ALL SELECT * FROM pick$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH q AS (
       |  SELECT embedding AS qv FROM embeddings WHERE vec_id = 0
       |), pool AS (
       |  SELECT id, v, rel FROM (
       |    SELECT a.vec_id AS id, a.embedding AS v,
       |           ${cosSql("a.embedding", "q.qv")} AS rel
       |    FROM embeddings a, q WHERE a.vec_id <> 0) t
       |  WHERE rel IS NOT NULL
       |  ORDER BY rel DESC, id LIMIT $poolSize
       |), pair AS (
       |  SELECT x.id AS ia, y.id AS ib, ${cosSql("x.v", "y.v")} AS sim
       |  FROM pool x JOIN pool y ON x.id <> y.id
       |), sel1 AS (
       |  SELECT 1 AS step, id, rel, 0.5 * rel - 0.5 * 0.0 AS mmr
       |  FROM pool ORDER BY rel DESC, id LIMIT 1
       |),
       |$steps
       |SELECT CAST(step AS BIGINT) AS step, id, rel, mmr
       |FROM sel$k ORDER BY step""".stripMargin
  }

  private def s06Sql: String = {
    val (dim, nPlanes, nTables, m, beam, k) = (64, 5, 6, 8, 10, 5)
    def bucketCase(v: String) = (0 until nTables).map { t =>
      s"WHEN t.tbl = $t THEN ${lshBucketSql(v, dim, nPlanes, 42L + t)}"
    }.mkString("CASE ", " ", " END")
    val tblList = (0 until nTables).mkString("[", ", ", "]")
    // 64-bit sign fingerprint (seed 41) — the same planes the engine embeds
    val fpSql = Similarity.lshPlanes(dim, 64, 41L).zipWithIndex.map {
      case (p, j) =>
        val lst = p.mkString("[", ", ", "]")
        s"(CASE WHEN list_reduce(list_transform(list_zip(v, $lst), " +
          s"pp -> CAST(pp[1] AS DOUBLE) * pp[2]), (x, y) -> x + y) >= 0 " +
          s"THEN CAST(${1L << j} AS BIGINT) ELSE 0::BIGINT END)" // literal: DuckDB rejects 1<<63
    }.mkString("(", " + ", ")")
    s"""WITH base AS (
          SELECT vec_id AS id, embedding AS v FROM embeddings
        ), fps AS (
          SELECT id, $fpSql AS fp FROM base
        ), bk AS (
          SELECT t.tbl, ${bucketCase("v")} AS bucket, id, v
          FROM base, LATERAL (SELECT unnest($tblList) AS tbl) t
        ), pairs AS (
          SELECT DISTINCT a.id AS src, b.id AS dst,
                 CAST(bit_count(xor(fa.fp, fb.fp)) AS INTEGER) AS w
          FROM bk a JOIN bk b ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.id <> b.id
          JOIN fps fa ON fa.id = a.id JOIN fps fb ON fb.id = b.id
        ), knn AS (
          SELECT src, dst FROM (
            SELECT src, dst,
                   row_number() OVER (PARTITION BY src ORDER BY w, dst) AS rn
            FROM pairs) t
          WHERE rn <= $m
        ), edges AS (
          SELECT DISTINCT src, dst FROM (
            SELECT src, dst FROM knn
            UNION ALL SELECT dst AS src, src AS dst FROM knn) u
        ), qs AS (
          SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 3
        ), qb0 AS (
          SELECT qid, t.tbl, ${bucketCase("qv")} AS bucket
          FROM qs, LATERAL (SELECT unnest($tblList) AS tbl) t
        ), qb AS (
          SELECT DISTINCT qid, tbl, bucket FROM (
            SELECT qid, tbl, bucket FROM qb0
            ${(1 to nPlanes).map(f =>
              s"UNION ALL SELECT qid, tbl, substr(bucket, 1, ${f - 1}) || " +
                s"(CASE WHEN substr(bucket, $f, 1) = '1' THEN '0' ELSE '1' END) || " +
                s"substr(bucket, ${f + 1}, ${nPlanes - f}) FROM qb0").mkString("\n            ")}
          ) u
        ), entries AS (
          SELECT DISTINCT q.qid, a.id AS cid
          FROM qb q JOIN bk a ON a.tbl = q.tbl AND a.bucket = q.bucket
        ), c0 AS (
          SELECT e.qid, e.cid, ${cosSql("b.v", "q.qv")} AS score
          FROM entries e JOIN base b ON b.id = e.cid JOIN qs q ON q.qid = e.qid
        ), b0 AS (
          SELECT qid, cid FROM (
            SELECT qid, cid,
                   row_number() OVER (PARTITION BY qid ORDER BY score DESC, cid) AS rn
            FROM c0) t
          WHERE rn <= $beam
        ), h1 AS (
          SELECT DISTINCT mm.qid, e.dst AS cid FROM b0 mm JOIN edges e ON e.src = mm.cid
        ), s1 AS (
          SELECT h.qid, h.cid, ${cosSql("b.v", "q.qv")} AS score
          FROM h1 h JOIN base b ON b.id = h.cid JOIN qs q ON q.qid = h.qid
        ), c1 AS (
          SELECT qid, cid, max(score) AS score FROM (
            SELECT * FROM c0 UNION ALL SELECT * FROM s1) u
          GROUP BY qid, cid
        ), b1 AS (
          SELECT qid, cid FROM (
            SELECT qid, cid,
                   row_number() OVER (PARTITION BY qid ORDER BY score DESC, cid) AS rn
            FROM c1) t
          WHERE rn <= $beam
        ), h2 AS (
          SELECT DISTINCT mm.qid, e.dst AS cid FROM b1 mm JOIN edges e ON e.src = mm.cid
        ), s2 AS (
          SELECT h.qid, h.cid, ${cosSql("b.v", "q.qv")} AS score
          FROM h2 h JOIN base b ON b.id = h.cid JOIN qs q ON q.qid = h.qid
        ), c2 AS (
          SELECT qid, cid, max(score) AS score FROM (
            SELECT * FROM c1 UNION ALL SELECT * FROM s2) u
          GROUP BY qid, cid
        )
        SELECT qid, cid AS id, score, rank FROM (
          SELECT qid, cid, score,
                 CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, cid) AS INT) AS rank
          FROM c2 WHERE cid <> qid) r
        WHERE rank <= $k ORDER BY qid, rank"""
  }

  /** s03 oracle: recompute the seeded-centroid IVF index in SQL (centroids =
    * 8 lowest-id vectors; assignment/probes by cosine with part tie-break)
    * and search it — mirrors seededCentroids + assignToCentroids + searchIvf. */
  /** IVF build CTEs (seeded centroids + nearest-centroid assignment),
    * ending in `assigned(id, v, part)` — shared by the s03 search oracle
    * and the s15 balance-audit oracle so build semantics cannot drift
    * (the lpaCtes/dupAssignedCtes rule). */
  private[queries] def ivfBuildCtes: String =
    s"""cent AS (
          SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS part,
                 embedding AS cvec
          FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 8) t
        ), assigned AS (
          SELECT id, v, part FROM (
            SELECT a.vec_id AS id, a.embedding AS v, c.part,
                   row_number() OVER (PARTITION BY a.vec_id
                     ORDER BY ${cosSql("a.embedding", "c.cvec")} DESC, c.part) AS rn
            FROM embeddings a CROSS JOIN cent c) s
          WHERE rn = 1
        )"""

  private def s03Sql: String =
    s"""WITH $ivfBuildCtes, probes AS (
          SELECT qid, qv, part FROM (
            SELECT q.qid, q.qv, c.part,
                   row_number() OVER (PARTITION BY q.qid
                     ORDER BY ${cosSql("q.qv", "c.cvec")} DESC, c.part) AS pr
            FROM (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 3) q
            CROSS JOIN cent c) s
          WHERE pr <= 3
        ), scored AS (
          SELECT p.qid, a.id, ${cosSql("a.v", "p.qv")} AS score
          FROM assigned a JOIN probes p ON a.part = p.part
          WHERE a.id <> p.qid
        )
        SELECT qid, id, score, rank FROM (
          SELECT qid, id, score,
                 CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, id) AS INT) AS rank
          FROM scored) r
        WHERE rank <= 5 ORDER BY qid, rank"""

  private val langScores = TextAnalysis.StopwordSets.toSeq.sortBy(_._1).map {
    case (lang, stops) =>
      lang -> s"len(list_intersect(list_distinct($wordsSql), ${stops.mkString("['", "', '", "']")}))"
  }

  /** Shared CTE block producing the blocked Jaccard pairs (d03's kernel):
    * ends with `jpairs(id_a, id_b, inter, uni, jaccard)`. Reused verbatim
    * by the d05 cluster oracle so both sides agree on the edge set. */
  private val jaccardPairCtes: String =
    s"""tok AS (
          SELECT doc_id, source, unnest(list_distinct($wordsSql)) AS w
          FROM documents
        ), tok2 AS (
          SELECT doc_id, source, w FROM tok WHERE length(w) > 0
        ), jsizes AS (
          SELECT doc_id, count(*) AS sz FROM tok2 GROUP BY doc_id
        ), inter AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
          FROM tok2 a JOIN tok2 b ON a.source = b.source AND a.w = b.w AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id
        ), jpairs AS (
          SELECT id_a, id_b, inter, sa.sz + sb.sz - inter AS uni,
                 CAST(inter AS DOUBLE) / CAST(sa.sz + sb.sz - inter AS DOUBLE) AS jaccard
          FROM inter
          JOIN jsizes sa ON sa.doc_id = id_a
          JOIN jsizes sb ON sb.doc_id = id_b
          WHERE CAST(inter AS DOUBLE) / CAST(sa.sz + sb.sz - inter AS DOUBLE) >= 0.8
        )"""

  /** d05 oracle: same jpairs edge set, transitive closure by recursive CTE
    * (labels flow along symmetrized edges; min reachable label = component),
    * then per-document cluster assignment, size, canonical flag. */
  /** The d05 cluster-assignment CTE chain (ends in `assigned(doc_id,
    * cluster)`); must follow a `WITH RECURSIVE` keyword. Shared with
    * CurationQueries' p03 dedupe-impact oracle so both agree on the
    * cluster semantics to the letter. */
  private[queries] val dupAssignedCtes: String =
    s"""$jaccardPairCtes, edges AS (
          SELECT id_a AS src, id_b AS dst FROM jpairs
          UNION
          SELECT id_b AS src, id_a AS dst FROM jpairs
        ), reach AS (
          SELECT src AS id, src AS label FROM edges
          UNION
          SELECT e.dst AS id, r.label FROM reach r JOIN edges e ON e.src = r.id
        ), comp AS (
          SELECT id, min(label) AS comp FROM reach GROUP BY id
        ), assigned AS (
          SELECT d.doc_id, coalesce(c.comp, d.doc_id) AS cluster
          FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
        )"""

  private val dupClustersSql: String =
    s"""WITH RECURSIVE $dupAssignedCtes, csizes AS (
          SELECT cluster, count(*) AS cluster_size FROM assigned GROUP BY cluster
        )
        SELECT a.doc_id, a.cluster, s.cluster_size,
               CAST(a.doc_id = a.cluster AS INT) AS is_canonical
        FROM assigned a JOIN csizes s ON a.cluster = s.cluster
        ORDER BY a.doc_id"""

  /** DuckDB mirror of t03's token count, shared by t21/t22 (and
    * CurationQueries' p03). */
  private[queries] val tokSql =
    """CAST(CASE WHEN text IS NULL OR length(text) = 0 THEN 0
      |     ELSE len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]'))
      |     END AS BIGINT)""".stripMargin

  val oracle: Map[String, String] = Map(
    "t25_mix_execute" ->
      s"""WITH toks AS (
            SELECT source, doc_id, $tokSql AS tok FROM documents
          ), per_source AS (
            SELECT source, CAST(sum(tok) AS BIGINT) AS tokens
            FROM toks GROUP BY source
          ), tot AS (
            SELECT CAST(sum(tokens) AS BIGINT) AS t_total,
                   CAST(sum(tokens) AS BIGINT) // 3 AS budget
            FROM per_source
          ), based AS (
            SELECT source, tokens, budget, t_total,
                   (budget * tokens) // t_total AS base,
                   (budget * tokens) % t_total AS rem
            FROM per_source, tot
          ), lo AS (
            SELECT max(budget) - CAST(sum(base) AS BIGINT) AS r_extra FROM based
          ), rk AS (
            SELECT source, base, rem,
                   row_number() OVER (ORDER BY rem DESC, source) AS rk
            FROM based
          ), alloc AS (
            SELECT source,
                   CAST(base + CASE WHEN rk <= r_extra THEN 1 ELSE 0 END AS BIGINT)
                     AS alloc_tokens
            FROM rk, lo
          ), cum AS (
            SELECT source, tok,
                   CAST(sum(tok) OVER (PARTITION BY source
                          ORDER BY md5(CAST(doc_id AS VARCHAR))
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS cum
            FROM toks
          ), take AS (
            SELECT c.source, c.tok, a.alloc_tokens
            FROM cum c JOIN alloc a ON a.source = c.source
            WHERE c.cum - c.tok < a.alloc_tokens
          )
          SELECT source, count(*) AS n_docs_taken,
                 CAST(sum(tok) AS BIGINT) AS tokens_taken, alloc_tokens,
                 CAST(CASE WHEN alloc_tokens = 0 THEN 0
                           ELSE CAST(sum(tok) AS BIGINT) * 10000 // alloc_tokens END
                      AS BIGINT) AS fill_bp
          FROM take GROUP BY source, alloc_tokens ORDER BY source""",
    "t21_token_shards" ->
      s"""WITH toks AS (
            SELECT source, doc_id, $tokSql AS tok FROM documents
          ), cum AS (
            SELECT source, tok,
                   CAST(sum(tok) OVER (PARTITION BY source
                          ORDER BY md5(CAST(doc_id AS VARCHAR))
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS cum
            FROM toks
          )
          SELECT source, (cum - tok) // 512 AS shard, count(*) AS n_docs,
                 CAST(sum(tok) AS BIGINT) AS shard_tokens,
                 CAST(sum(tok) AS BIGINT) * 10000 // 512 AS fill_bp
          FROM cum GROUP BY source, shard ORDER BY source, shard""",
    "t22_domain_mix" ->
      s"""WITH toks AS (
            SELECT source, $tokSql AS tok FROM documents
          ), per_source AS (
            SELECT source, CAST(sum(tok) AS BIGINT) AS tokens
            FROM toks GROUP BY source
          ), tot AS (
            SELECT CAST(sum(tokens) AS BIGINT) AS t_total,
                   CAST(sum(tokens) AS BIGINT) // 3 AS budget
            FROM per_source
          ), based AS (
            SELECT source, tokens, budget, t_total,
                   (budget * tokens) // t_total AS base,
                   (budget * tokens) % t_total AS rem
            FROM per_source, tot
          ), lo AS (
            SELECT max(budget) - CAST(sum(base) AS BIGINT) AS r_extra FROM based
          ), rk AS (
            SELECT source, tokens, budget, base, rem,
                   row_number() OVER (ORDER BY rem DESC, source) AS rk
            FROM based
          )
          SELECT source, tokens,
                 CAST(base + CASE WHEN rk <= r_extra THEN 1 ELSE 0 END AS BIGINT)
                   AS alloc_tokens,
                 CAST(CASE WHEN budget = 0 THEN 0
                           ELSE (base + CASE WHEN rk <= r_extra THEN 1 ELSE 0 END)
                                * 10000 // budget END
                      AS BIGINT) AS share_bp
          FROM rk, lo ORDER BY source""",
    "d01_minhash_lsh" -> minhashSql,
    "d29_incremental_dedupe" ->
      s"""WITH $sigCtes, b0 AS (
            SELECT doc_id, source,
                   (${md5HashSql("CAST(doc_id AS VARCHAR)")} % 100 < 80) AS is_hist,
                   ${md5HashSql("trim(lower(coalesce(text, '')))")} AS thash
            FROM documents
          ), banded AS (
            SELECT s.doc_id, s.sig, b.band_idx,
                   array_to_string(s.sig[b.band_idx * 4 + 1 : b.band_idx * 4 + 4], ':')
                     AS band_key,
                   b0.is_hist
            FROM sig s JOIN b0 ON b0.doc_id = s.doc_id,
                 LATERAL (SELECT unnest([0,1,2,3]) AS band_idx) b
          ), cand AS (
            SELECT DISTINCT a.doc_id AS bid, h.doc_id AS hid
            FROM banded a JOIN banded h
              ON a.band_idx = h.band_idx AND a.band_key = h.band_key
            WHERE NOT a.is_hist AND h.is_hist
          ), nearv AS (
            SELECT DISTINCT c.bid
            FROM cand c JOIN sig sa ON sa.doc_id = c.bid
                        JOIN sig sb ON sb.doc_id = c.hid
            WHERE len(list_filter(list_zip(sa.sig, sb.sig), p -> p[1] = p[2])) >= 8
          ), hh2 AS (
            SELECT DISTINCT thash FROM b0 WHERE is_hist
          ), fb AS (
            SELECT thash, min(doc_id) AS first_id
            FROM b0 WHERE NOT is_hist GROUP BY thash
          ), cls AS (
            SELECT b.doc_id, b.source,
                   CASE WHEN b.thash IN (SELECT thash FROM hh2) THEN 'dup_exact_hist'
                        WHEN b.doc_id IN (SELECT bid FROM nearv) THEN 'dup_near_hist'
                        WHEN b.doc_id <> fb.first_id THEN 'dup_in_batch'
                        ELSE 'net_new' END AS cls
            FROM b0 b JOIN fb ON fb.thash = b.thash
            WHERE NOT b.is_hist
          )
          SELECT source, CAST(count(*) AS BIGINT) AS n_batch,
                 CAST(coalesce(sum(CASE WHEN cls = 'dup_exact_hist' THEN 1 END), 0)
                   AS BIGINT) AS n_exact_hist,
                 CAST(coalesce(sum(CASE WHEN cls = 'dup_near_hist' THEN 1 END), 0)
                   AS BIGINT) AS n_near_hist,
                 CAST(coalesce(sum(CASE WHEN cls = 'dup_in_batch' THEN 1 END), 0)
                   AS BIGINT) AS n_dup_in_batch,
                 CAST(coalesce(sum(CASE WHEN cls = 'net_new' THEN 1 END), 0)
                   AS BIGINT) AS n_net_new
          FROM cls GROUP BY source ORDER BY source""",
    "d02_simhash" -> simhashSql,
    "t18_familiarity" ->
      s"""WITH toks AS (
            SELECT doc_id, w FROM (
              SELECT doc_id, unnest($wordsSql) AS w FROM documents) t
            WHERE length(w) > 0
          ), vocab AS (
            SELECT w, count(*) AS cf FROM toks GROUP BY w
          ), tot AS (SELECT count(*) AS total FROM toks
          ), per AS (
            SELECT t.doc_id, CAST(sum(v.cf) AS BIGINT) AS fam_sum,
                   count(*) AS n_tokens
            FROM toks t JOIN vocab v ON v.w = t.w GROUP BY t.doc_id
          )
          SELECT doc_id, n_tokens, fam_sum,
                 CAST(fam_sum AS DOUBLE) / CAST(n_tokens * total AS DOUBLE)
                   AS familiarity
          FROM per, tot ORDER BY doc_id""",
    "t17_phrase_search" ->
      s"""WITH w0 AS (
            SELECT doc_id, $wordsSql AS ws FROM documents
          ), toks AS (
            SELECT doc_id, ws[i.i] AS w, i.i AS pos
            FROM w0, LATERAL (SELECT unnest(generate_series(1, len(ws))) AS i) i
            WHERE length(ws[i.i]) > 0
          ), big AS (
            SELECT a.w AS w1, b.w AS w2, count(*) AS cnt
            FROM toks a JOIN toks b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
            GROUP BY a.w, b.w
          ), top AS (
            SELECT w1, w2 FROM big ORDER BY cnt DESC, w1, w2 LIMIT 1
          )
          SELECT a.doc_id, t.w1 || ' ' || t.w2 AS phrase, count(*) AS n_hits
          FROM toks a
          JOIN top t ON a.w = t.w1
          JOIN toks b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1 AND b.w = t.w2
          GROUP BY a.doc_id, t.w1, t.w2
          ORDER BY a.doc_id""",
    "d12_substring_dedupe" ->
      """WITH sel AS (
           SELECT doc_id,
                  CAST(concat('0x', substr(md5(substr(text, i.i, 16)), 1, 8))
                       AS BIGINT) AS h
           FROM documents,
                LATERAL (SELECT unnest(generate_series(1, length(text) - 15)) AS i) i
           WHERE length(text) >= 16
             AND CAST(concat('0x', substr(md5(substr(text, i.i, 16)), 1, 8))
                      AS BIGINT) % 8 = 0
         ), own AS (
           SELECT h, min(doc_id) AS first_id FROM sel GROUP BY h
         ), per AS (
           SELECT s.doc_id, count(*) AS n_grams,
                  sum(CASE WHEN o.first_id < s.doc_id THEN 1 ELSE 0 END) AS n_shared,
                  max(CASE WHEN o.first_id < s.doc_id THEN 1 ELSE 0 END) AS is_dup
           FROM sel s JOIN own o ON o.h = s.h GROUP BY s.doc_id
         )
         SELECT d.doc_id,
                CAST(coalesce(p.n_grams, 0) AS BIGINT) AS n_grams,
                CAST(coalesce(p.n_shared, 0) AS BIGINT) AS n_shared,
                CAST(coalesce(p.is_dup, 0) AS INTEGER) AS is_dup
         FROM documents d LEFT JOIN per p ON p.doc_id = d.doc_id
         ORDER BY d.doc_id""",
    "d16_containment" ->
      s"""WITH tok AS (
            SELECT doc_id, source, unnest(list_distinct($wordsSql)) AS w
            FROM documents
          ), tok2 AS (
            SELECT doc_id, source, w FROM tok WHERE length(w) > 0
          ), jsizes AS (
            SELECT doc_id, count(*) AS sz FROM tok2 GROUP BY doc_id
          ), inter AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
            FROM tok2 a JOIN tok2 b
              ON a.source = b.source AND a.w = b.w AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
          )
          SELECT id_a, id_b, inter,
                 least(sa.sz, sb.sz) AS sz_min,
                 CAST(inter AS DOUBLE) / CAST(least(sa.sz, sb.sz) AS DOUBLE)
                   AS containment
          FROM inter
          JOIN jsizes sa ON sa.doc_id = id_a
          JOIN jsizes sb ON sb.doc_id = id_b
          WHERE CAST(inter AS DOUBLE) / CAST(least(sa.sz, sb.sz) AS DOUBLE) >= 0.9
          ORDER BY id_a, id_b""",
    "d03_ngram_jaccard" ->
      s"""WITH $jaccardPairCtes
          SELECT id_a, id_b, inter, uni, jaccard FROM jpairs
          ORDER BY id_a, id_b""",
    // d25's oracle is d03's UNFILTERED inverted-index formulation on
    // purpose: a hash match proves the prefix filter dropped no pair.
    "d25_prefix_filter" ->
      s"""WITH $jaccardPairCtes
          SELECT id_a, id_b, inter, uni, jaccard FROM jpairs
          ORDER BY id_a, id_b""",
    "d05_dup_clusters" -> dupClustersSql,
    "d10_dup_clusters_star" -> dupClustersSql,
    "d06_line_dedupe" ->
      """WITH split AS (
           SELECT doc_id, string_split(text, chr(10)) AS ls FROM documents
         ), lines AS (
           SELECT doc_id, i.i - 1 AS line_idx, trim(ls[i.i]) AS line
           FROM split, LATERAL (SELECT unnest(generate_series(1, len(ls))) AS i) i
           WHERE length(trim(ls[i.i])) > 0
         ), flagged AS (
           SELECT doc_id, line,
                  CASE WHEN row_number() OVER (PARTITION BY line
                         ORDER BY doc_id, line_idx) = 1
                       THEN 1 ELSE 0 END AS kept
           FROM lines
         )
         SELECT doc_id, count(*) AS n_lines,
                CAST(sum(kept) AS BIGINT) AS n_kept,
                CAST(sum(kept) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS kept_frac
         FROM flagged GROUP BY doc_id ORDER BY doc_id""",
    "d07_line_rebuild" ->
      """WITH split AS (
           SELECT doc_id, string_split(text, chr(10)) AS ls FROM documents
         ), lines AS (
           SELECT doc_id, i.i - 1 AS line_idx, trim(ls[i.i]) AS line
           FROM split, LATERAL (SELECT unnest(generate_series(1, len(ls))) AS i) i
           WHERE length(trim(ls[i.i])) > 0
         ), flagged AS (
           SELECT doc_id, line_idx, line,
                  CASE WHEN row_number() OVER (PARTITION BY line
                         ORDER BY doc_id, line_idx) = 1
                       THEN 1 ELSE 0 END AS kept
           FROM lines
         )
         SELECT doc_id,
                md5(string_agg(line, chr(10) ORDER BY line_idx)) AS rebuilt_fp,
                count(*) AS n_kept
         FROM flagged WHERE kept = 1
         GROUP BY doc_id ORDER BY doc_id""",
    "p01_pipeline" ->
      s"""WITH fp AS (
            SELECT doc_id, source, lang, text,
                   md5(trim(regexp_replace(replace(lower(text), chr(160), ' '), '\\s+', ' ', 'g'))) AS fp
            FROM documents
          ), fw AS (
            SELECT doc_id, source, lang, text FROM (
              SELECT doc_id, source, lang, text,
                     row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
              FROM fp) t
            WHERE rn = 1
          ), gated AS (
            SELECT doc_id, source, text FROM fw
            WHERE lang = 'en'
              AND (CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN 0
                        ELSE len($wordsSql) END) >= 50
          ), strata AS (
            SELECT source, count(*) AS n_total FROM gated GROUP BY source
          ), sampled AS (
            SELECT g.source, g.text FROM gated g JOIN strata s ON g.source = s.source
            WHERE ${md5HashSql("CAST(g.doc_id AS VARCHAR)")} % 10000
                  < least(10000, (40 * 10000) // s.n_total)
          )
          SELECT source, count(*) AS n_docs,
                 CAST(sum(CASE WHEN text IS NULL OR length(text) = 0 THEN 0
                          ELSE len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) END) AS BIGINT) AS total_tokens
          FROM sampled GROUP BY source ORDER BY source""",
    "d04_embedding_near_dup" ->
      s"""WITH base AS (
            SELECT vec_id AS id, embedding AS v, label AS blk FROM embeddings WHERE vec_id % 5 = 0
          ), bb AS (
            SELECT id, v, blk, t.tbl,
                   ${(0 until 4).map(t =>
                     s"WHEN t.tbl = $t THEN ${lshBucketSql("v", 64, 3, 42L + t)}")
                     .mkString("CASE ", " ", " END")} AS bucket
            FROM base, LATERAL (SELECT unnest([0, 1, 2, 3]) AS tbl) t
          )
          SELECT DISTINCT a.id AS id_a, b.id AS id_b,
                 $dotVV / (${normSql("a.v")} * ${normSql("b.v")}) AS cosine
          FROM bb a JOIN bb b
            ON a.blk = b.blk AND a.tbl = b.tbl AND a.bucket = b.bucket
           AND a.id < b.id
          WHERE $dotVV / (${normSql("a.v")} * ${normSql("b.v")}) >= 0.15
          ORDER BY id_a, id_b""",
    "s02_ann_lsh" -> s02Sql,
    "s06_ann_graph" -> s06Sql,
    "s07_mmr_rerank" -> s07Sql,
    "s03_ann_ivf" -> s03Sql,
    "s04_ann_sq8" ->
      s"""WITH base AS (
            SELECT vec_id AS id, embedding AS v,
                   CAST(list_min(embedding) AS DOUBLE) AS vmin,
                   CAST(list_max(embedding) AS DOUBLE) AS vmax
            FROM embeddings
          ), q8 AS (
            SELECT id, v, vmin, (vmax - vmin) / 255.0 AS scale,
                   CASE WHEN vmax = vmin THEN list_transform(v, x -> 0.0)
                        ELSE list_transform(v, x ->
                          floor((CAST(x AS DOUBLE) - vmin) * 255.0 / (vmax - vmin)))
                   END AS code
            FROM base
          ), dec AS (
            SELECT id, v, list_transform(code, q -> vmin + q * scale) AS dv FROM q8
          ), qs AS (
            SELECT id AS qid, v AS qv, dv AS qdv FROM dec WHERE id < 3
          ), cand AS (
            SELECT b.qid, a.id, a.v, b.qv, ${cosSql("a.dv", "b.qdv")} AS qscore
            FROM dec a CROSS JOIN qs b WHERE a.id <> b.qid
          ), top AS (
            SELECT qid, id, v, qv FROM (
              SELECT qid, id, v, qv,
                     row_number() OVER (PARTITION BY qid ORDER BY qscore DESC, id) AS crank
              FROM cand) t
            WHERE crank <= 20
          ), scored AS (
            SELECT qid, id, ${cosSql("v", "qv")} AS score FROM top
          )
          SELECT qid, id, score, rank FROM (
            SELECT qid, id, score,
                   CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, id) AS INT) AS rank
            FROM scored) r
          WHERE rank <= 5 ORDER BY qid, rank""",
    "s01_ann_brute_force" ->
      s"""WITH q AS (
            SELECT vec_id AS qid, embedding AS v FROM embeddings WHERE vec_id < 3
          ), scored AS (
            SELECT b.qid, a.vec_id AS id,
                   list_reduce(list_transform(list_zip(a.embedding, b.v), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (x, y) -> x + y)
                   / (${normSql("a.embedding")} * ${normSql("b.v")}) AS score
            FROM embeddings a CROSS JOIN q b WHERE a.vec_id <> b.qid
          ), ranked AS (
            SELECT qid, id, score, CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, id) AS INT) AS rank
            FROM scored
          )
          SELECT qid, id, score, rank FROM ranked WHERE rank <= 5 ORDER BY qid, rank""",
    "t01_lang_id" -> {
      val best = langScores.map(_._2).reduce((a, b) => s"greatest($a, $b)")
      val cases = langScores.map { case (lang, sc) =>
        s"WHEN $sc = ($best) AND $sc > 0 THEN '$lang'"
      }.mkString(" ")
      s"""SELECT doc_id,
                 CASE WHEN regexp_matches(text, '[\\x{3040}-\\x{30ff}]') THEN 'ja'
                      WHEN regexp_matches(text, '[\\x{ac00}-\\x{d7af}]') THEN 'ko'
                      WHEN regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') THEN 'zh'
                      $cases ELSE 'und' END AS lang_pred
          FROM documents ORDER BY doc_id"""
    },
    "t02_quality" ->
      s"""SELECT doc_id,
                 CAST(length(text) AS INTEGER) AS n_chars,
                 CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN 0
                      ELSE CAST(len($wordsSql) AS INTEGER) END AS word_count,
                 CASE WHEN (CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN 0 ELSE len($wordsSql) END) > 0
                      THEN CAST(length(regexp_replace(trim(text), '\\s+', '', 'g')) AS DOUBLE)
                           / CAST(len($wordsSql) AS DOUBLE)
                      ELSE 0.0 END AS mean_word_len,
                 CASE WHEN length(text) > 0
                      THEN CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE)
                      ELSE 0.0 END AS punct_ratio,
                 CASE WHEN length(text) > 0
                      THEN CAST(length(regexp_replace(text, '[^A-Z]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE)
                      ELSE 0.0 END AS upper_ratio,
                 len(list_intersect(list_distinct($wordsSql), ${TextAnalysis.StopwordSets("en").mkString("['", "', '", "']")}))::INTEGER AS stopword_hits
          FROM documents ORDER BY doc_id""",
    "t03_token_count" ->
      """SELECT doc_id,
                CASE WHEN text IS NULL OR length(text) = 0 THEN 0
                     ELSE CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS INTEGER) END AS token_count
         FROM documents ORDER BY doc_id""",
    "t05_bpe_token_count" -> graft.functions.BpeTokenizer.oracleQuerySql(
      "documents", "doc_id", "text", "bpe_token_count"),
    "t07_hash_split" ->
      s"""WITH b AS (
            SELECT source,
                   ${md5HashSql("CAST(doc_id AS VARCHAR)")} % 100 AS bkt
            FROM documents
          )
          SELECT source,
                 CASE WHEN bkt < 80 THEN 'train'
                      WHEN bkt < 90 THEN 'val'
                      ELSE 'test' END AS split,
                 count(*) AS cnt
          FROM b GROUP BY 1, 2 ORDER BY source, split""",
    "t09_c4_gates" -> {
      val lines =
        "list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)), l -> length(l) > 0)"
      s"""WITH g AS (
            SELECT doc_id, $lines AS lines,
                   CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN 0
                        ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS wc,
                   text
            FROM documents
          )
          SELECT doc_id,
                 len(lines) AS n_lines,
                 CASE WHEN len(lines) > 0
                      THEN CAST(len(list_filter(lines, l -> regexp_matches(l, '[.!?"]$$'))) AS DOUBLE)
                           / CAST(len(lines) AS DOUBLE)
                      ELSE 0.0 END AS frac_lines_terminal,
                 CASE WHEN len(lines) > 0
                      THEN CAST(wc AS DOUBLE) / CAST(len(lines) AS DOUBLE)
                      ELSE 0.0 END AS mean_words_per_line,
                 CAST(contains(text, '{') AS INT) AS has_curly,
                 CAST(contains(lower(text), 'lorem ipsum') AS INT) AS has_lorem
          FROM g ORDER BY doc_id"""
    },
    "t10_pii_count" ->
      s"""SELECT doc_id,
                 len(regexp_extract_all(lower(text), '${TextAnalysis.EmailPattern}')) AS n_emails,
                 len(regexp_extract_all(text, '${TextAnalysis.PhonePattern}')) AS n_phones
          FROM documents ORDER BY doc_id""",
    "t08_top_vocab" ->
      s"""SELECT word, count(*) AS cnt FROM (
            SELECT unnest($wordsSql) AS word FROM documents) t
          WHERE length(word) > 0
          GROUP BY word ORDER BY cnt DESC, word LIMIT 20""",
    "t12_stratified_sample" ->
      s"""WITH strata AS (
            SELECT source, count(*) AS n_total FROM documents GROUP BY source
          ), flagged AS (
            SELECT d.source, s.n_total,
                   CASE WHEN ${md5HashSql("CAST(d.doc_id AS VARCHAR)")} % 10000
                          < least(10000, (60 * 10000) // s.n_total)
                        THEN 1 ELSE 0 END AS sampled
            FROM documents d JOIN strata s ON d.source = s.source
          )
          SELECT source, max(n_total) AS n_total,
                 CAST(sum(sampled) AS BIGINT) AS n_sampled
          FROM flagged GROUP BY source ORDER BY source""",
    "t11_tfidf" ->
      s"""WITH tok AS (
            SELECT doc_id, unnest($wordsSql) AS w FROM documents
          ), tok2 AS (
            SELECT doc_id, w FROM tok WHERE length(w) > 0
          ), tf AS (
            SELECT doc_id, w, count(*) AS tf FROM tok2 GROUP BY doc_id, w
          ), dfreq AS (
            SELECT w, count(*) AS df FROM tf GROUP BY w
          ), n AS (
            SELECT count(DISTINCT doc_id) AS n_docs FROM documents
          ), scored AS (
            SELECT tf.doc_id, tf.w,
                   CAST(tf.tf AS DOUBLE) * CAST(n.n_docs AS DOUBLE) / CAST(dfreq.df AS DOUBLE) AS score
            FROM tf JOIN dfreq ON tf.w = dfreq.w CROSS JOIN n
          ), ranked AS (
            SELECT doc_id, w, score,
                   CAST(row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, w) AS INT) AS rank
            FROM scored
          )
          SELECT doc_id, w AS term, score, rank FROM ranked
          WHERE rank <= 3 ORDER BY doc_id, rank""",
    "t06_repetition" -> {
      val wClean = s"list_filter($wordsSql, x -> length(x) > 0)"
      s"""WITH base AS (
            SELECT doc_id, $wClean AS w FROM documents
          ), wordstats AS (
            SELECT doc_id, count(*) AS n_words, count(DISTINCT word) AS n_distinct
            FROM (SELECT doc_id, unnest(w) AS word FROM base) t GROUP BY doc_id
          ), bg AS (
            SELECT doc_id, max(cnt) AS top_bg FROM (
              SELECT doc_id, bgv, count(*) AS cnt FROM (
                SELECT doc_id,
                       unnest(list_transform(generate_series(1, len(w) - 1),
                              i -> w[i] || ' ' || w[i+1])) AS bgv
                FROM base WHERE len(w) >= 2) t1
              GROUP BY doc_id, bgv) t2
            GROUP BY doc_id
          )
          SELECT d.doc_id,
                 CAST(coalesce(ws.n_words, 0) AS BIGINT) AS n_words,
                 CASE WHEN coalesce(ws.n_words, 0) > 0
                      THEN CAST(ws.n_words - ws.n_distinct AS DOUBLE) / CAST(ws.n_words AS DOUBLE)
                      ELSE 0.0 END AS dup_word_frac,
                 CASE WHEN coalesce(ws.n_words, 0) >= 2
                      THEN CAST(coalesce(bg.top_bg, 0) AS DOUBLE) / CAST(ws.n_words - 1 AS DOUBLE)
                      ELSE 0.0 END AS top_bigram_frac
          FROM documents d
          LEFT JOIN wordstats ws ON d.doc_id = ws.doc_id
          LEFT JOIN bg ON d.doc_id = bg.doc_id
          ORDER BY d.doc_id"""
    },
    "t04_fingerprint" ->
      """SELECT doc_id,
                md5(trim(regexp_replace(replace(lower(text), chr(160), ' '), '\s+', ' ', 'g'))) AS fp,
                substr(md5(trim(regexp_replace(replace(lower(text), chr(160), ' '), '\s+', ' ', 'g'))), 1, 2) AS bucket
         FROM documents ORDER BY doc_id""",
    "m01_multimodal_meta" ->
      // The oracle computes the dimensions the synthesizer ENCODED and the
      // exact container size per format (png = 57 + idat, jpeg = 45 + com,
      // gif = 14, bmp = 54) — the engine must recover them by PARSING the
      // actual byte streams, so a hash match proves the real header decode.
      """SELECT doc_id,
                CASE doc_id % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
                                WHEN 2 THEN 'gif' ELSE 'bmp' END AS format,
                CAST(CASE doc_id % 4
                     WHEN 0 THEN 57 + n_chars % 100
                     WHEN 1 THEN 45 + n_chars % 100
                     WHEN 2 THEN 14 ELSE 54 END AS INTEGER) AS n_bytes,
                CAST(n_chars % 640 + 1 AS INTEGER) AS width,
                CAST((n_chars * 7) % 480 + 1 AS INTEGER) AS height,
                CAST(1 AS INTEGER) AS n_frames
         FROM documents ORDER BY doc_id""",
    "m04_audio_meta" ->
      """WITH a AS (
           SELECT CASE doc_id % 5 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                       WHEN 2 THEN 22050 WHEN 3 THEN 44100 ELSE 48000
                  END AS sample_rate,
                  CAST(1 + doc_id % 2 AS INT) AS channels,
                  CASE WHEN doc_id % 3 = 0 THEN 8 ELSE 16 END AS bits,
                  n_chars % 2000 + 1 AS n_samples
           FROM documents
         ), b AS (
           SELECT sample_rate, channels, bits, n_samples,
                  n_samples * channels * (bits // 8) AS data_len
           FROM a
         )
         SELECT sample_rate, CAST(count(*) AS BIGINT) AS n_clips,
                CAST(sum(CASE WHEN channels = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_stereo,
                CAST(sum(CASE WHEN bits = 8 THEN 1 ELSE 0 END) AS BIGINT) AS n_8bit,
                CAST(sum(n_samples) AS BIGINT) AS sum_samples,
                CAST(sum(n_samples * 1000 // sample_rate) AS BIGINT) AS sum_duration_ms,
                CAST(sum(44 + data_len + data_len % 2) AS BIGINT) AS sum_bytes
         FROM b GROUP BY sample_rate ORDER BY sample_rate""",
    "m07_video_meta" ->
      """WITH a AS (
           SELECT CASE doc_id % 4 WHEN 0 THEN 600 WHEN 1 THEN 1000
                       WHEN 2 THEN 24000 ELSE 90000 END AS timescale,
                  n_chars % 5000 + 1 AS duration,
                  CAST(1 + doc_id % 3 AS INT) AS n_tracks,
                  n_chars % 3000 AS mdat_len
           FROM documents
         )
         SELECT timescale, CAST(count(*) AS BIGINT) AS n_videos,
                CAST(sum(CASE WHEN n_tracks > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_multitrack,
                CAST(sum(duration) AS BIGINT) AS sum_duration,
                CAST(sum(duration * 1000 // timescale) AS BIGINT) AS sum_duration_ms,
                CAST(sum(mdat_len) AS BIGINT) AS sum_mdat_bytes,
                CAST(sum(140 + 100 * n_tracks + mdat_len) AS BIGINT) AS sum_bytes
         FROM a GROUP BY timescale ORDER BY timescale""",
    "m08_media_router" ->
      // per-family synthesis arithmetic incl. each container's exact
      // on-disk size: png 57+k, jpeg 45+k, wav 44+data(+pad), mp4
      // 140+100·tracks+mdat, raw n_chars%1000
      """WITH p AS (
           SELECT doc_id % 5 AS r, n_chars,
                  n_chars % 640 + 1 AS iw, (n_chars * 7) % 480 + 1 AS ih,
                  n_chars % 100 AS k,
                  CASE n_chars % 5 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                       WHEN 2 THEN 22050 WHEN 3 THEN 44100 ELSE 48000 END AS rate,
                  1 + n_chars % 2 AS ch,
                  CASE WHEN n_chars % 3 = 0 THEN 8 ELSE 16 END AS bits,
                  n_chars % 2000 + 1 AS ns,
                  CASE n_chars % 4 WHEN 0 THEN 600 WHEN 1 THEN 1000
                       WHEN 2 THEN 24000 ELSE 90000 END AS ts,
                  n_chars % 5000 + 1 AS vdur,
                  1 + n_chars % 3 AS trk,
                  n_chars % 3000 AS mdat
           FROM documents
         ), q AS (
           SELECT r, iw, ih, rate, ns, ts, vdur,
                  ns * ch * (bits // 8) AS dlen, k, trk, mdat, n_chars
           FROM p
         ), m AS (
           SELECT CASE r WHEN 0 THEN 'image' WHEN 1 THEN 'image'
                       WHEN 2 THEN 'audio' WHEN 3 THEN 'video' ELSE 'raw' END AS kind,
                  CASE r WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
                       WHEN 2 THEN 'wav' WHEN 3 THEN 'mp4' ELSE 'raw' END AS format,
                  CASE r WHEN 0 THEN 57 + k WHEN 1 THEN 45 + k
                       WHEN 2 THEN 44 + dlen + dlen % 2
                       WHEN 3 THEN 140 + 100 * trk + mdat
                       ELSE n_chars % 1000 END AS n_bytes,
                  CASE WHEN r <= 1 THEN iw * ih ELSE 0 END AS px,
                  CASE r WHEN 2 THEN ns * 1000 // rate
                       WHEN 3 THEN vdur * 1000 // ts ELSE 0 END AS dur
           FROM q
         )
         SELECT kind, format, CAST(count(*) AS BIGINT) AS n_media,
                CAST(sum(n_bytes) AS BIGINT) AS sum_bytes,
                CAST(sum(px) AS BIGINT) AS sum_px,
                CAST(sum(dur) AS BIGINT) AS sum_duration_ms
         FROM m GROUP BY kind, format ORDER BY kind, format""",
    "t27_zipf_profile" ->
      s"""WITH v AS (
            SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM (
              SELECT unnest($wordsSql) AS word FROM documents) t
            WHERE length(word) > 0 GROUP BY word
          ), r AS (
            SELECT word, cnt,
                   CAST(row_number() OVER (ORDER BY cnt DESC, word) AS BIGINT) AS rank
            FROM v
          )
          SELECT rank, word, cnt, rank * cnt AS rank_cnt
          FROM r WHERE (rank & (rank - 1)) = 0 AND rank <= 4096
          ORDER BY rank""",
    "t28_rake_keywords" ->
      """WITH words AS (
           SELECT list_filter(string_split_regex(lower(coalesce(text, '')),
                    '[^a-z]+'), x -> length(x) > 0) AS w
           FROM documents
         ), segs AS (
           SELECT string_split(array_to_string(list_transform(w,
                    x -> CASE WHEN x IN ('a', 'the') THEN '|' ELSE x END),
                    ' '), '|') AS segs
           FROM words
         ), cand AS (
           SELECT pw, array_to_string(pw, ' ') AS phrase,
                  CAST(len(pw) AS BIGINT) AS len
           FROM (
             SELECT list_filter(string_split(trim(seg), ' '),
                      x -> length(x) > 0) AS pw
             FROM (SELECT unnest(segs) AS seg FROM segs) t
           ) u
           WHERE len(pw) BETWEEN 1 AND 4
         ), wscore AS (
           SELECT word, CAST(deg * 10000 // freq AS BIGINT) AS word_bp FROM (
             SELECT word, CAST(count(*) AS BIGINT) AS freq,
                    CAST(sum(len) AS BIGINT) AS deg
             FROM (SELECT unnest(pw) AS word, len FROM cand) t GROUP BY word
           ) v
         ), pagg AS (
           SELECT phrase, CAST(count(*) AS BIGINT) AS n_occ,
                  max(len) AS n_words
           FROM cand GROUP BY phrase
         )
         SELECT p.phrase, p.n_occ, p.n_words,
                CAST(sum(s.word_bp) AS BIGINT) AS score_bp
         FROM (SELECT phrase, n_occ, n_words,
                      unnest(string_split(phrase, ' ')) AS word
               FROM pagg) p
         JOIN wscore s ON s.word = p.word
         GROUP BY p.phrase, p.n_occ, p.n_words
         ORDER BY score_bp DESC, n_occ DESC, phrase
         LIMIT 20""",
    "t26_bigram_surprisal" ->
      s"""WITH w0 AS (
            SELECT doc_id, $wordsSql AS w FROM documents
          ), bg0 AS (
            SELECT doc_id,
                   unnest(CASE WHEN len(w) >= 2
                          THEN list_transform(generate_series(1, len(w) - 1),
                               i -> w[i] || ' ' || w[i+1])
                          ELSE []::VARCHAR[] END) AS bg
            FROM w0
          ), p AS (
            SELECT doc_id, bg FROM bg0 WHERE length(bg) > 1
          ), m0 AS (
            SELECT bg, split_part(bg, ' ', 1) AS w1,
                   CAST(count(*) AS BIGINT) AS c_bg
            FROM p GROUP BY bg
          ), m AS (
            SELECT bg,
                   CAST(length(bin(CAST(sum(c_bg) OVER (PARTITION BY w1) AS BIGINT)
                                   // c_bg)) - 1 AS BIGINT) AS surprisal
            FROM m0
          ), per AS (
            SELECT p.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
                   CAST(sum(m.surprisal) AS BIGINT) AS sum_surprisal
            FROM p JOIN m ON m.bg = p.bg
            GROUP BY p.doc_id
          )
          SELECT doc_id, n_bigrams, sum_surprisal,
                 CAST(sum_surprisal * 1000 // n_bigrams AS BIGINT) AS mean_milli
          FROM per ORDER BY mean_milli DESC, doc_id LIMIT 20""",
    "t23_bigram_novelty" ->
      s"""WITH w0 AS (
            SELECT doc_id, $wordsSql AS w FROM documents
          ), bg0 AS (
            SELECT doc_id,
                   unnest(CASE WHEN len(w) >= 2
                          THEN list_transform(generate_series(1, len(w) - 1),
                               i -> w[i] || ' ' || w[i+1])
                          ELSE []::VARCHAR[] END) AS bg
            FROM w0
          ), bg1 AS (
            SELECT DISTINCT doc_id, bg FROM bg0 WHERE length(bg) > 1
          ), top AS (
            SELECT bg FROM (
              SELECT bg, count(*) AS df FROM bg1 GROUP BY bg
              ORDER BY df DESC, bg LIMIT 1000) t
          ), per AS (
            SELECT b.doc_id, count(*) AS n_bigrams,
                   CAST(sum(CASE WHEN t.bg IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_novel
            FROM bg1 b LEFT JOIN top t ON t.bg = b.bg
            GROUP BY b.doc_id
          )
          SELECT d.doc_id, CAST(coalesce(p.n_bigrams, 0) AS BIGINT) AS n_bigrams,
                 CAST(coalesce(p.n_novel, 0) AS BIGINT) AS n_novel
          FROM documents d LEFT JOIN per p ON p.doc_id = d.doc_id
          ORDER BY d.doc_id""",
    "t20_bm25" ->
      s"""WITH tok AS (
            SELECT doc_id, unnest($wordsSql) AS w FROM documents
          ), tok2 AS (
            SELECT doc_id, w FROM tok WHERE length(w) > 0
          ), dl AS (
            SELECT doc_id, count(*) AS dl FROM tok2 GROUP BY doc_id
          ), stats AS (
            SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS total_words
            FROM dl
          ), qt AS (
            SELECT w FROM (
              SELECT w, count(*) AS cf FROM tok2 GROUP BY w
              ORDER BY cf DESC, w LIMIT 3) t
          ), tf AS (
            SELECT t.w, t.doc_id, count(*) AS tf
            FROM tok2 t JOIN qt ON qt.w = t.w GROUP BY t.w, t.doc_id
          ), dft AS (
            SELECT w, count(*) AS df FROM tf GROUP BY w
          ), scored AS (
            SELECT tf.doc_id, tf.w, dl.dl,
                   ((CAST(s.n_docs - dft.df AS DOUBLE) + 0.5) /
                    (CAST(dft.df AS DOUBLE) + 0.5)) *
                   ((CAST(tf.tf AS DOUBLE) * 2.25) /
                    (CAST(tf.tf AS DOUBLE) + 1.25 * (0.25 + 0.75 *
                     (CAST(dl.dl AS DOUBLE) /
                      (CAST(s.total_words AS DOUBLE) / CAST(s.n_docs AS DOUBLE))))))
                     AS score
            FROM tf JOIN dft ON dft.w = tf.w
            JOIN dl ON dl.doc_id = tf.doc_id
            CROSS JOIN stats s
          ), per AS (
            SELECT doc_id, dl, list(score ORDER BY w) AS xs
            FROM scored GROUP BY doc_id, dl
          )
          SELECT doc_id, CAST(dl AS BIGINT) AS dl,
                 list_reduce(xs, (a, b) -> a + b) AS bm25
          FROM per ORDER BY bm25 DESC, doc_id LIMIT 20""",
    "m03_image_stats" ->
      // the widths/heights the engine must recover by PARSING the streams
      """WITH m AS (
           SELECT CASE doc_id % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
                                  WHEN 2 THEN 'gif' ELSE 'bmp' END AS format,
                  CAST(n_chars % 640 + 1 AS BIGINT) AS w,
                  CAST((n_chars * 7) % 480 + 1 AS BIGINT) AS h
           FROM documents
         )
         SELECT format, count(*) AS n_images,
                min(w) AS min_width, max(w) AS max_width,
                CAST(sum(w) AS BIGINT) AS sum_width,
                CAST(sum(CASE WHEN w > h THEN 1 ELSE 0 END) AS BIGINT) AS n_landscape
         FROM m GROUP BY format ORDER BY format""")
}
