package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables._
import Shared.normSql
import graft.operators.Dedupe
import graft.plans.VectorExpressions.cosineSim

/** Corpus-profiling surface: the descriptive statistics a
  * pretraining-data team runs BEFORE choosing filters — lexical diversity,
  * sentence-shape stats, readability, character-n-gram language profiles,
  * cross-document repeated-span census, graph link prediction, and vector
  * radius search. Same catalog rules as everywhere else: deterministic
  * order, exact integer arithmetic wherever a ratio is reported (basis
  * points / millis via BIGINT `div`), doubles only in the proven
  * engine-identical cosine fold.
  *
  * Scale notes are per-query; the common shape is ONE explode of the
  * corpus into the unit of analysis (word / sentence / trigram / shingle)
  * followed by map-side-combinable hash aggregates — no windows over
  * corpus-scaled frames without a partition key, no broadcast of
  * corpus-scaled sides (t11's rule).
  */
object ProfileQueries {
  type Q = (SparkSession, String) => DataFrame

  /** T29 — LEXICAL DIVERSITY per document: type/token/hapax counts and the
    * type-token + hapax ratios in basis points. TTR is the classic
    * vocabulary-richness screen (low TTR = template soup / keyword
    * stuffing; high hapax share on a long doc = OCR noise or gibberish) —
    * next to t02's surface stats and t26's model-based surprisal, this is
    * the distribution-free middle tier of the quality stack.
    *
    * Scale: one explode → (doc, word) hash agg → per-doc roll-up; both
    * aggs are map-side combinable and keyed by doc_id, so the second agg
    * reuses the first's clustering (no extra exchange). The doc left-join
    * keeps empty docs in the report (ratio 0, the honest value). */
  def t29LexicalDiversity(s: SparkSession, d: String): DataFrame = {
    val per = documents(s, d)
      .select(col("doc_id"), explode(Dedupe.words(col("text"))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("n_types"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"))
    documents(s, d).select(col("doc_id"))
      .join(per, Seq("doc_id"), "left")
      .selectExpr("doc_id",
        "coalesce(n_tokens, CAST(0 AS BIGINT)) AS n_tokens",
        "coalesce(n_types, CAST(0 AS BIGINT)) AS n_types",
        "coalesce(n_hapax, CAST(0 AS BIGINT)) AS n_hapax")
      .selectExpr("doc_id", "n_tokens", "n_types", "n_hapax",
        "CASE WHEN n_tokens > 0 THEN n_types * 10000 div n_tokens ELSE CAST(0 AS BIGINT) END AS ttr_bp",
        "CASE WHEN n_tokens > 0 THEN n_hapax * 10000 div n_tokens ELSE CAST(0 AS BIGINT) END AS hapax_bp")
      .orderBy(col("doc_id"))
  }

  /** T30 — SENTENCE-SHAPE statistics per document: sentence count, word
    * count over sentences, longest sentence, and mean words-per-sentence
    * in millis. Degenerate sentence shape (a 400-word "sentence", or
    * thousands of 2-word fragments) is a strong boilerplate/table-soup
    * signal that word-level stats miss entirely. Sentences are maximal
    * `[.!?]+`-delimited segments with at least one word — the same
    * whitespace tokenizer as the rest of the t-family inside each
    * segment, so the numbers compose with t02/t29.
    *
    * Scale: one explode to segments (narrow), word counting is per-row
    * array math (no second explode), then a single doc-keyed hash agg. */
  def t30SentenceStats(s: SparkSession, d: String): DataFrame = {
    val per = documents(s, d)
      .select(col("doc_id"),
        explode(split(lower(coalesce(col("text"), lit(""))), "[.!?]+")).as("sent"))
      .select(col("doc_id"),
        size(filter(split(trim(col("sent")), "\\s+"), w => length(w) > 0))
          .cast("long").as("nw"))
      .filter(col("nw") > 0)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_sentences"), sum(col("nw")).as("n_words"),
        max(col("nw")).as("max_sentence_words"))
    documents(s, d).select(col("doc_id"))
      .join(per, Seq("doc_id"), "left")
      .selectExpr("doc_id",
        "coalesce(n_sentences, CAST(0 AS BIGINT)) AS n_sentences",
        "coalesce(n_words, CAST(0 AS BIGINT)) AS n_words",
        "coalesce(max_sentence_words, CAST(0 AS BIGINT)) AS max_sentence_words")
      .selectExpr("doc_id", "n_sentences", "n_words", "max_sentence_words",
        "CASE WHEN n_sentences > 0 THEN n_words * 1000 div n_sentences ELSE CAST(0 AS BIGINT) END AS mean_words_milli")
      .orderBy(col("doc_id"))
  }

  /** T31 — READABILITY (Flesch–Kincaid grade level) in exact milli-grade
    * integers: 0.39·(words/sentence) + 11.8·(syllables/word) − 15.59,
    * with the syllable heuristic every fast pipeline uses — count of
    * vowel-group runs `[aeiouy]+` (Kincaid et al. 1975's formula; the
    * heuristic over-counts silent e's and under-counts some diphthongs,
    * identically on every engine). Carried as
    * fk_milli = (390·wps_milli + 11800·spw_milli) div 1000 − 15590 where
    * both per-ratios are themselves BIGINT millis — no floats, so the
    * full per-doc column hash-matches.
    *
    * Scale: zero joins, zero explodes — three regexp counts per row and
    * a final sort. The cheapest query in the t-family at any corpus
    * size; everything is one narrow codegen'd projection. */
  def t31Readability(s: SparkSession, d: String): DataFrame = {
    val txt = lower(coalesce(col("text"), lit("")))
    documents(s, d)
      .select(col("doc_id"),
        size(filter(split(trim(txt), "\\s+"), w => length(w) > 0))
          .cast("long").as("n_words"),
        size(filter(transform(split(txt, "[.!?]+"), seg => trim(seg)),
          seg => length(seg) > 0)).cast("long").as("n_sentences"),
        size(regexp_extract_all(txt, lit("[aeiouy]+"), lit(0)))
          .cast("long").as("n_syllables"))
      .selectExpr("doc_id", "n_words", "n_sentences", "n_syllables",
        """CASE WHEN n_words > 0 AND n_sentences > 0
          |  THEN (390 * (n_words * 1000 div n_sentences)
          |        + 11800 * (n_syllables * 1000 div n_words)) div 1000 - 15590
          |  ELSE CAST(0 AS BIGINT) END AS fk_milli""".stripMargin)
      .orderBy(col("doc_id"))
  }

  /** T32 — CHARACTER-TRIGRAM LANGUAGE PROFILES: top-10 character 3-grams
    * per language over whitespace-normalized text (runs of whitespace →
    * a single `_` boundary marker — Cavnar & Trenkle 1994's n-gram
    * profile construction). This is the operator that TRAINS the t01
    * language-ID classifier's profiles from the corpus itself: run it
    * over a labeled slice, persist the per-lang top-k, and t01's scorer
    * consumes it.
    *
    * Scale: explode to trigrams → (lang, tri) hash agg with map-side
    * combine → per-lang top-10 via a rank window that Spark's
    * InferWindowGroupLimit turns into a partial per-partition top-k
    * BEFORE the exchange (the q29/s01 shape) — the full trigram
    * frequency table never gathers anywhere. */
  def t32CharTrigramProfile(s: SparkSession, d: String): DataFrame = {
    val norm = regexp_replace(trim(lower(coalesce(col("text"), lit("")))), "\\s+", "_")
    val w = Window.partitionBy(col("lang")).orderBy(col("cnt").desc, col("tri"))
    documents(s, d)
      .select(col("lang"), norm.as("t"))
      .filter(length(col("t")) >= 3)
      .select(col("lang"), explode(
        expr("transform(sequence(1, length(t) - 2), i -> substring(t, i, 3))")).as("tri"))
      .groupBy(col("lang"), col("tri")).agg(count(lit(1)).as("cnt"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 10)
      .selectExpr("lang", "CAST(rn AS BIGINT) AS rank", "tri", "cnt")
      .orderBy(col("lang"), col("rank"))
  }

  /** D26 — CROSS-DOCUMENT REPEATED-SPAN CENSUS: word 8-grams appearing in
    * ≥ 2 distinct documents, ranked by document frequency — the
    * diagnostic scan behind span-level dedupe (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better": memorized
    * spans come from text repeated ACROSS documents that doc-level
    * dedupe never sees). d12 removes duplicated content within matched
    * docs; this measures the corpus-wide span duplication mass so a team
    * can decide whether span-level removal is worth running at all.
    *
    * Scale: shingle explode (the d03/t13 primitive) → ONE hash agg with
    * count + count-distinct on the gram key → TakeOrdered top-20. The
    * agg is two-level (gram, doc) → gram, both map-side combinable; no
    * joins, no windows, no suffix array — at 100 TB this is strictly an
    * aggregation problem. */
  def d26RepeatedSpans(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"), explode(Dedupe.shingles(col("text"), 8)).as("gram"))
      .groupBy(col("gram"))
      .agg(countDistinct(col("doc_id")).as("n_docs"), count(lit(1)).as("n_occ"))
      .filter(col("n_docs") >= 2)
      .orderBy(col("n_docs").desc, col("n_occ").desc, col("gram"))
      .limit(20)

  /** G08 — LINK PREDICTION on the co-purchase graph: for each seed part,
    * the top-10 NON-adjacent parts ranked by common-neighbor count with
    * the resource-allocation index as tie-breaker — RA = Σ_z 1/deg(z)
    * over shared neighbors z (Zhou, Lü & Zhang 2009; the strongest of
    * the classic local indices), carried in integer basis points
    * (10000 div deg) so the ranking is hash-exact. This is the
    * "customers who bought X also bought"-style candidate generator run
    * directly on graph structure, and completes the graph family's
    * predictive axis next to g04's importance and g06's communities.
    *
    * Scale: wedges are generated ONLY from the seed set — seed → neighbor
    * → neighbor-of-neighbor is two equi-joins bounded by |seeds|·deg²,
    * never the all-pairs wedge census; per-seed top-10 is a rank window
    * with map-side WindowGroupLimit. The doubled edge frame is
    * pre-partitioned on u ([[MiningQueries.doubledEdgesFused]]) so the degree
    * agg, the deg-carry join and the seed hop all reuse ONE exchange;
    * deg(z) rides along the candidate hop BEFORE wedge generation (so the
    * wedge-sized frame is never re-shuffled on z for the RA lookup); and
    * the existing-edge exclusion runs AFTER wedge generation, at the
    * (seed,cand) aggregate — removing whole groups is equivalent to
    * removing their rows, at aggregate size instead of wedge size. */
  def g08LinkPrediction(s: SparkSession, d: String): DataFrame = {
    val e = MiningQueries.doubledEdgesFused(s, d, "u")
    val deg = e.groupBy(col("u")).agg(count(lit(1)).as("deg"))
    val ez = e.select(col("u").as("z"), col("v").as("cand"))
      .join(deg.select(col("u").as("z"), col("deg")), Seq("z"))
    // Scale note: |seeds| = |part|/200 grows linearly with the catalog,
    // so an unconditional broadcast() hint would be a bench-scale choice
    // baked into code. No hint: AQE sees the seed frame's RUNTIME size
    // and broadcasts it while it is small, and degrades to a shuffle join
    // when a production catalog outgrows the threshold (measured at
    // sf0.1: AQE broadcasts it).
    val seeds = part(s, d).filter(col("p_partkey") % 200 === 0)
      .select(col("p_partkey").as("seed"))
    val hop1 = e.join(seeds, e("u") === seeds("seed"))
      .select(col("seed"), col("v").as("z"))
      .localCheckpoint(false) // wedge join + adjacency rows both read it
    val wedges = hop1.join(ez, Seq("z")).filter(col("cand") =!= col("seed"))
    // the existing-edge anti-join folds INTO the wedge aggregate — hop1's
    // rows ARE the seed-adjacency pairs, so they ride the same union as
    // the wedge rows with an is_edge flag (g11's teleport-fold shape) and
    // one groupBy(seed, cand) yields cn, ra AND adjacency, with no
    // post-agg left_anti shuffle join. Identical integers: a kept group
    // contains only wedge rows (any adjacency row flips max(is_edge)
    // and drops the group, exactly an anti-join).
    val nonAdj = wedges
      .select(col("seed"), col("cand"), col("deg"), lit(0).as("is_edge"))
      .unionByName(hop1.select(col("seed"), col("z").as("cand"),
        lit(null).cast("long").as("deg"), lit(1).as("is_edge")))
      .groupBy(col("seed"), col("cand"))
      .agg(sum(when(col("is_edge") === 0, 1L)).as("cn"),
        sum(when(col("is_edge") === 0, expr("10000 div deg"))).as("ra_bp"),
        max(col("is_edge")).as("adj"))
      .filter(col("adj") === 0)
      .select(col("seed"), col("cand"), col("cn"), col("ra_bp"))
    val w = Window.partitionBy(col("seed"))
      .orderBy(col("cn").desc, col("ra_bp").desc, col("cand"))
    nonAdj
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 10)
      .selectExpr("seed", "CAST(rn AS BIGINT) AS rank",
        "cand AS predicted", "cn", "ra_bp")
      .orderBy(col("seed"), col("rank"))
  }

  /** G09 — HITS (Kleinberg 1999) over the bipartite customer↔part
    * purchase graph, EXACT-INTEGER power iteration: hubs are customers,
    * authorities are parts; 3 SIMULTANEOUS mutual-reinforcement rounds
    * (aₖ = Σ hₖ₋₁ over edges AND hₖ = Σ aₖ₋₁ over edges, both from the
    * PREVIOUS iterate — power iteration on the symmetric block matrix
    * [[0,E],[Eᵀ,0]], the parallel formulation of Kleinberg's I/O
    * operations) run UN-normalized in BIGINT, with ONE truncating
    * normalization of each side to 10⁶ at the end (no per-round
    * truncation). The alternating Gauss-Seidel form keys every
    * half-round by the OTHER side, so the edge frame would re-shuffle 6
    * times over 6 sequential join+agg stages; the simultaneous form
    * (oracle + spec in lockstep) keys EVERY round by the same
    * (side, vertex) composite over a doubled edge frame, so the edges
    * shuffle ONCE at build and a round is ONE union-keyed join+agg —
    * 3 rounds, half the sequential depth. Both are textbook HITS; the
    * simultaneous form is the one a 1000-executor deployment runs,
    * because per-round latency, not row volume, is an iterative graph
    * job's bottleneck. All-ones seeds on BOTH sides make round 1
    * collapse to the per-side degree count — one agg, no join (g06's
    * algebraic round-1 specialization). Output: top-20 hubs and top-20
    * authorities at scale 10⁶, ranked by raw integer score.
    *
    * Headroom scope: each round multiplies magnitudes by ~avg-degree;
    * 3 rounds of degree products (vs the alternating form's 5/6) sit ~10¹³ at
    * sf0.1 — 10⁵× BIGINT headroom. The sums widen to DECIMAL(38,0)
    * (dq10's discipline) when degree³ approaches 2⁶³ — the named widen
    * path; the shape is size-independent.
    *
    * Scale: the doubled edge frame is hash-partitioned on (side, vertex)
    * and checkpointed ONCE (Materialize.partitionedCheckpoint); every
    * round's join reads it co-located with no exchange, and the round
    * agg keys on the same composite, so the only per-round shuffle is
    * the map-side-combined vertex-sized aggregate (at bench scale AQE
    * runtime-sizes the score side to a broadcast instead — the g08
    * posture: no hint, the 100 TB plan keeps the co-partitioned join).
    * Top-20 each side is TakeOrdered, never a global sort. */
  /** The fused simultaneous-HITS kernel over a (c, p) bipartite edge
    * frame: `rounds` simultaneous updates from all-ones seeds, returned
    * as (sside 'h'|'a', src vertex, s raw BIGINT score). Factored out of
    * [[g09Hits]] so RandomizedCrossCheckSpec can drive it on random
    * bipartite graphs against a driver-side BigInt model. */
  private[graft] def simultaneousHits(e: DataFrame, rounds: Int): DataFrame = {
    // one row per (edge, direction): 'h'ub side sends to 'a'uthority and
    // vice versa — the union key (side, vertex) is what lets all the
    // rounds reuse ONE partitioning (the doubledEdgesFused trick).
    // inline(), not union-of-two-selects: a union re-executes the edge
    // frame's prefix once PER BRANCH; the generator doubles rows in the
    // same pass. (Fusing the dedupe into the partitioning shuffle —
    // dedupedPartitionedCheckpoint on the doubled frame — was measured
    // WORSE, 2.4 → 3.3 s: the pre-distinct double ships 2× rows through
    // a combine-less repartition, while distinct's own exchange is
    // map-side combined before doubling.)
    val ed = graft.core.Materialize.partitionedCheckpoint(
      e.select(inline(array(
        struct(lit("h").as("sside"), col("c").as("src"),
          lit("a").as("dside"), col("p").as("dst")),
        struct(lit("a").as("sside"), col("p").as("src"),
          lit("h").as("dside"), col("c").as("dst"))))),
      "sside", "src")
    // round 1 from all-ones seeds = per-side degree count (no join)
    var sc = ed.groupBy(col("dside"), col("dst"))
      .agg(count(lit(1)).as("s"))
      .select(col("dside").as("sside"), col("dst").as("src"), col("s"))
    // the g04/g07 posture: the score side rides a shuffle_hash hint — each round's agg output
    // is HashPartitioning(dside,dst), the alias-aware rename makes it
    // (sside,src), so the hinted SHJ reads BOTH sides co-partitioned with
    // ZERO exchange and no sorts (hint-free static planning would SMJ and
    // sort the edge-sized stream per round; hint-free ADAPTIVE planning
    // broadcast the score side at bench scale, but per-stage adaptive jobs
    // were the floor — see g09Hits for the static wrapper + numbers). The
    // only per-round shuffle stays the map-side-combined score agg.
    for (_ <- 2 to rounds)
      sc = ed.join(sc.hint("shuffle_hash"), Seq("sside", "src"))
        .groupBy(col("dside"), col("dst"))
        .agg(sum(col("s")).as("s"))
        .select(col("dside").as("sside"), col("dst").as("src"), col("s"))
    sc
  }

  def g09Hits(s: SparkSession, d: String): DataFrame = {
    // Raw scans: the first op is the orderkey shuffle join, so the fixture
    // fan-out would be a wasted pass (Tables.tableRaw contract).
    val e = tableRaw(s, d, "orders").select(col("o_orderkey"), col("o_custkey"))
      .join(tableRaw(s, d, "lineitem").select(col("l_orderkey"), col("l_partkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
      .distinct()
    // static fixpoint (the g05/g04/g11 pattern): the lazy static checkpoint of the vertex-sized score frame plans the
    // 3 simultaneous rounds (one co-partitioned SHJ + one union-keyed agg
    // each, see simultaneousHits) with AQE off — ONE static job instead of
    // a fan of per-stage adaptive jobs — and feeds both per-side
    // TakeOrdereds.
    val fin = graft.core.Materialize.staticCheckpoint(
      simultaneousHits(e, rounds = 3), eager = false)
    // per-side max folded into TakeOrdered: score = s·10⁶ div
    // max(s) is monotone in s, so the top-20 by raw s already contains
    // the max as its first row; normalization is a 40-row window.
    def top(side: String, kind: String): DataFrame =
      fin.filter(col("sside") === side)
        .select(lit(kind).as("kind"), col("src").as("id"), col("s"))
        .orderBy(col("s").desc, col("id")).limit(20)
    top("h", "hub").unionByName(top("a", "authority"))
      .withColumn("m", max(col("s")).over(Window.partitionBy(col("kind"))))
      .withColumn("score", expr("s * 1000000 div m"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("kind")).orderBy(col("s").desc, col("id"))).cast("long"))
      .select(col("kind"), col("rank"), col("id"), col("score"))
      .orderBy(col("kind"), col("rank"))
  }

  /** S09 — RANGE (radius) SEARCH: every corpus vector within cosine ≥ 0.25
    * of each query vector — FAISS `range_search` semantics, the retrieval
    * mode for "give me everything similar enough", where top-k's fixed
    * cutoff is wrong (near-duplicate sweeps, recall-bounded candidate
    * generation). Same query set and the same engine-identical
    * sequential-fold cosine as s01, so the threshold comparison is
    * bit-exact cross-engine.
    *
    * Scale: the query set broadcasts; the corpus is scanned once with the
    * codegen cosine kernel and the radius predicate — no shuffle of the
    * corpus at all (not even top-k's rank exchange). The result is
    * output-bounded, which is the point of range search. For corpora
    * where even one scan is too much, s02/s03's bucketed prefilters
    * compose in front of the same predicate. */
  def s09RangeSearch(s: SparkSession, d: String): DataFrame = {
    val qs = embeddings(s, d).filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    embeddings(s, d)
      .join(broadcast(qs), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("id"),
        cosineSim(col("embedding"), col("qv")).as("score"))
      .filter(col("score") >= 0.25)
      .orderBy(col("qid"), col("score").desc, col("id"))
  }

  /** T33 — BPE MERGE LEARNING (Sennrich, Haddow & Birch 2016): learn the
    * first 5 byte-pair merges from the corpus itself — the TRAINING side
    * of the tokenizer whose APPLICATION side is t05. Word vocabulary →
    * per-word character segmentation (+ `</w>` terminal), then per round:
    * count adjacent symbol pairs weighted by word frequency, take the
    * arg-max pair (count desc, pair asc — deterministic), splice it into
    * every segmentation, repeat. Output is the learned merge table
    * (round, pair, merged, freq) — integers + strings, hash-exact.
    *
    * Merge application is a LITERAL string replace of ` a b ` with
    * ` ab ` over the space-joined segmentation — leftmost,
    * non-overlapping, separator-consuming in BOTH engines identically
    * (canonical BPE re-matches after each merge and differs only on odd
    * runs of a self-adjacent pair, e.g. `a a a a`; the divergence is
    * deterministic and engine-identical, so the contract holds). The
    * arg-max row is a 1-row broadcast into the splice — no driver
    * collect anywhere.
    *
    * Scale: the working frame is the WORD VOCABULARY (corpus-scaled but
    * vastly smaller than the corpus; the corpus itself is read once for
    * the frequency count). Each round = one explode + one
    * map-combinable agg + a TakeOrdered(1) + a narrow splice;
    * segmentations re-checkpoint per round (the g04/LPA lineage
    * discipline — without it round r replays rounds 1..r−1). */
  def t33BpeTrain(s: SparkSession, d: String): DataFrame = {
    val vocab = documents(s, d)
      .select(explode(filter(split(lower(coalesce(col("text"), lit(""))), "[^a-z]+"),
        w => length(w) > 0)).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .withColumn("seg", concat(
        array_join(expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))"), " "),
        lit(" </w>")))
      .localCheckpoint(true) // 5 rounds of splice lineage start here
    var seg = vocab.select(col("word"), col("freq"), col("seg"))
    val merges = (1 to 5).map { round =>
      val top1 = seg
        .select(col("freq"), split(col("seg"), " ").as("syms"))
        .select(col("freq"), explode(expr(
          "transform(sequence(1, size(syms) - 1), i -> concat(element_at(syms, i), ' ', element_at(syms, i + 1)))")).as("pair"))
        .groupBy(col("pair")).agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("pair")).limit(1)
        .select(col("pair"), regexp_replace(col("pair"), " ", "").as("merged"),
          col("cnt").as("freq"))
        .localCheckpoint(true) // 1 row; feeds the splice AND the output union
      val applied = seg.crossJoin(broadcast(top1.select(col("pair"), col("merged"))))
        .select(col("word"), col("freq"),
          trim(expr("replace(concat(' ', seg, ' '), concat(' ', pair, ' '), concat(' ', merged, ' '))")).as("seg"))
        .localCheckpoint(true)
      seg = applied
      top1.select(lit(round.toLong).as("round"), col("pair"), col("merged"), col("freq"))
    }
    merges.reduce(_.unionByName(_)).orderBy(col("round"))
  }

  /** Q77 — TIME-WEIGHTED AVERAGE (TWAP) per (event_type, day): each
    * sample holds its value until the next sample; the last sample of a
    * day holds to midnight — duration-weighted aggregation over IRREGULAR
    * samples, the finance/IoT downsampling semantic that a plain mean
    * gets wrong whenever sampling density correlates with value. Exact
    * integer arithmetic end-to-end: micros timestamps, cent values,
    * milli durations; twap_centi = Σ cents·dur_ms div Σ dur_ms.
    * Headroom: cents ≤ 5.6·10⁴ at the fixture (value ≤ 560), dur_ms ≤
    * 8.64·10⁷ → 4.8·10¹² per term — BIGINT holds ~10⁶ samples/day/type
    * of margin; the unit pair (cents, ms) is the documented knob.
    *
    * Scale: ONE key shuffle — the (type, day) window sort — then a hash
    * agg on the SAME key reuses the clustering; no self-join, no range
    * join (the q22 as-of discipline applied to duration weighting).
    * Duplicate timestamps get dur 0 deterministically (event_id
    * tie-break), which is exactly right: a zero-duration holding period
    * contributes nothing to a time-weighted mean. */
  def q77Twap(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("event_type"), col("day"))
      .orderBy(col("us"), col("event_id"))
    tsNanos(events(s, d))
      .select(col("event_type"), col("event_id"),
        expr("ts DIV 1000").as("us"),
        expr("CAST(floor(value * 100) AS BIGINT)").as("cents"))
      .withColumn("day", expr("us div 86400000000"))
      .withColumn("next_us", lead(col("us"), 1).over(w))
      .withColumn("dur_ms",
        expr("(coalesce(next_us, (day + 1) * 86400000000) - us) div 1000"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n_samples"),
        sum(col("dur_ms")).as("total_dur_ms"),
        sum(expr("cents * dur_ms")).as("wsum"))
      .selectExpr("event_type", "day", "n_samples", "total_dur_ms",
        "CASE WHEN total_dur_ms > 0 THEN wsum div total_dur_ms ELSE CAST(0 AS BIGINT) END AS twap_centi")
      .orderBy(col("event_type"), col("day"))
  }

  /** DQ08 — SPLIT-LEAKAGE AUDIT at the SPAN level: word 8-grams that
    * appear on BOTH sides of a train/val/test boundary — the t07 hash
    * split is keyed on doc_id, so shared passages (boilerplate,
    * near-dup docs, quoted text) straddle the boundary and leak training
    * text into eval even when no document is byte-identical (the GPT-3 /
    * Lee et al. n-gram contamination criterion; an exact-fingerprint
    * audit is vacuously clean on this corpus — measured — which is
    * precisely why contamination checks use spans, not documents).
    * Composes t07's split with d26's shingle primitive; reports, per
    * split pair, how many distinct 8-gram spans cross it.
    *
    * Scale: a gram's split incidence is ≤ 3 BITS, so a distinct
    * (split, gram) → gram-keyed self-join → two-phase countDistinct pair
    * aggregate collapses into ONE map-combinable
    * `bit_or` aggregate on the gram key plus a ≤ 7-row mask rollup. A
    * distinct gram contributes 1 to crossing pair (a,b) iff its mask
    * holds both bits — exactly the countDistinct per pair, row-for-row
    * identical. Exchanges: one data-sized (gram-keyed partial bit_or) vs
    * the self-join shape's distinct exchange + join re-cluster + the
    * countDistinct expansion. At 100 TB this is strictly an aggregation
    * problem, like d26. Measured (BenchOne min-of-2 at sf0.1): 0.93/1.06 s
    * across two sessions, 8 jobs — vs 1.54 s / 12 jobs for the join
    * shape. */
  def dq08SplitLeakage(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Sampling
    val masks = documents(s, d)
      .select(Sampling.split(col("doc_id"), 80, 10).as("split"),
        explode(Dedupe.shingles(col("text"), 8)).as("gram"))
      .select(col("gram"), expr(
        "CASE split WHEN 'train' THEN 1 WHEN 'val' THEN 2 ELSE 4 END").as("bit"))
      .groupBy(col("gram")).agg(expr("bit_or(bit)").as("mask"))
      .groupBy(col("mask")).agg(count(lit(1)).as("n"))
    // pair labels ordered a < b lexicographically (test < train < val),
    // the a.split < b.split order of the pairwise definition
    masks
      .select(col("n"), explode(expr(
        """filter(array(
          |  CASE WHEN (mask & 4) > 0 AND (mask & 1) > 0
          |       THEN named_struct('a', 'test', 'b', 'train') END,
          |  CASE WHEN (mask & 4) > 0 AND (mask & 2) > 0
          |       THEN named_struct('a', 'test', 'b', 'val') END,
          |  CASE WHEN (mask & 1) > 0 AND (mask & 2) > 0
          |       THEN named_struct('a', 'train', 'b', 'val') END),
          | x -> x IS NOT NULL)""".stripMargin)).as("p"))
      .groupBy(col("p.a").as("split_a"), col("p.b").as("split_b"))
      .agg(sum(col("n")).as("n_leaked_spans"))
      .orderBy(col("split_a"), col("split_b"))
  }

  /** T34 — SOURCE-DIVERGENCE: a χ²-style drift score of each source's
    * unigram distribution against the whole corpus, over the global
    * top-200 vocabulary, in exact integer arithmetic: per (source, word)
    * the observed share obs_bp = o·10⁴ div s_tot vs the corpus share
    * exp_bp = g·10⁴ div T, term = (obs_bp − exp_bp)² div (exp_bp + 1)
    * (the +1 is a deterministic zero-guard), score = Σ terms. This is
    * the mixture-tuning diagnostic run before t22/t25 allocate domain
    * weights — "which slices even differ, and by how much" — and the
    * text-distribution complement of dq02's numeric drift. Working in
    * basis-point shares FIRST keeps every product ≤ 10⁸ per term
    * (raw-count χ² squares o·T and wraps at corpus scale).
    *
    * Scale: one corpus explode feeds all three aggregates; the score
    * frame is (sources × 200) rows built from a BROADCAST top-200 (200
    * rows BY CONSTRUCTION after TakeOrdered — bounded, unlike the full
    * vocab, which is never broadcast per t11's rule) crossed with the
    * per-source totals, left-joined to observed counts so absent words
    * contribute their full expected-share penalty. */
  def t34SourceDivergence(s: SparkSession, d: String): DataFrame = {
    val tok = documents(s, d)
      .select(col("source"), explode(Dedupe.words(col("text"))).as("w"))
      .filter(length(col("w")) > 0)
      .localCheckpoint(true) // three aggregate consumers
    val top = tok.groupBy(col("w")).agg(count(lit(1)).as("g"))
      .orderBy(col("g").desc, col("w")).limit(200)
    val sTot = tok.groupBy(col("source")).agg(count(lit(1)).as("s_tot"))
    val tTot = tok.agg(count(lit(1)).as("t"))
    val grid = sTot.crossJoin(broadcast(top)).crossJoin(broadcast(tTot))
    val obs = tok.groupBy(col("source"), col("w")).agg(count(lit(1)).as("o"))
    grid.join(obs, Seq("source", "w"), "left")
      .selectExpr("source", "s_tot",
        "coalesce(o, CAST(0 AS BIGINT)) * 10000 div s_tot AS obs_bp",
        "g * 10000 div t AS exp_bp")
      .selectExpr("source", "s_tot",
        "(obs_bp - exp_bp) * (obs_bp - exp_bp) div (exp_bp + 1) AS term")
      .groupBy(col("source"))
      .agg(max(col("s_tot")).as("n_tokens"), sum(col("term")).as("div_score"))
      .orderBy(col("div_score").desc, col("source"))
  }

  /** M09 — PERCEPTUAL-HASH IMAGE NEAR-DUP (the image-side d02): every
    * document materializes as a REAL 18×16 RGB PNG whose pixels are a
    * deterministic integer function of doc_id — clusters of 8 share a
    * base image, each member perturbed on a sparse pixel lattice — and
    * the ENGINE's path is decode (inflate + unfilter, the real codec) →
    * grayscale → 9×8 average-pool → 64-bit dHash as 4×16-bit segments
    * ([[graft.operators.Multimodal.dHashSegments]]) → segment-keyed LSH
    * self-join (pigeonhole: hamming ≤ 3 ⇒ some segment equal) → exact
    * hamming verify. The oracle recomputes the hash from the SYNTHESIS
    * arithmetic (never seeing a PNG), so a hash match proves the whole
    * decode+pool+hash pipeline end-to-end — the m01/m03 discipline
    * applied to pixel MATH, not just headers. This is LAION-style image
    * dedupe: the only corpus-sized shuffles are the segment equi-join
    * and the pair distinct; no all-pairs stage exists at any scale.
    *
    * The fixture separation is engineered (intra-cluster hamming ≤ 1,
    * inter ≥ 12 for distinct base patterns, measured). All pixel terms
    * are taken mod 256, so bases 256 apart produce IDENTICAL images —
    * at SFs with > 2048 docs those aliased clusters legitimately merge
    * (true duplicates, found by both engines). The spec asserts the
    * exact-cluster contract at the small SF where no aliasing exists. */
  def m09PhashPairs(s: SparkSession, d: String): DataFrame = {
    import graft.functions.ImageCodec
    import graft.operators.Multimodal
    val mk = udf { (docId: Long) =>
      val w = 18; val h = 16
      val base = docId / 8; val pert = docId % 8
      val rgb = new Array[Byte](w * h * 3)
      for (y <- 0 until h; x <- 0 until w) {
        var r = (x * x + 3 * y * base + 7 * base * base + 11 * y) % 256
        if ((x + 18 * y) % 29 == 0) r = (r + pert) % 256
        val g = (y * y + 5 * x * base + 13 * base) % 256
        val b = (x * y + 17 * base + 19 * x) % 256
        val o = (y * w + x) * 3
        rgb(o) = r.toByte; rgb(o + 1) = g.toByte; rgb(o + 2) = b.toByte
      }
      ImageCodec.pngEncodeRgb(w, h, rgb)
    }
    val dh = udf { (payload: Array[Byte]) =>
      Multimodal.dHashSegments(payload).orNull
    }
    val hashed = documents(s, d)
      .select(col("doc_id"), dh(mk(col("doc_id"))).as("sv"))
      .filter(col("sv").isNotNull)
      // both sides of the banded self-join read this — without the
      // materialization each side re-runs the PNG encode+decode kernel
      // (the whole cost of this query) once more
      .localCheckpoint(false)
    val banded = hashed.select(col("doc_id"), col("sv"),
      posexplode(col("sv")).as(Seq("s", "seg")))
    banded.as("a").join(banded.as("b"),
        col("a.s") === col("b.s") && col("a.seg") === col("b.seg") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        expr("""CAST(bit_count(a.sv[0] ^ b.sv[0]) + bit_count(a.sv[1] ^ b.sv[1])
               |   + bit_count(a.sv[2] ^ b.sv[2]) + bit_count(a.sv[3] ^ b.sv[3])
               | AS BIGINT)""".stripMargin).as("hamming"))
      .distinct() // a pair may agree on several segments
      .filter(col("hamming") <= 3)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** T35 — STUPID-BACKOFF held-out scoring (Brants et al. 2007, "Large
    * Language Models in Machine Translation"): build the bigram LM from
    * the TRAIN split only (t07's hash split) and score the held-out
    * (val/test) documents — the honest perplexity protocol, where t26
    * scores data under a model that has seen it. Backoff weight α = 1/2
    * ON PURPOSE: in the catalog's floor-log₂ surprisal basis (d11's
    * bit-length primitive) ×1/2 is EXACTLY +1, so the whole chain stays
    * integer and hash-exact — a seen bigram costs
    * floor_log2(c_w1 div c_bg), an unseen one costs
    * 1 + floor_log2(T div c_w2), an OOV word costs 1 + floor_log2(T) + 1.
    * Per-doc output carries the backoff count — the novelty rate a
    * domain-shift monitor watches alongside the score.
    *
    * Scale: model and scoring are both corpus-scaled hash aggs/joins on
    * the bigram key, never broadcast (t11's rule); the train/held-out
    * gate is a pushed-down predicate on the already-computed split
    * column. */
  def t35BackoffSurprisal(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Sampling
    val base = documents(s, d)
      .select(col("doc_id"), Sampling.split(col("doc_id"), 80, 10).as("split"),
        expr("""filter(split(trim(lower(coalesce(text, ''))), '\\s+'),
               |       w -> length(w) > 0)""".stripMargin).as("ws"))
      .localCheckpoint(true) // feeds the train model AND the held-out scorer
    def pairsOf(df: DataFrame) = df.select(col("doc_id"), explode(expr(
        """CASE WHEN size(ws) >= 2
          |  THEN transform(sequence(1, size(ws) - 1),
          |    i -> struct(element_at(ws, i) AS w1, element_at(ws, i + 1) AS w2))
          |  ELSE array() END""".stripMargin)).as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
    val train = base.filter(col("split") === "train")
    val uni = train.select(explode(col("ws")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c_w"))
    val tTot = uni.agg(sum(col("c_w")).as("t"))
    val bg = pairsOf(train).groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c_bg"))
      .withColumn("c_w1",
        sum(col("c_bg")).over(Window.partitionBy(col("w1"))))
      .selectExpr("w1", "w2",
        "CAST(length(bin(c_w1 div c_bg)) - 1 AS BIGINT) AS s_bg")
    val held = pairsOf(base.filter(col("split") =!= "train"))
    held.join(bg, Seq("w1", "w2"), "left")
      .join(uni.withColumnRenamed("w", "w2"), Seq("w2"), "left")
      .crossJoin(broadcast(tTot))
      .selectExpr("doc_id",
        """CASE WHEN s_bg IS NOT NULL THEN s_bg
          |     WHEN c_w IS NOT NULL
          |       THEN 1 + CAST(length(bin(t div c_w)) - 1 AS BIGINT)
          |     ELSE 2 + CAST(length(bin(t)) - 1 AS BIGINT) END AS s""".stripMargin,
        "CASE WHEN s_bg IS NULL THEN 1 ELSE 0 END AS backed")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("s")).as("sum_surprisal"),
        sum(col("backed")).as("n_backoff"))
      .selectExpr("doc_id", "n_bigrams", "n_backoff", "sum_surprisal",
        "sum_surprisal * 1000 div n_bigrams AS mean_milli")
      .orderBy(col("doc_id"))
  }

  /** S10 — METADATA-FILTERED ANN ("hybrid search"): exact top-5 cosine
    * among corpus vectors whose label passes a metadata predicate — the
    * filtered-search mode every vector store exposes (LanceDB
    * `where=`, FAISS IDSelector), where post-filtering a top-k is WRONG
    * (k survivors of an unfiltered top-k may all fail the predicate;
    * the filter must gate candidate generation). Pre-filter semantics
    * here: the predicate is an `In` filter PUSHED TO THE PARQUET SCAN
    * (plan-pinned), so at 100 TB row-group statistics prune before a
    * single vector is read — then s01's broadcast-window top-k runs on
    * the surviving rows only.
    *
    * Scale: same zero-corpus-shuffle shape as s01 (broadcast queries,
    * map-side WindowGroupLimit top-k), with the scan itself shrunk by
    * the pushed predicate. Composes with s03/s05's index paths — the
    * IVF probe list is filtered the same way. */
  def s10FilteredAnn(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Similarity
    val qs = embeddings(s, d).filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val gated = embeddings(s, d).filter(col("label").isin(0, 2, 5))
    Similarity.batchTopKByCosine(gated, col("vec_id"), col("embedding"), qs, 5)
      .orderBy(col("qid"), col("rank"))
  }

  /** M10 — AUDIO ENERGY PROFILE through REAL PCM sample decode: each
    * document materializes as a valid 16-bit mono WAV whose sample bytes
    * are the deterministic ramp [[graft.functions.AudioCodec.wavBytes]]
    * encodes, and the ENGINE's path is the full chunk walk + little-
    * endian signed-int16 decode ([[graft.functions.AudioCodec.pcmSamples16]])
    * → 8 equal integer-boundary segments → per-segment mean |amplitude|
    * — the energy/VAD profiling pass an ASR pipeline runs before
    * transcription. The oracle recomputes the segment means from the
    * SYNTHESIS ramp arithmetic (never parsing a WAV), so a hash match
    * proves header walk + sample decode + segmentation end-to-end — m09's
    * pixel-math discipline applied to audio CONTENT (m04 proved headers
    * only).
    *
    * Scale: decode is a narrow per-row kernel (mapPartitions-class, no
    * shuffle); the only exchange is the final ordering. Segment math is
    * exact integers (sum of |int16| div count). */
  def m10AudioEnergy(s: SparkSession, d: String): DataFrame = {
    import graft.functions.AudioCodec
    val mk = udf { (docId: Long, nChars: Long) =>
      AudioCodec.wavBytes(8000, 1, 16, (nChars % 400 + 50).toInt,
        seed = (docId % 251).toInt)
    }
    val prof = udf { (b: Array[Byte]) =>
      AudioCodec.pcmSamples16(b).map { smp =>
        val n = smp.length
        (0 until 8).map { g =>
          val lo = g * n / 8; val hi = (g + 1) * n / 8
          var sum = 0L
          var k = lo; while (k < hi) { sum += math.abs(smp(k)); k += 1 }
          (g.toLong, (hi - lo).toLong, if (hi > lo) sum / (hi - lo) else 0L)
        }
      }.orNull
    }
    documents(s, d)
      .select(col("doc_id"),
        prof(mk(col("doc_id"), col("n_chars"))).as("segs"))
      .filter(col("segs").isNotNull)
      .select(col("doc_id"), explode(col("segs")).as("sg"))
      .select(col("doc_id"), col("sg._1").as("seg"),
        col("sg._2").as("n_seg"), col("sg._3").as("mean_abs"))
      .orderBy(col("doc_id"), col("seg"))
  }

  /** M18 — AUDIO FINGERPRINT NEAR-DUP PAIRS (the audio half of the
    * multimodal dedupe axis — m09 catches re-encoded images, nothing yet
    * caught re-encoded/trimmed audio): 45-bit Haitsma–Kalker
    * energy-difference fingerprints ([[graft.functions.AudioCodec
    * .energyFingerprint]] — the Philips double-difference bit algebra
    * over a 16×4 energy grid, integer-exact), paired by PIGEONHOLE
    * banding: 3 × 15-bit segments, so any pair at Hamming ≤ 2 MUST agree
    * on a whole segment (guaranteed recall — d02/m09/q50's blocking
    * discipline), candidates verified with exact bit_count. Fixture
    * audio is seeded-ramp WAVs (doc_id-derived seed/length, m10's
    * synthesis); the oracle recomputes fingerprints FROM THE SYNTHESIS
    * ARITHMETIC — ramp byte → int16 sample → slice energy → bit — and
    * never parses a WAV, so the engine's RIFF walk + fingerprint kernel
    * are proven end-to-end (the m-family oracle rule).
    *
    * Scale shape: fingerprinting is a narrow per-row kernel; the
    * segment join is a pure equi-join on (segment_idx, value) — never
    * all-pairs; the fingerprint frame is materialized once for the
    * banded explode and both verify sides. */
  def m18AudioFingerprint(s: SparkSession, d: String): DataFrame = {
    import graft.functions.AudioCodec
    val mk = udf { (docId: Long, nChars: Long) =>
      AudioCodec.wavBytes(8000, 1, 16, (nChars % 100 + 40).toInt,
        seed = (docId % 64).toInt)
    }
    val fpu = udf { (b: Array[Byte]) =>
      AudioCodec.energyFingerprint(b).map(java.lang.Long.valueOf).orNull
    }
    val fps = documents(s, d)
      .select(col("doc_id"),
        fpu(mk(col("doc_id"), coalesce(col("n_chars"), lit(0L)))).as("fp"))
      .filter(col("fp").isNotNull)
      .localCheckpoint(false) // banded explode + both verify sides read it
    val banded = fps.select(col("doc_id"), col("fp"),
      posexplode(array(
        shiftright(col("fp"), 0).bitwiseAND(lit(32767L)),
        shiftright(col("fp"), 15).bitwiseAND(lit(32767L)),
        shiftright(col("fp"), 30).bitwiseAND(lit(32767L)))).as(Seq("s", "seg")))
    banded.as("a").join(banded.as("b"),
        col("a.s") === col("b.s") && col("a.seg") === col("b.seg") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        expr("CAST(bit_count(a.fp ^ b.fp) AS BIGINT)").as("hamming"))
      .distinct() // a pair may agree on several segments
      .filter(col("hamming") <= 2)
      .orderBy(col("id_a"), col("id_b"))
  }

  // ----------------------------------------------------------- registry

  val queries: Map[String, Q] = Map(
    "m18_audio_fingerprint" -> m18AudioFingerprint,
    "t29_lexical_diversity" -> t29LexicalDiversity,
    "t30_sentence_stats" -> t30SentenceStats,
    "t31_readability" -> t31Readability,
    "t32_char_trigram_profile" -> t32CharTrigramProfile,
    "t33_bpe_train" -> t33BpeTrain,
    "t34_source_divergence" -> t34SourceDivergence,
    "d26_repeated_spans" -> d26RepeatedSpans,
    "g08_link_prediction" -> g08LinkPrediction,
    "g09_hits" -> g09Hits,
    "m09_phash_pairs" -> m09PhashPairs,
    "q77_twap" -> q77Twap,
    "dq08_split_leakage" -> dq08SplitLeakage,
    "m10_audio_energy" -> m10AudioEnergy,
    "s10_filtered_ann" -> s10FilteredAnn,
    "t35_backoff_surprisal" -> t35BackoffSurprisal,
    "s09_range_search" -> s09RangeSearch)

  // ----------------------------------------------------------- oracle SQL

  private val wordsSql = """regexp_split_to_array(trim(lower(text)), '\s+')"""

  val oracle: Map[String, String] = Map(
    "m18_audio_fingerprint" ->
      """WITH base AS (
           SELECT doc_id,
                  CAST(coalesce(n_chars, 0) % 100 + 40 AS BIGINT) AS n,
                  CAST(doc_id % 64 AS BIGINT) AS seed
           FROM documents
         ), en0 AS (
           -- ramp byte j = (seed + j) mod 256; sample k = signed int16 of
           -- little-endian bytes (2k, 2k+1); slice(k) = (k*64) // n
           SELECT doc_id, (kk.k * 64) // n AS sl,
                  sum(abs(CASE WHEN ((seed + 2 * kk.k) % 256)
                                    + ((seed + 2 * kk.k + 1) % 256) * 256 >= 32768
                               THEN ((seed + 2 * kk.k) % 256)
                                    + ((seed + 2 * kk.k + 1) % 256) * 256 - 65536
                               ELSE ((seed + 2 * kk.k) % 256)
                                    + ((seed + 2 * kk.k + 1) % 256) * 256 END)) AS e
           FROM base,
                LATERAL (SELECT unnest(generate_series(0, n - 1)) AS k) kk
           GROUP BY doc_id, sl
         ), grid AS (
           SELECT b.doc_id, g.sl, coalesce(en0.e, 0) AS e
           FROM base b
           CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS sl) g
           LEFT JOIN en0 ON en0.doc_id = b.doc_id AND en0.sl = g.sl
         ), ev AS (
           SELECT doc_id, list(e ORDER BY sl) AS ee FROM grid GROUP BY doc_id
         ), fps AS (
           SELECT doc_id,
                  CAST(list_sum(list_transform(generate_series(1, 45), i ->
                    CASE WHEN (ee[((i-1)//3 + 1) * 4 + ((i-1)%3) + 1]
                               - ee[((i-1)//3 + 1) * 4 + ((i-1)%3) + 2])
                            - (ee[((i-1)//3) * 4 + ((i-1)%3) + 1]
                               - ee[((i-1)//3) * 4 + ((i-1)%3) + 2]) > 0
                         THEN CAST(1 AS BIGINT) << (i - 1)
                         ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS fp
           FROM ev
         ), banded AS (
           SELECT doc_id, fp, ss.s AS s,
                  CASE ss.s WHEN 0 THEN fp & 32767
                            WHEN 1 THEN (fp >> 15) & 32767
                            ELSE (fp >> 30) & 32767 END AS seg
           FROM fps, (SELECT unnest([0, 1, 2]) AS s) ss
         )
         SELECT id_a, id_b, hamming FROM (
           SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                  CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
           FROM banded a JOIN banded b
             ON a.s = b.s AND a.seg = b.seg AND a.doc_id < b.doc_id) t
         WHERE hamming <= 2 ORDER BY id_a, id_b""",
    "t29_lexical_diversity" ->
      s"""WITH tok AS (
            SELECT doc_id, unnest($wordsSql) AS w FROM documents
          ), t2 AS (
            SELECT doc_id, w FROM tok WHERE length(w) > 0
          ), per AS (
            SELECT doc_id, w, count(*) AS c FROM t2 GROUP BY doc_id, w
          ), agg AS (
            SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
                   CAST(count(*) AS BIGINT) AS n_types,
                   CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
            FROM per GROUP BY doc_id
          )
          SELECT d.doc_id,
                 coalesce(a.n_tokens, 0) AS n_tokens,
                 coalesce(a.n_types, 0) AS n_types,
                 coalesce(a.n_hapax, 0) AS n_hapax,
                 CASE WHEN coalesce(a.n_tokens, 0) > 0
                      THEN a.n_types * 10000 // a.n_tokens ELSE 0 END AS ttr_bp,
                 CASE WHEN coalesce(a.n_tokens, 0) > 0
                      THEN a.n_hapax * 10000 // a.n_tokens ELSE 0 END AS hapax_bp
          FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
          ORDER BY d.doc_id""",
    "t30_sentence_stats" ->
      """WITH seg AS (
           SELECT doc_id,
                  unnest(regexp_split_to_array(lower(coalesce(text, '')), '[.!?]+')) AS sent
           FROM documents
         ), nw AS (
           SELECT doc_id,
                  CAST(len(list_filter(regexp_split_to_array(trim(sent), '\s+'),
                                       w -> length(w) > 0)) AS BIGINT) AS nw
           FROM seg
         ), per AS (
           SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sentences,
                  CAST(sum(nw) AS BIGINT) AS n_words,
                  CAST(max(nw) AS BIGINT) AS max_sentence_words
           FROM nw WHERE nw > 0 GROUP BY doc_id
         )
         SELECT d.doc_id,
                coalesce(p.n_sentences, 0) AS n_sentences,
                coalesce(p.n_words, 0) AS n_words,
                coalesce(p.max_sentence_words, 0) AS max_sentence_words,
                CASE WHEN coalesce(p.n_sentences, 0) > 0
                     THEN p.n_words * 1000 // p.n_sentences ELSE 0 END AS mean_words_milli
         FROM documents d LEFT JOIN per p ON p.doc_id = d.doc_id
         ORDER BY d.doc_id""",
    "t31_readability" ->
      """WITH base AS (
           SELECT doc_id, lower(coalesce(text, '')) AS t FROM documents
         ), cnt AS (
           SELECT doc_id,
                  CAST(len(list_filter(regexp_split_to_array(trim(t), '\s+'),
                                       w -> length(w) > 0)) AS BIGINT) AS n_words,
                  CAST(len(list_filter(list_transform(
                         regexp_split_to_array(t, '[.!?]+'), s -> trim(s)),
                       s -> length(s) > 0)) AS BIGINT) AS n_sentences,
                  CAST(len(regexp_extract_all(t, '[aeiouy]+')) AS BIGINT) AS n_syllables
           FROM base
         )
         SELECT doc_id, n_words, n_sentences, n_syllables,
                CASE WHEN n_words > 0 AND n_sentences > 0
                     THEN (390 * (n_words * 1000 // n_sentences)
                           + 11800 * (n_syllables * 1000 // n_words)) // 1000 - 15590
                     ELSE 0 END AS fk_milli
         FROM cnt ORDER BY doc_id""",
    "t32_char_trigram_profile" ->
      """WITH n AS (
           SELECT lang,
                  regexp_replace(trim(lower(coalesce(text, ''))), '\s+', '_', 'g') AS t
           FROM documents
         ), tri AS (
           SELECT lang,
                  unnest(list_transform(generate_series(1, length(t) - 2),
                                        i -> substr(t, i, 3))) AS tri
           FROM n WHERE length(t) >= 3
         ), cnt AS (
           SELECT lang, tri, CAST(count(*) AS BIGINT) AS cnt
           FROM tri GROUP BY lang, tri
         ), r AS (
           SELECT lang, tri, cnt,
                  row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, tri) AS rn
           FROM cnt
         )
         SELECT lang, CAST(rn AS BIGINT) AS rank, tri, cnt
         FROM r WHERE rn <= 10 ORDER BY lang, rank""",
    "t33_bpe_train" -> {
      // 5 unrolled rounds; each = pair count over the previous round's
      // segmentations, arg-max, literal-replace splice (same separator
      // semantics as the Spark side — see the t33 Scaladoc).
      def pairsOf(segCte: String): String =
        s"""SELECT freq, unnest(list_transform(generate_series(1, len(syms) - 1),
           |       i -> syms[i] || ' ' || syms[i + 1])) AS pair
           |FROM (SELECT freq, string_split(seg, ' ') AS syms FROM $segCte)""".stripMargin
      def topOf(pairsCte: String): String =
        s"""SELECT pair, replace(pair, ' ', '') AS merged, CAST(sum(freq) AS BIGINT) AS freq
           |FROM $pairsCte GROUP BY pair ORDER BY freq DESC, pair LIMIT 1""".stripMargin
      def spliceOf(segCte: String, topCte: String): String =
        s"""SELECT s.word, s.freq,
           |       trim(replace(' ' || s.seg || ' ', ' ' || t.pair || ' ',
           |                    ' ' || t.merged || ' ')) AS seg
           |FROM $segCte s CROSS JOIN $topCte t""".stripMargin
      val rounds = (1 to 5).map { r =>
        s"""p$r AS (${pairsOf(s"seg${r - 1}")}),
           |t$r AS (${topOf(s"p$r")}),
           |seg$r AS (${spliceOf(s"seg${r - 1}", s"t$r")})""".stripMargin
      }.mkString(",\n")
      val out = (1 to 5).map(r =>
        s"SELECT CAST($r AS BIGINT) AS round, pair, merged, freq FROM t$r")
        .mkString(" UNION ALL ")
      s"""WITH vocab AS (
            SELECT word, CAST(count(*) AS BIGINT) AS freq FROM (
              SELECT unnest(list_filter(
                regexp_split_to_array(lower(coalesce(text, '')), '[^a-z]+'),
                w -> length(w) > 0)) AS word
              FROM documents) t
            GROUP BY word
          ), seg0 AS (
            SELECT word, freq,
                   array_to_string(list_transform(generate_series(1, length(word)),
                                                  i -> substr(word, i, 1)), ' ')
                     || ' </w>' AS seg
            FROM vocab
          ),
          $rounds
          $out ORDER BY round"""
    },
    "d26_repeated_spans" ->
      s"""WITH w0 AS (
            SELECT doc_id, list_filter($wordsSql, x -> length(x) > 0) AS w
            FROM documents
          ), g AS (
            SELECT doc_id,
                   unnest(CASE WHEN len(w) >= 8
                          THEN list_transform(generate_series(1, len(w) - 7),
                               i -> array_to_string(w[i : i + 7], ' '))
                          ELSE []::VARCHAR[] END) AS gram
            FROM w0
          ), agg AS (
            SELECT gram, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
                   CAST(count(*) AS BIGINT) AS n_occ
            FROM g GROUP BY gram
          )
          SELECT gram, n_docs, n_occ FROM agg WHERE n_docs >= 2
          ORDER BY n_docs DESC, n_occ DESC, gram LIMIT 20""",
    "g08_link_prediction" ->
      """WITH eu AS (
           SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
           FROM lineitem a JOIN lineitem b
             ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
         ), e AS (
           SELECT u, v FROM eu UNION ALL SELECT v, u FROM eu
         ), deg AS (
           SELECT u, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY u
         ), seeds AS (
           SELECT p_partkey AS seed FROM part WHERE p_partkey % 200 = 0
         ), hop1 AS (
           SELECT s.seed, e.v AS z FROM e JOIN seeds s ON e.u = s.seed
         ), wedges AS (
           SELECT h.seed, h.z, e.v AS cand
           FROM hop1 h JOIN e ON e.u = h.z
           WHERE e.v <> h.seed
         ), nonadj AS (
           SELECT w.seed, w.z, w.cand FROM wedges w
           WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.u = w.seed AND e.v = w.cand)
         ), scored AS (
           SELECT n.seed, n.cand, CAST(count(*) AS BIGINT) AS cn,
                  CAST(sum(10000 // d.deg) AS BIGINT) AS ra_bp
           FROM nonadj n JOIN deg d ON d.u = n.z
           GROUP BY n.seed, n.cand
         ), ranked AS (
           SELECT seed, cand, cn, ra_bp,
                  row_number() OVER (PARTITION BY seed
                                     ORDER BY cn DESC, ra_bp DESC, cand) AS rn
           FROM scored
         )
         SELECT seed, CAST(rn AS BIGINT) AS rank, cand AS predicted, cn, ra_bp
         FROM ranked WHERE rn <= 10 ORDER BY seed, rank""",
    "g09_hits" -> {
      // 3 un-normalized exact-integer SIMULTANEOUS rounds (engine in
      // lockstep): aK from h(K-1) AND hK from
      // a(K-1) — power iteration on the block matrix [[0,E],[E^T,0]];
      // all-ones seeds on both sides make round 1 the per-side degree.
      // One truncating 10^6 normalization per side at the end.
      // MATERIALIZED hints: each round frame feeds the
      // next join; without them DuckDB re-inlines the whole prefix per
      // reference (measured 38 s -> 0.3 s at sf0.1).
      s"""WITH e AS MATERIALIZED (
            SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
            FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
          ), a1 AS MATERIALIZED (
            SELECT p, CAST(count(*) AS BIGINT) AS s FROM e GROUP BY p
          ), h1 AS MATERIALIZED (
            SELECT c, CAST(count(*) AS BIGINT) AS s FROM e GROUP BY c
          ), a2 AS MATERIALIZED (
            SELECT e.p, CAST(sum(h.s) AS BIGINT) AS s
            FROM e JOIN h1 h ON h.c = e.c GROUP BY e.p
          ), h2 AS MATERIALIZED (
            SELECT e.c, CAST(sum(a.s) AS BIGINT) AS s
            FROM e JOIN a1 a ON a.p = e.p GROUP BY e.c
          ), a3 AS MATERIALIZED (
            SELECT e.p, CAST(sum(h.s) AS BIGINT) AS s
            FROM e JOIN h2 h ON h.c = e.c GROUP BY e.p
          ), h3 AS MATERIALIZED (
            SELECT e.c, CAST(sum(a.s) AS BIGINT) AS s
            FROM e JOIN a2 a ON a.p = e.p GROUP BY e.c
          ), am AS (SELECT max(s) AS m FROM a3
          ), hm AS (SELECT max(s) AS m FROM h3
          ), th AS (
            SELECT 'hub' AS kind, c AS id, s, s * 1000000 // hm.m AS score
            FROM h3, hm ORDER BY s DESC, id LIMIT 20
          ), ta AS (
            SELECT 'authority' AS kind, p AS id, s, s * 1000000 // am.m AS score
            FROM a3, am ORDER BY s DESC, id LIMIT 20
          ), u AS (
            SELECT * FROM th UNION ALL SELECT * FROM ta
          )
          SELECT kind,
                 CAST(row_number() OVER (PARTITION BY kind
                                         ORDER BY s DESC, id) AS BIGINT) AS rank,
                 id, score
          FROM u ORDER BY kind, rank"""
    },
    "t35_backoff_surprisal" -> {
      val bktSql = "CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100"
      val pairsSql = (cond: String) =>
        s"""SELECT doc_id,
           |       unnest(CASE WHEN len(ws) >= 2
           |              THEN list_transform(generate_series(1, len(ws) - 1),
           |                   i -> ws[i] || ' ' || ws[i + 1])
           |              ELSE []::VARCHAR[] END) AS bg
           |FROM base WHERE $cond""".stripMargin
      s"""WITH base AS (
            SELECT doc_id,
                   CASE WHEN $bktSql < 80 THEN 'train'
                        WHEN $bktSql < 90 THEN 'val' ELSE 'test' END AS split,
                   list_filter(
                     regexp_split_to_array(trim(lower(coalesce(text, ''))), '\\s+'),
                     w -> length(w) > 0) AS ws
            FROM documents
          ), tp AS (${pairsSql("split = 'train'")}
          ), bgm0 AS (
            SELECT bg, CAST(count(*) AS BIGINT) AS c_bg FROM tp GROUP BY bg
          ), bgm AS (
            SELECT bg,
                   CAST(length(bin(
                     CAST(sum(c_bg) OVER (PARTITION BY split_part(bg, ' ', 1)) AS BIGINT)
                       // c_bg)) - 1 AS BIGINT) AS s_bg
            FROM bgm0
          ), uni AS (
            SELECT w, CAST(count(*) AS BIGINT) AS c_w
            FROM (SELECT unnest(ws) AS w FROM base WHERE split = 'train') t
            GROUP BY w
          ), ttot AS (
            SELECT CAST(sum(c_w) AS BIGINT) AS t FROM uni
          ), hp AS (${pairsSql("split <> 'train'")}
          ), j AS (
            SELECT hp.doc_id,
                   CASE WHEN m.s_bg IS NOT NULL THEN m.s_bg
                        WHEN u.c_w IS NOT NULL
                          THEN 1 + CAST(length(bin(tt.t // u.c_w)) - 1 AS BIGINT)
                        ELSE 2 + CAST(length(bin(tt.t)) - 1 AS BIGINT) END AS s,
                   CASE WHEN m.s_bg IS NULL THEN 1 ELSE 0 END AS backed
            FROM hp LEFT JOIN bgm m ON m.bg = hp.bg
            LEFT JOIN uni u ON u.w = split_part(hp.bg, ' ', 2)
            CROSS JOIN ttot tt
          ), agg AS (
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
                   CAST(sum(backed) AS BIGINT) AS n_backoff,
                   CAST(sum(s) AS BIGINT) AS sum_surprisal
            FROM j GROUP BY doc_id
          )
          SELECT doc_id, n_bigrams, n_backoff, sum_surprisal,
                 sum_surprisal * 1000 // n_bigrams AS mean_milli
          FROM agg ORDER BY doc_id"""
    },
    "s10_filtered_ann" ->
      s"""WITH q AS (
            SELECT vec_id AS qid, embedding AS v FROM embeddings WHERE vec_id < 3
          ), scored AS (
            SELECT b.qid, a.vec_id AS id,
                   list_reduce(list_transform(list_zip(a.embedding, b.v),
                     p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (x, y) -> x + y)
                   / (${normSql("a.embedding")} * ${normSql("b.v")}) AS score
            FROM embeddings a CROSS JOIN q b
            WHERE a.label IN (0, 2, 5) AND a.vec_id <> b.qid
          ), ranked AS (
            SELECT qid, id, score,
                   CAST(row_number() OVER (PARTITION BY qid
                                           ORDER BY score DESC, id) AS INT) AS rank
            FROM scored
          )
          SELECT qid, id, score, rank FROM ranked WHERE rank <= 5
          ORDER BY qid, rank""",
    "m10_audio_energy" ->
      // recompute the per-segment means from the synthesis ramp
      // (data byte j = (seed + j) mod 256, samples little-endian signed
      // int16) — the oracle never parses a WAV; integer-boundary segment
      // assignment mirrors the engine's lo = g·n div 8 loop exactly
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
         ), segk AS (
           SELECT s.doc_id, g.g, s.sv
           FROM sgn s CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS g) g
           WHERE s.k >= g.g * s.n // 8 AND s.k < (g.g + 1) * s.n // 8
         )
         SELECT doc_id, CAST(g AS BIGINT) AS seg,
                CAST(count(*) AS BIGINT) AS n_seg,
                CAST(sum(abs(sv)) AS BIGINT) // CAST(count(*) AS BIGINT) AS mean_abs
         FROM segk GROUP BY doc_id, g
         ORDER BY doc_id, seg""",
    "q77_twap" ->
      """WITH e AS (
           SELECT event_type, event_id, epoch_us(ts) AS us,
                  CAST(floor(value * 100) AS BIGINT) AS cents
           FROM events
         ), d AS (
           SELECT event_type, event_id, us, cents,
                  us // 86400000000 AS day
           FROM e
         ), led AS (
           SELECT event_type, day, cents,
                  (coalesce(lead(us) OVER (PARTITION BY event_type, day
                                           ORDER BY us, event_id),
                            (day + 1) * 86400000000) - us) // 1000 AS dur_ms
           FROM d
         ), agg AS (
           SELECT event_type, day, CAST(count(*) AS BIGINT) AS n_samples,
                  CAST(sum(dur_ms) AS BIGINT) AS total_dur_ms,
                  CAST(sum(cents * dur_ms) AS BIGINT) AS wsum
           FROM led GROUP BY event_type, day
         )
         SELECT event_type, day, n_samples, total_dur_ms,
                CASE WHEN total_dur_ms > 0 THEN wsum // total_dur_ms
                     ELSE 0 END AS twap_centi
         FROM agg ORDER BY event_type, day""",
    "dq08_split_leakage" -> {
      val bktSql = "CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100"
      s"""WITH w0 AS (
            SELECT doc_id, list_filter($wordsSql, x -> length(x) > 0) AS w,
                   CASE WHEN $bktSql < 80 THEN 'train'
                        WHEN $bktSql < 90 THEN 'val'
                        ELSE 'test' END AS split
            FROM documents
          ), g AS (
            SELECT DISTINCT split,
                   unnest(CASE WHEN len(w) >= 8
                          THEN list_transform(generate_series(1, len(w) - 7),
                               i -> array_to_string(w[i : i + 7], ' '))
                          ELSE []::VARCHAR[] END) AS gram
            FROM w0
          )
          SELECT a.split AS split_a, b.split AS split_b,
                 CAST(count(DISTINCT a.gram) AS BIGINT) AS n_leaked_spans
          FROM g a JOIN g b ON a.gram = b.gram AND a.split < b.split
          GROUP BY a.split, b.split
          ORDER BY split_a, split_b"""
    },
    "t34_source_divergence" ->
      s"""WITH tok AS (
            SELECT source, w FROM (
              SELECT source, unnest($wordsSql) AS w FROM documents) t
            WHERE length(w) > 0
          ), top AS (
            SELECT w, CAST(count(*) AS BIGINT) AS g FROM tok GROUP BY w
            ORDER BY g DESC, w LIMIT 200
          ), stot AS (
            SELECT source, CAST(count(*) AS BIGINT) AS s_tot FROM tok GROUP BY source
          ), ttot AS (
            SELECT CAST(count(*) AS BIGINT) AS t FROM tok
          ), obs AS (
            SELECT source, w, CAST(count(*) AS BIGINT) AS o
            FROM tok GROUP BY source, w
          ), grid AS (
            SELECT s.source, s.s_tot,
                   coalesce(o.o, 0) * 10000 // s.s_tot AS obs_bp,
                   p.g * 10000 // ttot.t AS exp_bp
            FROM stot s CROSS JOIN top p CROSS JOIN ttot
            LEFT JOIN obs o ON o.source = s.source AND o.w = p.w
          ), terms AS (
            SELECT source, s_tot,
                   (obs_bp - exp_bp) * (obs_bp - exp_bp) // (exp_bp + 1) AS term
            FROM grid
          )
          SELECT source, CAST(max(s_tot) AS BIGINT) AS n_tokens,
                 CAST(sum(term) AS BIGINT) AS div_score
          FROM terms GROUP BY source
          ORDER BY div_score DESC, source""",
    "m09_phash_pairs" -> {
      // recompute the dHash from the synthesis arithmetic — the oracle
      // never sees a PNG, so a match proves the engine's decode path
      def gray(xe: String, ye: String): String = {
        val r0 = s"((($xe)*($xe) + 3*($ye)*base + 7*base*base + 11*($ye)) % 256)"
        val r = s"CASE WHEN (($xe) + 18*($ye)) % 29 = 0 THEN ($r0 + pert) % 256 ELSE $r0 END"
        val g = s"((($ye)*($ye) + 5*($xe)*base + 13*base) % 256)"
        val b = s"((($xe)*($ye) + 17*base + 19*($xe)) % 256)"
        s"(($r) + ($g) + ($b)) // 3"
      }
      def mean(i: String, j: String): String =
        "((" + (for (dx <- 0 to 1; dy <- 0 to 1)
          yield gray(s"2*($i)+$dx", s"2*($j)+$dy")).mkString(")+(") + ")) // 4"
      val m1 = mean("b % 8 + 1", "b // 8")
      val m0 = mean("b % 8", "b // 8")
      s"""WITH d AS (
            SELECT doc_id, doc_id // 8 AS base, doc_id % 8 AS pert FROM documents
          ), bits AS (
            SELECT doc_id, b.b AS b,
                   CASE WHEN ($m1) > ($m0) THEN (1 << (b.b % 16)) ELSE 0 END AS bit
            FROM d CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS b) b
          ), segs AS (
            SELECT doc_id, b // 16 AS s, CAST(sum(bit) AS INTEGER) AS seg
            FROM bits GROUP BY doc_id, b // 16
          ), docs AS (
            SELECT doc_id, list(seg ORDER BY s) AS sv FROM segs GROUP BY doc_id
          ), cand AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM segs a JOIN segs b
              ON a.s = b.s AND a.seg = b.seg AND a.doc_id < b.doc_id
          ), scored AS (
            SELECT c.id_a, c.id_b,
                   CAST(bit_count(xor(x.sv[1], y.sv[1])) + bit_count(xor(x.sv[2], y.sv[2]))
                      + bit_count(xor(x.sv[3], y.sv[3])) + bit_count(xor(x.sv[4], y.sv[4]))
                     AS BIGINT) AS hamming
            FROM cand c JOIN docs x ON x.doc_id = c.id_a
            JOIN docs y ON y.doc_id = c.id_b
          )
          SELECT id_a, id_b, hamming FROM scored WHERE hamming <= 3
          ORDER BY id_a, id_b"""
    },
    "s09_range_search" ->
      s"""WITH q AS (
            SELECT vec_id AS qid, embedding AS v FROM embeddings WHERE vec_id < 3
          ), scored AS (
            SELECT b.qid, a.vec_id AS id,
                   list_reduce(list_transform(list_zip(a.embedding, b.v),
                     p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (x, y) -> x + y)
                   / (${normSql("a.embedding")} * ${normSql("b.v")}) AS score
            FROM embeddings a CROSS JOIN q b WHERE a.vec_id <> b.qid
          )
          SELECT qid, id, score FROM scored WHERE score >= 0.25
          ORDER BY qid, score DESC, id""")
}
