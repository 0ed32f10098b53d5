package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables._
import graft.operators.{Chunker, Elbow, Similarity, ThemeTagger}
import Shared.cosSql

/** SURVEY §2.9 vector/RAG declared queries: Q8, Q13, Q14, Q15, Q21.
  *
  * Oracle parity note: every floating-point reduction (dot product, L2) is a
  * *sequential left fold* over the vector, evaluated in Double — the DuckDB
  * oracle uses `list_reduce` with the same order, so the doubles are
  * bit-identical and hash-comparable without rounding.
  */
object VectorQueries {
  type Q = (SparkSession, String) => DataFrame

  /** The fixed query vector for Q13/Q14: the embedding of vec_id = 0. */
  private def queryVec(s: SparkSession, d: String): DataFrame =
    embeddings(s, d).filter(col("vec_id") === 0)
      .select(col("embedding").as("qv"))

  /** Q13a — exact top-15 by L2 distance (FAISS IndexFlatL2 semantics). */
  def q13TopKL2(s: SparkSession, d: String): DataFrame =
    Similarity.topKByL2(embeddings(s, d), col("vec_id"), col("embedding"),
      queryVec(s, d), 15)
      .withColumnRenamed("id", "vec_id")

  /** Q13b — exact top-5 by cosine similarity (LanceDB semantics). */
  def q13TopKCosine(s: SparkSession, d: String): DataFrame =
    Similarity.topKByCosine(embeddings(s, d), col("vec_id"), col("embedding"),
      queryVec(s, d), 5)
      .withColumnRenamed("id", "vec_id")

  /** Q14 — adaptive elbow cut of the Q13 L2 ranked list
    * (rag_search.py:77-119: sensitivity 2.5 × median step, min step 0.05). */
  def q14ElbowCut(s: SparkSession, d: String): DataFrame =
    Elbow.cut(q13TopKL2(s, d), col("dist"), col("vec_id"))
      .select(col("vec_id"), col("dist"), col("rank"))
      .orderBy(col("rank"))

  /** Q15 — threshold + top-3 multilabel tagging of every embedding against
    * per-label representative vectors (min vec_id per label stands in for
    * the reference's 13 theme embeddings; threshold 0.3, top 3). */
  def q15MultilabelTag(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    val repW = Window.partitionBy(col("label")).orderBy(col("vec_id"))
    val reps = emb.withColumn("rn", row_number().over(repW))
      .filter(col("rn") === 1)
      .select(col("label").as("theme"), col("embedding").as("theme_vec"))
    ThemeTagger.tag(
      emb.select(col("vec_id"), col("embedding")), col("vec_id"), col("embedding"),
      reps, col("theme"), col("theme_vec"))
      // canonical string, not array<string>: the driver's pandas comparator
      // cannot hash numpy arrays, so array outputs are serialized on both
      // sides (same in the oracle SQL)
      .select(col("id").as("vec_id"),
        array_join(col("labels"), "|").as("labels"), col("n_labels"))
      .orderBy(col("vec_id"))
  }

  /** M5 — the composed query-side RAG search pipeline
    * (rag_search.py:14-74): exact top-15 L2 → adaptive elbow cut → row
    * lookup by id (join to documents) → result projection. One declared
    * query exercising W3+W5+J-lookup end-to-end. */
  def m05RagPipeline(s: SparkSession, d: String): DataFrame = {
    val cut = Elbow.cut(q13TopKL2(s, d), col("dist"), col("vec_id"))
    cut.join(documents(s, d), col("vec_id") === col("doc_id"))
      .select(col("rank"), col("vec_id"), col("dist"),
        substring(col("text"), 1, 120).as("chunk"), col("source"))
      .orderBy(col("rank"))
  }

  /** M6 — hybrid retrieval rerank: the vector stage recalls top-15 by L2
    * (q13), a lexical stage scores query-term overlap on the candidates'
    * text, and reciprocal-rank fusion (k=60, Cormack et al. 2009) merges
    * the two rankings — the standard dense+sparse hybrid pattern that a
    * cross-encoder rerank would slot into (swap `lex_score` for the model
    * score; everything else is unchanged).
    *
    * Scale: the expensive lexical/model scoring runs on 15 candidate rows,
    * never the corpus — recall is the ANN stage's job. The unpartitioned
    * rank windows operate on that post-limit candidate set only (same
    * bounded-window rationale as the elbow cut). */
  def m06RagRerank(s: SparkSession, d: String): DataFrame = {
    val qTerms = Seq("data", "model", "with", "value")
    val cands = q13TopKL2(s, d).withColumn("vec_rank",
      row_number().over(Window.orderBy(col("dist"), col("vec_id"))))
    val joined = cands.join(documents(s, d), col("vec_id") === col("doc_id"))
    val words = array_distinct(split(trim(lower(col("text"))), "\\s+"))
    val lex = size(array_intersect(words, array(qTerms.map(lit): _*)))
      .cast("double") / lit(qTerms.size.toDouble)
    joined
      .withColumn("lex_score", lex)
      .withColumn("lex_rank",
        row_number().over(Window.orderBy(col("lex_score").desc, col("vec_id"))))
      .withColumn("rrf", lit(1.0) / (lit(60.0) + col("vec_rank"))
        + lit(1.0) / (lit(60.0) + col("lex_rank")))
      .withColumn("final_rank",
        row_number().over(Window.orderBy(col("rrf").desc, col("vec_id"))).cast("long"))
      .filter(col("final_rank") <= 5)
      .select(col("final_rank"), col("vec_id"), col("rrf"), col("source"))
      .orderBy(col("final_rank"))
  }

  /** Q8 — lag/lead neighbor splice (rag_search.py:50-72 neighbor-chunk merge
    * re-expressed over (source, doc_id) ordering). */
  def q08NeighborSplice(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
    documents(s, d)
      .withColumn("prev_id", coalesce(lag(col("doc_id"), 1).over(w), lit(-1L)))
      .withColumn("next_id", coalesce(lead(col("doc_id"), 1).over(w), lit(-1L)))
      .withColumn("spliced", concat(
        coalesce(substring(lag(col("text"), 1).over(w), 1, 30), lit("")),
        lit(" >> "),
        substring(col("text"), 1, 60),
        lit(" << "),
        coalesce(substring(lead(col("text"), 1).over(w), 1, 30), lit(""))))
      .select(col("doc_id"), col("source"), col("prev_id"), col("next_id"), col("spliced"))
      .orderBy(col("doc_id"))
  }

  /** Q21a — fixed-stride chunk explode with per-doc count + checksum
    * (SQL-expressible chunking; the oracle mirrors the stride arithmetic). */
  def q21ChunkFixed(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .filter(length(col("text")) > 0)
      .select(col("doc_id"),
        explode(Chunker.fixedStrideChunkArray(col("text"))).as("chunk"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(length(col("chunk"))).as("total_chars"),
        min(length(col("chunk"))).cast("long").as("min_chunk"),
        max(length(col("chunk"))).cast("long").as("max_chunk"))
      .orderBy(col("doc_id"))

  /** Q21b — faithful recursive-separator chunker (LangChain
    * RecursiveCharacterTextSplitter semantics; process_text_chunks.py:39-60).
    * chunkSize 120 / overlap 30 so the test corpus (docs <= ~580 chars)
    * genuinely multi-chunks. The DuckDB oracle replays the greedy
    * merge-with-overlap loop exactly via a recursive CTE (the corpus is
    * single-space text, so the " " separator level is the whole algorithm);
    * general separator-recursion semantics are pinned by ChunkerSpec.
    */
  def q21ChunkRecursive(s: SparkSession, d: String): DataFrame =
    Chunker.explodeChunks(
      documents(s, d).filter(length(col("text")) > 0)
        .select(col("doc_id"), col("text"), col("lang"), col("source")),
      col("text"), chunkSize = 120, overlap = 30)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(length(col("chunk"))).as("total_chars"),
        max(length(col("chunk"))).cast("long").as("max_chunk"))
      .orderBy(col("doc_id"))

  val queries: Map[String, Q] = Map(
    "q08_neighbor_splice" -> q08NeighborSplice,
    "q13_topk_l2" -> q13TopKL2,
    "q13_topk_cosine" -> q13TopKCosine,
    "q14_elbow_cut" -> q14ElbowCut,
    "m05_rag_pipeline" -> m05RagPipeline,
    "m06_rag_rerank" -> m06RagRerank,
    "q15_multilabel_tag" -> q15MultilabelTag,
    "q21_chunk_fixed" -> q21ChunkFixed,
    "q21_chunk_recursive" -> q21ChunkRecursive)

  /** DuckDB L2 distance, a sequential fold in element order like
    * [[graft.plans.L2DistanceExpr]]. */
  private val l2AB =
    "sqrt(list_reduce(list_transform(list_zip(a.embedding, q.qv), p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) ** 2), (x, y) -> x + y))"

  private val topKL2Sql =
    s"""SELECT a.vec_id, $l2AB AS dist
        FROM embeddings a
        CROSS JOIN (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) q
        ORDER BY dist, a.vec_id LIMIT 15"""

  val oracle: Map[String, String] = Map(
    "q08_neighbor_splice" ->
      """SELECT doc_id, source,
                coalesce(lag(doc_id) OVER w, -1) AS prev_id,
                coalesce(lead(doc_id) OVER w, -1) AS next_id,
                coalesce(substr(lag(text) OVER w, 1, 30), '') || ' >> ' ||
                substr(text, 1, 60) || ' << ' ||
                coalesce(substr(lead(text) OVER w, 1, 30), '') AS spliced
         FROM documents
         WINDOW w AS (PARTITION BY source ORDER BY doc_id)
         ORDER BY doc_id""",
    "q13_topk_l2" -> topKL2Sql,
    "m06_rag_rerank" ->
      s"""WITH topk AS (
            SELECT vec_id, dist,
                   row_number() OVER (ORDER BY dist, vec_id) AS vec_rank
            FROM ($topKL2Sql) t
          ), j AS (
            SELECT t.vec_id, t.vec_rank, d.source,
                   CAST(len(list_intersect(
                     list_distinct(regexp_split_to_array(trim(lower(d.text)), '\\s+')),
                     ['data', 'model', 'with', 'value'])) AS DOUBLE) / 4.0 AS lex_score
            FROM topk t JOIN documents d ON t.vec_id = d.doc_id
          ), l AS (
            SELECT *, row_number() OVER (ORDER BY lex_score DESC, vec_id) AS lex_rank
            FROM j
          ), r AS (
            SELECT vec_id, source,
                   1.0 / (60.0 + vec_rank) + 1.0 / (60.0 + lex_rank) AS rrf
            FROM l
          )
          SELECT final_rank, vec_id, rrf, source FROM (
            SELECT *, row_number() OVER (ORDER BY rrf DESC, vec_id) AS final_rank
            FROM r) x
          WHERE final_rank <= 5 ORDER BY final_rank""",
    "q13_topk_cosine" ->
      s"""SELECT a.vec_id, ${cosSql("a.embedding", "q.qv")} AS score
          FROM embeddings a
          CROSS JOIN (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) q
          ORDER BY score DESC, a.vec_id LIMIT 5""",
    "q14_elbow_cut" ->
      s"""WITH topk AS (
            SELECT vec_id, dist, CAST(row_number() OVER (ORDER BY dist, vec_id) AS INTEGER) AS rank
            FROM ($topKL2Sql) t
          ), steps AS (
            SELECT *, lead(dist) OVER (ORDER BY rank) - dist AS step FROM topk
          ), thr AS (
            SELECT greatest(2.5 * median(step), 0.05) AS v FROM steps WHERE step IS NOT NULL
          ), cut AS (
            SELECT min(rank) AS rk FROM steps, thr WHERE step > thr.v
          )
          SELECT vec_id, dist, rank FROM topk, cut
          WHERE cut.rk IS NULL OR rank <= cut.rk
          ORDER BY rank""",
    "m05_rag_pipeline" ->
      s"""WITH topk AS (
            SELECT vec_id, dist, CAST(row_number() OVER (ORDER BY dist, vec_id) AS INTEGER) AS rank
            FROM ($topKL2Sql) t
          ), steps AS (
            SELECT *, lead(dist) OVER (ORDER BY rank) - dist AS step FROM topk
          ), thr AS (
            SELECT greatest(2.5 * median(step), 0.05) AS v FROM steps WHERE step IS NOT NULL
          ), cut AS (
            SELECT min(rank) AS rk FROM steps, thr WHERE step > thr.v
          ), kept AS (
            SELECT vec_id, dist, rank FROM topk, cut
            WHERE cut.rk IS NULL OR rank <= cut.rk
          )
          SELECT k.rank, k.vec_id, k.dist, substr(d.text, 1, 120) AS chunk, d.source
          FROM kept k JOIN documents d ON k.vec_id = d.doc_id
          ORDER BY k.rank""",
    "q15_multilabel_tag" ->
      s"""WITH reps AS (
            SELECT label AS theme, embedding AS qv FROM (
              SELECT label, embedding, row_number() OVER (PARTITION BY label ORDER BY vec_id) AS rn
              FROM embeddings) t WHERE rn = 1
          ), scored AS (
            SELECT a.vec_id, q.theme,
                   ${cosSql("a.embedding", "q.qv")} AS score
            FROM embeddings a CROSS JOIN reps q
          ), ranked AS (
            SELECT vec_id, theme, score,
                   row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, theme) AS rk
            FROM scored WHERE score > 0.3
          )
          SELECT vec_id, string_agg(theme, '|' ORDER BY rk) AS labels, count(*) AS n_labels
          FROM ranked WHERE rk <= 3
          GROUP BY vec_id ORDER BY vec_id""",
    // Exact replay of Chunker.recursiveSplit's greedy merge-with-overlap
    // (chunkSize 120, overlap 30) as a recursive CTE. State per doc =
    // (window start f, window char total); a flush emits the pending chunk
    // (trailing separator trimmed -> total - 1) and pops the front until the
    // overlap budget fits — the pop target new_f is the first index where
    // the remaining window is <= overlap AND the incoming split fits (or
    // the window empties), exactly the Scala while-loop's stop condition.
    "q21_chunk_recursive" ->
      """WITH RECURSIVE splits AS (
           SELECT doc_id,
                  list_transform(generate_series(1, len(w)),
                     i -> CASE WHEN i < len(w) THEN length(w[i]) + 1 ELSE length(w[i]) END) AS lens,
                  len(w) AS n
           FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents WHERE length(text) > 0) t
         ), steps AS (
           SELECT doc_id, lens, n, CAST(0 AS BIGINT) AS j, CAST(1 AS BIGINT) AS f,
                  CAST(0 AS BIGINT) AS total, CAST(NULL AS BIGINT) AS flushed
           FROM splits
           UNION ALL
           SELECT doc_id, lens, n, j + 1,
                  CASE WHEN do_flush THEN new_f ELSE f END,
                  CASE WHEN do_flush THEN coalesce(list_sum(lens[new_f : j]), 0) + lens[j + 1]
                       ELSE total + lens[j + 1] END,
                  CASE WHEN do_flush THEN total - 1 ELSE NULL END
           FROM (
             SELECT *,
                    (total + lens[j + 1] > 120 AND total > 0) AS do_flush,
                    list_min(list_filter(generate_series(f, j + 1), x ->
                      coalesce(list_sum(lens[x : j]), 0) <= 30 AND
                      (coalesce(list_sum(lens[x : j]), 0) + lens[j + 1] <= 120 OR x = j + 1))) AS new_f
             FROM steps WHERE j < n) s
         ), chunks AS (
           SELECT doc_id, flushed AS clen FROM steps WHERE flushed IS NOT NULL
           UNION ALL
           SELECT doc_id, total AS clen FROM steps WHERE j = n AND total > 0
         )
         SELECT doc_id, count(*) AS n_chunks,
                CAST(sum(clen) AS BIGINT) AS total_chars,
                CAST(max(clen) AS BIGINT) AS max_chunk
         FROM chunks GROUP BY doc_id ORDER BY doc_id""",
    "q21_chunk_fixed" ->
      """WITH chunks AS (
           SELECT doc_id, substr(text, 1 + 700 * g.i, 800) AS chunk
           FROM documents,
                LATERAL (SELECT unnest(generate_series(0,
                  CASE WHEN length(text) <= 800 THEN 0
                       ELSE CAST(ceil((length(text) - 800) / 700.0) AS INT) END)) AS i) g
           WHERE length(text) > 0
         )
         SELECT doc_id, count(*) AS n_chunks,
                CAST(sum(length(chunk)) AS BIGINT) AS total_chars,
                min(length(chunk)) AS min_chunk, max(length(chunk)) AS max_chunk
         FROM chunks GROUP BY doc_id ORDER BY doc_id""")
}
