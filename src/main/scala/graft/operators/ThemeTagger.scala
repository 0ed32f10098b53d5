package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.plans.VectorExpressions._

/** Threshold + top-k multilabel assignment against a small label-vector set.
  *
  * Reference: resources/embedding/eu_theme_classifier.py:23-47 — cosine of
  * each document embedding vs 13 fixed theme embeddings; keep scores above
  * 0.3; take the top 3 labels, ordered by score descending.
  *
  * Scale design: the label side is tiny and broadcast; the corpus side is
  * scanned once; ranking partitions by doc id (already the natural
  * distribution key). The ordered label list is built with the
  * sort_array-of-structs idiom so it is deterministic under parallel
  * aggregation (collect_list alone gives no ordering guarantee).
  */
object ThemeTagger {

  val DefaultThreshold = 0.3
  val DefaultMaxTags = 3

  /** @param docs   (docId, docVec) corpus
    * @param themes small DataFrame (label, themeVec) — broadcast
    * @return (docId-named column, labels array<label-type> ordered by score
    *         desc then label asc, n_labels) — docs with no label above the
    *         threshold are absent (inner semantics).
    */
  def tag(docs: DataFrame, docId: Column, docVec: Column,
      themes: DataFrame, label: Column, themeVec: Column,
      threshold: Double = DefaultThreshold,
      maxTags: Int = DefaultMaxTags): DataFrame = {
    val scored = docs.crossJoin(broadcast(themes))
      .select(docId.as("id"),
        label.as("label"),
        cosineSim(docVec, themeVec).as("score"))
      .filter(col("score") > threshold)
    val w = Window.partitionBy(col("id"))
      .orderBy(col("score").desc, col("label"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= maxTags)
      .groupBy(col("id"))
      .agg(transform(
        sort_array(collect_list(struct(col("rk"), col("label")))),
        x => x.getField("label")).as("labels"),
        count(lit(1)).as("n_labels"))
  }
}
