package graft.refine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.operators.{Dedupe, TextAnalysis}

/** The reference's central `processing_pipeline` lifecycle (SURVEY §3.1;
  * assets/processing/assets.py) re-expressed as one declarative DataFrame
  * chain:
  *
  *   dedupe → format/enrich (add_dataset_record) → aggregate → tag →
  *   anonymize
  *
  * Stage semantics preserved:
  *  - dedupe: first-wins by content hash, deterministic order
  *    (dedupe.py:31-107; we pin to an explicit order column, SURVEY §7.6);
  *  - length gate: text >= MinTextLength chars kept (assets.py:38,199-203);
  *  - enrichment: identifier from content hash (reproducible stand-in for
  *    uuid4, SURVEY §7.6), word_count (assets.py:291), token_count
  *    (token_counter.py), license map (assets.py:299-315), language
  *    fallback chain (assets.py:318-327);
  *  - tag merge-back: left join + coalesce keeps existing tags where no
  *    prediction exists (assets.py:543-558);
  *  - anonymize: email/phone masking with the skip guard (anonymizer.py).
  *
  * The reference materializes each stage to parquet for restartability; at
  * scale the same effect is `checkpoint`/write-then-read at the same five
  * points, left to the caller — the chain itself is lazy and fuses into a
  * minimal number of shuffles (one for the dedupe window, one per join).
  */
object RefinePipeline {

  val MinTextLength = 200

  /** Stage 1 — content dedupe, first-wins by `order` (SURVEY A1). */
  def dedupe(df: DataFrame, text: Column, order: Column): DataFrame =
    Dedupe.exactFirstWins(df, sha2(text, 256), order)

  /** Stage 2 — format gate + record enrichment (SURVEY P2, A6, A7, F3, F14). */
  def enrich(df: DataFrame, text: Column, lang: Column, license: Column): DataFrame =
    gateAndIdentify(df, text)
      .withColumn("license", TextFunctions.licenseNormalize(license))
      .withColumn("lang_final",
        coalesce(when(length(lang) === 0, lit(null)).otherwise(lang), lit("en")))

  /** The length gate plus the identifier, word_count and token_count
    * columns — the stateless part of [[enrich]] that the file stream
    * ([[graft.streaming.FileStreamRefine.run]]) applies too. */
  def gateAndIdentify(df: DataFrame, text: Column): DataFrame =
    df.filter(length(text) >= MinTextLength)
      .withColumn("identifier", sha2(text, 256))
      .withColumn("word_count", TextFunctions.wordCount(text))
      .withColumn("token_count", TextAnalysis.tokenCount(text))

  /** Stage 4 — prediction merge-back (SURVEY J1): left join on the key,
    * coalesce predictions with existing tags. `preds(key, pred)` is expected
    * to be small → broadcast. */
  def mergeTags(df: DataFrame, key: Column, existing: Column,
      preds: DataFrame): DataFrame =
    df.join(broadcast(preds), key === preds("key"), "left")
      .withColumn("tags", coalesce(col("pred"), existing))
      .drop("key", "pred")

  /** Stage 5 — PII anonymization (SURVEY M4). */
  def anonymize(df: DataFrame, text: Column): DataFrame =
    df.withColumn("anon_text", Anonymizer.anonymize(text))
}
