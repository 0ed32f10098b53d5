package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Structured-Streaming incrementality (SURVEY §7.5).
  *
  * The reference is batch-only; its incrementality is Dagster sensors
  * polling for new dynamic partitions plus skip-if-exists bookkeeping
  * (definitions.py:35-71; assets/gov_uk/assets.py:93-95). The faithful
  * Spark analog is a file-source stream with `Trigger.AvailableNow`: each
  * invocation processes exactly the files that arrived since the last
  * checkpoint, then stops — the sensor's "fire when new partitions appear",
  * with the checkpoint as the exactly-once skip ledger.
  *
  * No watermarks/event-time aggregation: none exists in the reference; the
  * enrichment here is the stateless refine projection, so the stream is a
  * pure map — infinitely scalable, no state store growth.
  */
object FileStreamRefine {

  /** Start an AvailableNow run: landing dir → enriched parquet sink.
    * Returns the query; callers `awaitTermination()` — the trigger stops it
    * after draining the backlog. Re-invoking resumes from the checkpoint and
    * processes only new files (the skip-if-exists semantics). */
  def run(spark: SparkSession, landingDir: String, schema: StructType,
      outDir: String, checkpointDir: String): StreamingQuery =
    graft.refine.RefinePipeline.gateAndIdentify(
      spark.readStream
        .schema(schema)
        .option("maxFilesPerTrigger", 1000) // reference BATCH_SIZE analog
        .parquet(landingDir),
      col("text"))
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
}
