package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming deduplication — the reference's dedupe (SURVEY A1) carried into
  * the incremental world (§7.5).
  *
  * When "drop repeats" is the whole requirement, Spark's built-in
  * streaming `dropDuplicates` (or `dropDuplicatesWithinWatermark`, for
  * bounded state) on the content hash is the whole job.
  * [[withDuplicateCounts]] is custom state via `flatMapGroupsWithState`
  * (the KeyValueGroupedDataset custom-state surface) for the per-key
  * bookkeeping the built-in can't express — here the reference's status
  * accounting (dedupe.py emits kept + duplicate counts): it emits each
  * first occurrence immediately and tracks how many duplicates each hash
  * has absorbed.
  *
  * State is partitioned by the hash — the same shuffle key as the batch
  * dedupe, so scale behavior is identical (hash-partitioned state store,
  * no skew beyond the data's own duplicate skew).
  */
object StreamingDedupe {

  final case class DedupeState(dupCount: Long)
  final case class DedupeEvent(hash: String, id: Long, firstSeen: Boolean,
      dupsSoFar: Long)

  /** Custom-state tier: (hash, id) stream → one event per arrival with
    * first-seen flag and the running duplicate count for its hash. */
  def withDuplicateCounts(spark: SparkSession,
      df: Dataset[(String, Long)]): Dataset[DedupeEvent] = {
    import spark.implicits._
    df.groupByKey(_._1)
      .flatMapGroupsWithState[DedupeState, DedupeEvent](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (hash, rows, state: GroupState[DedupeState]) =>
          val arrivals = rows.toSeq.sortBy(_._2)
          val prior = state.getOption
          val out = scala.collection.mutable.ArrayBuffer.empty[DedupeEvent]
          var dups = prior.map(_.dupCount).getOrElse(0L)
          var seen = prior.isDefined
          for ((_, id) <- arrivals) {
            if (!seen) { out += DedupeEvent(hash, id, firstSeen = true, dups); seen = true }
            else { dups += 1; out += DedupeEvent(hash, id, firstSeen = false, dups) }
          }
          state.update(DedupeState(dups))
          out.iterator
      }
  }
}
