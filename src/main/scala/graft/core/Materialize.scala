package graft.core

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.classic.Dataset
import org.apache.spark.sql.functions.col

/** Partitioning-retaining materialization for iterative consumers.
  *
  * `Dataset.localCheckpoint` normally loses the frame's output
  * partitioning: under AQE the adaptive plan's partitioning is unknown at
  * checkpoint-creation time, so the LogicalRDD reports Unknown and every
  * downstream join/agg re-shuffles the checkpointed blocks — for the
  * graph family, one edge-sized exchange per iteration round
  * (MiningQueries.doubledEdgesFused note).
  *
  * The fix: take the eager checkpoint with AQE *briefly disabled*. The
  * non-adaptive physical plan ends in the explicit hash repartition, its
  * outputPartitioning is concrete, and Spark's LogicalRDD carries it —
  * so a consumer join or aggregate keyed on (a subset-compatible set of)
  * the same columns satisfies its ClusteredDistribution straight from the
  * checkpoint scan and inserts NO exchange (plan-pinned in MaterializeSpec:
  * a keyed agg over the checkpoint reads `Scan ExistingRDD` with no
  * Exchange above it).
  * This is the Spark-native analog of writing a bucketed index artifact:
  * shuffle the graph/edge table ONCE at build time, then every iteration
  * reads it in place.
  *
  * The AQE-off plan comes from [[staticCheckpoint]], which never writes
  * the session conf: a query planning concurrently on another thread in
  * the same session still plans adaptively.
  *
  * Scale note: at 100 TB this materialization is the persisted-index step
  * of an iterative job (PageRank/LPA/k-core all re-read the edge frame
  * per round); partitioning it on the round-join key once is strictly
  * less work than re-shuffling it every round, and `localCheckpoint`
  * blocks spill to executor disk via the block manager.
  */
object Materialize {

  /** Checkpoint `df` — eagerly, or lazily so the consumer's job runs it —
    * from a STATIC (non-adaptive) physical plan, with `overrides` applied
    * to the planning conf; the result is bound to `df`'s own session.
    *
    * Spark's adaptive-insertion rule reads the conf of the session that
    * owns the query, not the thread's `SQLConf.get`, so neither a
    * thread-local conf nor a toggle on the shared session can switch AQE
    * off for one query only (a toggle also switches it off for every
    * query planning on another thread meanwhile). The frame is therefore
    * planned in a [[GraftSession.sibling]] session carrying the
    * overrides. The shared session's conf is never written. */
  def staticCheckpoint(df: DataFrame, eager: Boolean,
      overrides: (String, String)*): DataFrame = {
    val sibling = GraftSession.sibling(df.sparkSession,
      ("spark.sql.adaptive.enabled" -> "false") +: overrides: _*)
    rebind(rebind(df, sibling).localCheckpoint(eager), df.sparkSession)
  }

  /** `df`'s analyzed plan as a frame owned by `spark`: every plan built on
    * the result (a downstream shuffle, a write) reads `spark`'s conf. */
  private[graft] def rebind(df: DataFrame, spark: SparkSession): DataFrame =
    new Dataset[Row](castToImpl(spark), df.queryExecution.analyzed, df.encoder)

  /** Hash-repartition `df` on `keys` and eagerly checkpoint it so the
    * result's HashPartitioning(keys, shufflePartitions) is retained. */
  def partitionedCheckpoint(df: DataFrame, keys: String*): DataFrame =
    staticCheckpoint(df.repartition(keys.map(col): _*), eager = true)

  /** Eager checkpoint retaining whatever partitioning `df`'s plan already
    * has (no extra repartition) — for frames that are ALREADY clustered,
    * e.g. an aggregate computed over a partitioned checkpoint: the agg
    * output inherits HashPartitioning(group keys) and a repartition on
    * top would insert a pointless exchange. */
  def checkpointRetainingPartitioning(df: DataFrame): DataFrame =
    staticCheckpoint(df, eager = true)

  /** Like [[partitionedCheckpoint]] but with `dropDuplicates(dedupeKeys)`
    * fused AFTER the repartition: HashPartitioning(keys) satisfies the
    * dedupe aggregate's ClusteredDistribution whenever keys ⊆ dedupeKeys,
    * so the dedupe inserts no second exchange and the checkpointed frame
    * keeps the keys partitioning — one shuffle buys dedupe + clustering. */
  def dedupedPartitionedCheckpoint(df: DataFrame, keys: Seq[String],
      dedupeKeys: Seq[String]): DataFrame = {
    require(keys.forall(dedupeKeys.contains),
      s"partition keys $keys must be a subset of dedupe keys $dedupeKeys " +
        "or the dedupe aggregate inserts its own exchange")
    staticCheckpoint(df.repartition(keys.map(col): _*).dropDuplicates(dedupeKeys), eager = true)
  }
}
