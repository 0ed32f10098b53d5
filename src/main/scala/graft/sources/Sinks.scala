package graft.sources

import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, hash, lit, pmod}

/** Parquet sink helpers (SURVEY S2/S18/S19):
  *
  *  - [[writeBucketed]]: pre-shuffled bucket layout — two tables bucketed by
  *    the same key join WITHOUT a shuffle (SortMergeJoin with no Exchange),
  *    the co-located-join strategy for repeated large joins (q43).
  *  - [[writeVectorTable]]: the FAISS/LanceDB-sink analog — a plain parquet
  *    table of (id, vector [, payload...]) rows, sorted by id within each
  *    file; exact search is a scan (W3/W4), ANN is the LSH path (s02). The
  *    reference's `num_partitions=256` (create_lancedb_index.py:138-148) is
  *    the IVF centroid count of its index, not a file layout: here it is
  *    `nPartitions` of [[graft.operators.Similarity.buildIvfIndex]].
  */
object Sinks {

  /** Bucketed table: `nBuckets` buckets on `byCol`, each bucket one file
    * sorted by `byCol`. Bucket metadata lives in the table catalog; `name`
    * lands in the session's warehouse dir. */
  def writeBucketed(df: DataFrame, name: String, byCol: String,
      nBuckets: Int): Unit = {
    // Each bucket lives in one task, written as one sorted file: rows go to
    // task (bucket id mod k), k = min(buckets, cores). This uses
    // repartitionById, not repartition(k, col): the planner drops that as
    // redundant over input already hashed k ways, scattering the buckets.
    val bucketId = pmod(hash(col(byCol)), lit(nBuckets))
    val spark = df.sparkSession
    val aligned = df.repartitionById(
      math.min(nBuckets, spark.sparkContext.defaultParallelism), bucketId)
    replaceTable(spark, aligned.write.bucketBy(nBuckets, byCol).sortBy(byCol), name)
  }

  /** Vector table: a plain parquet table `name`, one file per partition of
    * `df` (AQE coalesces shuffle partitions by bytes). Ids ascend within each
    * file, so parquet's min/max statistics prune id lookups. */
  def writeVectorTable(df: DataFrame, name: String, idCol: String): Unit =
    replaceTable(df.sparkSession, df.sortWithinPartitions(idCol).write, name)

  /** The in-memory catalog forgets tables across JVMs but their warehouse
    * directories persist, and `saveAsTable` refuses to reuse an orphaned
    * location (LOCATION_ALREADY_EXISTS) — so drop the table AND clear any
    * stale location before writing. */
  private def replaceTable(spark: SparkSession, w: DataFrameWriter[Row],
      name: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS `$name`")
    val warehouse = spark.conf.get("spark.sql.warehouse.dir")
    val dir = new java.io.File(
      if (warehouse.startsWith("file:")) new java.net.URI(warehouse).getPath
      else warehouse, name)
    if (dir.exists()) graft.core.Fs.rmTree(dir)
    w.mode(SaveMode.Overwrite).format("parquet").saveAsTable(name)
  }

  /** 256-way id-prefix sharded layout (SURVEY S20-adjacent: the reference's
    * HF structured-upload sharding, assets/processing/assets.py:354-361 —
    * subdirs by identifier[0:2] to keep any directory under ~10k files).
    * With content-hash identifiers the prefix is uniform, so shards balance.
    */
  def writeSharded(df: DataFrame, path: String, idCol: String): Unit = {
    import org.apache.spark.sql.functions._
    df.withColumn("shard", substring(col(idCol), 1, 2))
      .write.mode(SaveMode.Overwrite).partitionBy("shard").parquet(path)
  }
}
