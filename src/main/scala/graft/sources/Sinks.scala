package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions.{col, hash, lit, pmod}

/** Parquet sink helpers (SURVEY S2/S18/S19) with the layouts that matter at
  * 100 TB:
  *
  *  - [[writeBucketed]]: pre-shuffled bucket layout — two tables bucketed by
  *    the same key join WITHOUT a shuffle (SortMergeJoin with no Exchange),
  *    the co-located-join strategy for repeated large joins.
  *  - [[writeVectorTable]]: the FAISS/LanceDB-sink analog — (id, vector)
  *    parquet bucketed by id and sorted by id within each bucket; exact
  *    search is a scan (W3/W4), ANN is the LSH path (s02). Index params
  *    from the reference (create_lancedb_index.py:138-148) become table
  *    properties in the file layout (bucket count ≙ num_partitions).
  */
object Sinks {

  /** Bucketed write goes through the table catalog (bucket metadata lives
    * there); `name` lands in the session's warehouse dir.
    *
    * The in-memory catalog forgets tables across JVMs but their warehouse
    * directories persist, and `saveAsTable` refuses to reuse an orphaned
    * location (LOCATION_ALREADY_EXISTS) — so drop the table AND clear any
    * stale location before writing. */
  def writeBucketed(df: DataFrame, name: String, byCol: String,
      nBuckets: Int, sortCol: Option[String] = None): Unit = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS `$name`")
    val warehouse = spark.conf.get("spark.sql.warehouse.dir")
    val dir = new java.io.File(
      if (warehouse.startsWith("file:")) new java.net.URI(warehouse).getPath
      else warehouse, name)
    if (dir.exists()) graft.core.Fs.rmTree(dir)
    // Each bucket lives in one task, written as one file sorted by sortCol:
    // rows go to task (bucket id mod k), k = min(buckets, cores). This uses
    // repartitionById, not repartition(k, col): the planner drops that as
    // redundant over input already hashed k ways, scattering the buckets.
    val bucketId = pmod(hash(col(byCol)), lit(nBuckets))
    val aligned = df.repartitionById(
      math.min(nBuckets, spark.sparkContext.defaultParallelism), bucketId)
    val w = aligned.write.mode(SaveMode.Overwrite).format("parquet")
      .bucketBy(nBuckets, byCol)
    sortCol.fold(w)(c => w.sortBy(c)).saveAsTable(name)
  }

  /** Vector table sink: (id, vector [, payload...]) parquet bucketed by id
    * so downstream id-lookups and self-joins co-locate. 256 buckets mirrors
    * the reference's IVF num_partitions=256. */
  def writeVectorTable(df: DataFrame, name: String, idCol: String,
      nBuckets: Int = 256): Unit =
    writeBucketed(df, name, idCol, nBuckets, sortCol = Some(idCol))

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
