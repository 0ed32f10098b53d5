package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, hash, lit, pmod}

/** Parquet sink helpers (SURVEY S2/S18/S19) with the layouts that matter at
  * 100 TB:
  *
  *  - [[writePartitioned]]: hive-style directory partitioning — readers
  *    prune whole directories on the partition predicate (partition pruning
  *    shows as `PartitionFilters` in the scan).
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

  def writePartitioned(df: DataFrame, path: String, byCols: Seq[String],
      mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).partitionBy(byCols: _*).parquet(path)

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

  def readTable(spark: SparkSession, name: String): DataFrame =
    spark.table(name)

  /** Small-file compaction — the table-maintenance pass every long-lived
    * lake table needs: streaming appends, per-trigger microbatches, and
    * over-parallel writers each leave files far below the ~128 MB row-group
    * sweet spot, and scan planning cost grows with FILE COUNT, not bytes
    * (footer reads + task scheduling dominate; at 100 TB a million 1 MB
    * files is an outage, the same bytes in 8k files is routine).
    *
    * Rewrites `path` so each output file targets `targetBytes` of ON-DISK
    * parquet: repartition count = ceil(current_bytes / target) — a
    * round-robin shuffle of the data once, then a two-rename directory swap
    * (write to sibling tmp, displace to `.compact-old`, publish tmp — the
    * S15 temp+rename discipline). Returns (files_before, files_after).
    * Content is preserved exactly (pinned by spec); ordering is not
    * (parquet directories carry no order contract).
    *
    * CONTRACT — swap atomicity and scope:
    *  - The swap is two renames, NOT one atomic operation: a reader racing
    *    the window between `dir→.compact-old` and `tmp→dir` sees no table,
    *    and a crash inside that window strands the data in `.compact-old`.
    *    The next `compact` run on the same path repairs that state (the
    *    recovery branch below restores `.compact-old` when `dir` is gone),
    *    so the window is crash-RECOVERABLE but not crash-INVISIBLE. Callers
    *    needing concurrent readers during compaction should publish a new
    *    path and flip a pointer instead.
    *  - `java.io.File` rename/list semantics hold on LOCAL filesystems
    *    only; object stores (s3a/gs) fake renames as copy+delete and this
    *    helper must not be pointed at them — there, compact to a fresh
    *    prefix and swap at the catalog/manifest layer.
    */
  def compact(spark: SparkSession, path: String,
      targetBytes: Long = 128L * 1024 * 1024): (Int, Int) = {
    val dir = new java.io.File(path)
    // Crash recovery: a previous run that died between its two renames left
    // the table at `.compact-old` and nothing at `path` — restore it first.
    val crashed = new java.io.File(dir.getParentFile, dir.getName + ".compact-old")
    if (!dir.exists() && crashed.exists()) {
      if (!crashed.renameTo(dir))
        sys.error(s"compact: cannot recover $crashed to $dir")
    }
    def dataFiles(d: java.io.File) =
      Option(d.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isFile && f.getName.endsWith(".parquet"))
    val before = dataFiles(dir)
    val totalBytes = before.map(_.length).sum
    val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    val tmp = new java.io.File(dir.getParentFile, dir.getName + ".compact-tmp")
    graft.core.Fs.rmTree(tmp)
    spark.read.parquet(path).repartition(nOut)
      .write.mode(SaveMode.Overwrite).parquet(tmp.getAbsolutePath)
    val old = new java.io.File(dir.getParentFile, dir.getName + ".compact-old")
    graft.core.Fs.rmTree(old)
    if (!dir.renameTo(old)) sys.error(s"compact: cannot displace $dir")
    if (!tmp.renameTo(dir)) { // restore on failure — never leave no table
      old.renameTo(dir); sys.error(s"compact: cannot publish $tmp")
    }
    graft.core.Fs.rmTree(old)
    (before.length, dataFiles(dir).length)
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

  // ------------------------------------------------- interchange formats

  /** ORC sink/scan — the columnar interchange format for Hive/Trino-side
    * consumers of this engine's outputs. Same pushdown class as parquet
    * (predicate + column pruning reach the ORC reader — pinned in spec),
    * so handing a table to an ORC-native warehouse costs a rewrite, not a
    * capability. Parquet stays the native format everywhere else. */
  def writeOrc(df: DataFrame, path: String,
      mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).orc(path)

  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** JSON-lines sink/scan — the STAGING/interchange format (one JSON object
    * per line: appendable, splittable, human-debuggable, the lingua franca
    * of crawl/annotation tooling). Deliberately NOT a query format: no
    * pushdown, no column pruning, 3–10× the bytes — land JSONL, convert to
    * parquet, query parquet (the reference's own convert-first posture).
    * Reads REQUIRE the caller's schema: schema inference is a full extra
    * pass at 100 TB and silently widens types on dirty data. */
  def writeJsonl(df: DataFrame, path: String,
      mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).json(path)

  def readJsonl(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** CSV EXPORT — the interchange-OUT direction of the reference's
    * convert-IN posture (S3/S4 read CSV; downstream spreadsheet/BI
    * consumers want it back). Header on, everything quoted-when-needed
    * with `"`-doubling escapes (RFC 4180), explicit empty-string vs null
    * disambiguation — the three places naive CSV round-trips silently
    * corrupt. Reads REQUIRE the caller's schema (same rule as JSONL:
    * inference is an extra full pass and widens dirty columns). */
  def writeCsv(df: DataFrame, path: String,
      mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode)
      .option("header", "true")
      .option("escape", "\"")   // RFC 4180 ""-doubling, not backslash
      .option("nullValue", "\\N") // the Hive/MySQL sentinel: null ≠ ""
      // the WRITER trims cell whitespace by default too — preserve bytes
      .option("ignoreLeadingWhiteSpace", "false")
      .option("ignoreTrailingWhiteSpace", "false")
      .csv(path)

  def readCsv(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema)
      .option("header", "true")
      .option("escape", "\"")
      // multiLine: quoted embedded newlines are record CONTENT, not record
      // separators. Costs file-splittability on read — export format, not
      // query format (same posture as JSONL).
      .option("multiLine", "true")
      .option("nullValue", "\\N") // only the sentinel is null; "" stays ""
      // Spark's CSV reader TRIMS cell whitespace by default — silent
      // corruption for an export format; preserve bytes exactly
      .option("ignoreLeadingWhiteSpace", "false")
      .option("ignoreTrailingWhiteSpace", "false")
      .csv(path)
}
