package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Canonical accessors for the test-fixture star schema
  * (`/root/testdata/sf*`; see TESTDATA.md / FIXTURES.md §A).
  *
  * All engine operators take DataFrames, not paths — these helpers exist so
  * query definitions stay terse. At production scale the same operators run
  * over arbitrary `spark.read.parquet` inputs; nothing below hard-codes a
  * scale factor.
  */
object Tables {

  /** Fan a fixture file out across the cores.
    *
    * The driver-generated test parquet has ONE row group per table, and a
    * row group is read by exactly one scan split however many splits
    * maxPartitionBytes cuts the file into (sf0.1's 10.8 MB lineitem scans
    * as 3 splits at local[4], and only one of them holds rows). Everything
    * up to the first exchange (explode, hash, decimal agg, broadcast probe)
    * would run on one core; one cheap round-robin exchange right after the
    * scan restores parallelism. The decision is made from the file size
    * alone: small dimension files stay as-is so they remain obvious
    * broadcast candidates.
    */
  private def parallelize(spark: SparkSession, df: DataFrame, bytes: Long): DataFrame =
    if (bytes > 512 * 1024) df.repartition(spark.sparkContext.defaultParallelism)
    else df

  /** One fixture table, fanned out by [[parallelize]]. `Tables` reads
    * only the single-row-group fixtures; a multi-row-group input is read
    * with `spark.read.parquet` directly and parallelizes natively. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val df = spark.read.parquet(path)
    parallelize(spark, df, new java.io.File(path).length)
  }

  /** Scan WITHOUT the [[parallelize]] round-robin fan-out — for consumers
    * whose FIRST operation is already a shuffle (a join or aggregate on a
    * fact-table key). For those plans the fan-out exchange is pure waste:
    * the shuffle right after it re-distributes everything anyway, and the
    * pre-shuffle work is a narrow projection a single core finishes in
    * tens of milliseconds at fixture scale (measured: the co-purchase
    * pair join costs 0.7 s from a raw scan vs 1.6 s
    * through the fan-out). Keep [[table]] for consumers with heavy
    * narrow work (hashing, explode, vector math) before the first
    * exchange. Like [[table]], this reads only the single-row-group
    * fixtures. */
  def tableRaw(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Normalize an events-shaped `ts` column to BIGINT epoch NANOSECONDS.
    *
    * Driver data generations have shipped `ts` as INT64 TIMESTAMP(NANOS)
    * (readable only as long nanos via `nanosAsLong`) and as
    * TIMESTAMP(MICROS) (read as TIMESTAMP_NTZ). Every engine operator is
    * written against the BIGINT-nanos contract (`ts DIV 1000` → micros),
    * so this single projection at the scan absorbs the physical-type
    * difference — a narrow per-row cast that leaves column pruning and
    * predicate pushdown on the remaining columns intact. The NTZ→LTZ cast
    * is exact because every engine session pins UTC. */
  def tsNanos(df: DataFrame): DataFrame = df.schema("ts").dataType match {
    case org.apache.spark.sql.types.LongType => df
    case _ => df.withColumn("ts",
      org.apache.spark.sql.functions.unix_micros(
        org.apache.spark.sql.functions.col("ts").cast("timestamp")) * 1000L)
  }

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame    = tsNanos(table(s, d, "events"))
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}

/** The engine's one SparkSession factory: tests, Verify, Explain, Bench,
  * BenchOne and the benchmark harness all build their sessions here, so
  * every entry point plans with the same config.
  *
  * Defaults: `local[cpus]` with shuffle partitions sized to `cpus`
  * (`SPARK_GRAFT_CPUS`, else 32), AQE on (runtime coalesce + skew-join),
  * Spark's default broadcast threshold so dimension tables broadcast, UTC,
  * [[graft.plans.GraftExtensions]] always registered, and a codegen cache
  * of [[CodegenCacheEntries]] classes. Callers add
  * mode-specific settings on the returned builder. Static (non-adaptive)
  * planning is per frame through [[Materialize.staticCheckpoint]], never a
  * session setting.
  */
object GraftSession {
  /** A session that plans with `spark`'s SQL conf plus `overrides`,
    * without writing `spark`'s conf: `newSession()` (same SparkContext,
    * shared state and extensions) carrying a copy of the caller's runtime
    * SQL conf with the overrides applied on top. Bench's concurrent pass
    * runs every query on one shared session, so a set/restore on it would
    * leak into queries planning on other threads meanwhile, and two
    * overlapping callers could race the restore. */
  def sibling(spark: SparkSession,
      overrides: (String, String)*): org.apache.spark.sql.classic.SparkSession = {
    val caller = org.apache.spark.sql.classic.ClassicConversions.castToImpl(spark)
    val sib = caller.newSession()
    val conf = sib.sessionState.conf
    (caller.sessionState.conf.getAllConfs ++ overrides).foreach {
      case (k, v) => conf.setConfString(k, v)
    }
    sib
  }

  /** `spark.sql.codegen.cache.maxEntries` (static; Spark's default is 100).
    * One full-catalog pass needs about 4,050 keys of this 4-segment LRU, so
    * at 100 a warm pass recompiles what its set-up pass compiled. The cache
    * is JVM-global and sized from the first session's conf. */
  val CodegenCacheEntries = 5000

  def builder(appName: String = "graft",
      cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt): SparkSession.Builder =
    SparkSession.builder()
      .appName(appName)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // events.parquet carries TIMESTAMP(NANOS) which vanilla Spark 4 refuses;
      // read as long nanos and convert explicitly where event-time is needed.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
}
