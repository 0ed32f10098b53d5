package graft

import graft.core.{ArtifactRegistry, GraftSession}
import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every declared query at SPARK_GRAFT_SF_DIR and
  * prints one JSON line. Each query executes to a noop sink so the full
  * plan runs (a bare count() would let Catalyst prune the very expressions
  * being measured). One warm-up pass primes the JVM/codegen caches so the
  * numbers measure the engine, not JIT warm-up; `codegen_compiles` in the
  * detail artifact counts the classes each pass compiled, so a timed pass
  * that recompiles shows there.
  *
  * Two totals are reported: `queries`/`isolated_sec` are sequential
  * per-query min-of-2 timings, while the headline `value` is the SUITE
  * WALL-CLOCK with the queries scheduled concurrently on one session (FAIR
  * scheduler). One-at-a-time execution leaves most cores idle between
  * jobs; concurrent scheduling is how this engine is deployed.
  */
object Bench {

  // measured at sf0.1 on local[32]: 4 threads 26s, 6 → 17s, 8 → 22s,
  // 16 → 64s (scheduler+GC contention)
  private val Threads = 6

  /** Sidecar path for the full-precision detail artifact. 32 cores keeps
    * the name of the committed artifact; any other core count gets a
    * suffixed file, so a low-core scaling run never overwrites it. */
  private[graft] def detailPath(cpus: Int): String =
    if (cpus == 32) "BENCH_DETAIL.json" else s"BENCH_DETAIL_c$cpus.json"

  /** Cumulative (stealJiffies, totalJiffies) from the aggregate `cpu`
    * line of /proc/stat. Total sums the first 8 fields (user..steal) —
    * guest/guest_nice are already included in user and would double-count.
    * (-1, -1) when unreadable (non-Linux): sentinel, never a throw. */
  private[graft] def stealStat(): (Long, Long) = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    val line = try src.getLines().find(_.startsWith("cpu ")).getOrElse("")
    finally src.close()
    val f = line.trim.split("\\s+").drop(1).map(_.toLong)
    if (f.length < 8) (-1L, -1L) else (f(7), f.take(8).sum)
  } catch { case _: Throwable => (-1L, -1L) }

  /** Percentage of all CPU time the host stole from this VM between two
    * [[stealStat]] samples; -1 on sentinel inputs or an empty interval.
    * It is the run's context field: nonzero steal means the shared host
    * could not back every vCPU, which inflates wall-clock with no code
    * change. A low reading does not show a quiet host: two runs with one
    * conf (sf0.01, local[4], 4-vCPU VM) read `isolated_sec` 89.3 and
    * 103.3 s at steal 2.6% and 1.8%. Only interleaved pairs of runs
    * separate host drift from a code change. */
  private[graft] def stealPct(before: (Long, Long), after: (Long, Long)): Double =
    if (before._1 < 0 || after._1 < 0 || after._2 <= before._2) -1.0
    else 100.0 * (after._1 - before._1) / (after._2 - before._2)

  /** Classes Spark's code generator has compiled in this JVM so far: one
    * per codegen cache miss. */
  private[graft] def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** The one session every pass, and [[BenchOne]], runs on: the
    * [[GraftSession]] defaults plus FAIR scheduling, shuffle compression
    * and the spill dir below. */
  private[graft] def buildSession(cpus: Int): SparkSession = {
    // Shuffle compression OFF: a local shuffle never crosses a network, so
    // per-block LZ4 framing is pure CPU on the critical path. Spill dir on
    // /dev/shm where the host has one. Each won the wall and the isolated
    // pass in one-context A/Bs at sf0.1 local[32] on a 4-vCPU host (wall
    // 99 vs 110 s and 84 vs 97 s). A network-bound cluster keeps
    // compression on and spills to real disks.
    val sess = GraftSession.builder("graft-bench", cpus)
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.shuffle.compress", "false")
      .config("spark.shuffle.spill.compress", "false")
      .config("spark.local.dir",
        if (new java.io.File("/dev/shm").isDirectory) "/dev/shm/graft-bench"
        else System.getProperty("java.io.tmpdir"))
      .getOrCreate()
    sess.sparkContext.setLogLevel("WARN")
    sess
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = buildSession(cpus)

    // Recorded from the LIVE session conf, not re-derived defaults, so the
    // audit field cannot disagree with the session it describes. A missing
    // key falls back to the JSON literal null: the numeric/boolean values
    // interpolate unquoted.
    // local_dir is the dir Spark writes to, read back from the driver's
    // files dir (<local dir>/spark-<uuid>/userFiles-<uuid>), not from
    // spark.local.dir, which SPARK_LOCAL_DIRS overrides.
    val config = {
      def g(k: String) = spark.conf.getOption(k).getOrElse("null")
      val localDir = Option(new java.io.File(org.apache.spark.SparkFiles.getRootDirectory())
        .getAbsoluteFile.getParentFile).map(_.getParent).getOrElse("null")
      s"""{"master":"${spark.sparkContext.master}",""" +
        s""""shuffle_partitions":${g("spark.sql.shuffle.partitions")},""" +
        s""""shuffle_compress":${g("spark.shuffle.compress")},""" +
        s""""local_dir":"$localDir",""" +
        s""""aqe":${g("spark.sql.adaptive.enabled")}}"""
    }

    def run(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit =
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()

    // ---- priming (published as prime_sec) ------------------------------
    // Every number that enters a ratio is measured WARM on both engines
    // (tools/time_oracle.py runs an untimed warm-up pass before its
    // min-of-2). Without priming, whichever artifact build ran first in the
    // fresh JVM absorbed the page-cache fill, parquet-footer reads and
    // write-path class loading. Priming is one noop scan per base table,
    // one 64-row parquet round-trip, and one 1k-row generate→shuffle→agg
    // so the first whole-stage compile's janino warm-up lands here.
    // Nothing query- or artifact-shaped is computed.
    val tPrime0 = System.nanoTime()
    val compiles0 = codegenCompiles
    Option(new java.io.File(sfDir).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      .foreach { f =>
        try spark.read.parquet(f.getAbsolutePath)
          .write.format("noop").mode("overwrite").save()
        catch { case _: Throwable => () }
      }
    try {
      val tmp = java.nio.file.Files.createTempDirectory("graft-prime")
      spark.range(64).selectExpr("id", "cast(id as string) AS s")
        .repartition(2).write.mode("overwrite").parquet(tmp.toString)
      spark.read.parquet(tmp.toString).write.format("noop").mode("overwrite").save()
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(tmp).iterator().asScala.toSeq.reverse
        .foreach(p => try java.nio.file.Files.delete(p) catch { case _: Throwable => () })
      spark.range(1000)
        .selectExpr("explode(split(repeat(concat('w', cast(id % 7 as string), ' '), 3), ' ')) AS w")
        .filter("length(w) > 0").groupBy("w").count()
        .write.format("noop").mode("overwrite").save()
    } catch { case _: Throwable => () }
    val primeSec = (System.nanoTime() - tPrime0) / 1e9
    val stealStart = stealStat()

    // Warm-up: every memoized artifact is built here, before the clock
    // starts, so the per-query isolated numbers are MARGINAL costs. The
    // build side is the ArtifactRegistry ledger, published as
    // artifact:<tag> items and charged by the with-builds ratio.
    ArtifactRegistry.resetTimings()
    // Sorted order pins which query triggers which build, so per-tag
    // ledger numbers do not depend on map-hash order.
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (_, fn) =>
      try run(fn) catch { case _: Throwable => () }
    }
    // First-build ledger: self time per tag, nested builds not double-counted.
    val artifactBuilds = ArtifactRegistry.buildSeconds
    val buildTotal = artifactBuilds.values.sum
    ArtifactRegistry.resetTimings()
    val compilesPrimed = codegenCompiles

    // Min-of-2 per query with a GC breather: a single pass is hostage to
    // GC pauses from whatever ran before.
    def timeOnce(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      System.gc()
      val t0 = System.nanoTime()
      val ok = try { run(fn); true } catch { case _: Throwable => false }
      if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
    }
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val a = timeOnce(fn)
      val b = timeOnce(fn)
      var sec = if (a < 0 || b < 0) -1.0 else math.min(a, b)
      // a slow min-of-2 is usually a host-noise double-hit: one more sample
      if (sec > 2.0) { val c = timeOnce(fn); if (c >= 0) sec = math.min(sec, c) }
      name -> sec
    }
    val total = results.map(_._2).filter(_ >= 0).sum
    val compilesIsolated = codegenCompiles

    // ---- DuckDB-oracle denominator -------------------------------------
    // ORACLE_TIMES.json (tools/time_oracle.py): min-of-2 DuckDB seconds per
    // query at the same SF. ratio_aggregate covers every query timed on
    // both engines; ratio_heavy_subset the queries where the oracle does
    // >= 0.5 s of work (plan quality, not scheduling floor). Flat-JSON
    // regex parse: no JSON library on the engine classpath.
    val oracleTimes: Map[String, Double] =
      try {
        val txt = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get("ORACLE_TIMES.json")))
        val re = """"([A-Za-z0-9_]+)":\s*(-?[0-9.]+)""".r
        re.findAllMatchIn(txt)
          .map(m => m.group(1) -> m.group(2).toDouble)
          .filter { case (k, v) => !k.startsWith("_") && v >= 0 }
          .toMap
      } catch { case _: Throwable => Map.empty }
    val sparkByName = results.toMap
    val both = oracleTimes.keys.filter(k => sparkByName.getOrElse(k, -1.0) >= 0).toSeq
    def ratio(keys: Seq[String], builds: Double = 0.0): Double = {
      val o = keys.map(oracleTimes).sum
      if (keys.isEmpty || o <= 0) -1.0 else (keys.map(sparkByName).sum + builds) / o
    }
    val ratioAgg = ratio(both)
    val heavy = both.filter(oracleTimes(_) >= 0.5)
    val ratioHeavy = ratio(heavy)
    // (Σ isolated + Σ first builds) / Σ oracle: DuckDB recomputes per
    // query, so this is the apples-to-apples aggregate and the 2× contract
    // holds on it too.
    val ratioAggWithBuilds = ratio(both, buildTotal)
    val oracleSumBoth = both.map(oracleTimes).sum

    // ---- concurrent suite pass -----------------------------------------
    // Longest-first (LPT) submission from the isolated timings: with a
    // fixed pool, a long pole landing last extends the makespan by its
    // whole runtime (alphabetical order measured 2× worse).
    val lptOrder = results.sortBy { case (_, sec) => -sec }.map(_._1)

    // Returns (wall, failedCount): a wall with failures did NOT do the full
    // suite's work, so it must never be reported as a fast "success".
    def suiteWallOnce(): (Double, Int) = {
      System.gc()
      val pool = java.util.concurrent.Executors.newFixedThreadPool(Threads)
      val t0 = System.nanoTime()
      val futures = lptOrder.map(SparkEntry.queries).map { fn =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = run(fn)
        })
      }
      var failed = 0
      futures.foreach(f => try f.get() catch { case _: Throwable => failed += 1 })
      pool.shutdown()
      ((System.nanoTime() - t0) / 1e9, failed)
    }
    val passes = Seq(suiteWallOnce(), suiteWallOnce())
    val compilesFields =
      s""""codegen_compiles":{"prime":${compilesPrimed - compiles0},""" +
        s""""isolated":${compilesIsolated - compilesPrimed},""" +
        s""""concurrent":${codegenCompiles - compilesIsolated}}"""
    val clean = passes.filter(_._2 == 0).map(_._1)
    // -1 sentinel (like the isolated pass) when no pass completed cleanly
    val wall = if (clean.nonEmpty) clean.min else -1.0
    val failedMax = passes.map(_._2).max
    val stealPctRun = stealPct(stealStart, stealStat())

    // ---- output --------------------------------------------------------
    // A consumer may keep only the last ~2000 chars of stdout, and sbt
    // prints a trailer after us. So full precision goes on a prefixed
    // detail line and a sidecar file, and THE json line is compact: 2
    // decimals, trailing zeros trimmed, and a hard length cap that drops
    // the fastest queries first ("omitted":n).
    def fmt(v: Double): String = {
      if (v < 0) "-1"
      else {
        val s = f"$v%.2f"
        val t = s.reverse.dropWhile(_ == '0').dropWhile(_ == '.').reverse
        if (t.isEmpty) "0" else t
      }
    }
    def fmt3(v: Double): String = if (v < 0) "-1" else f"$v%.3f"
    val detail = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val ratioFields =
      s""""ratio_aggregate":${fmt3(ratioAgg)},"ratio_heavy_subset":${fmt3(ratioHeavy)},""" +
        s""""oracle_n":${both.size},"oracle_heavy_n":${heavy.size},""" +
        s""""oracle_sec":${fmt3(oracleSumBoth)},""" +
        s""""oracle_heavy_sec":${fmt3(heavy.map(oracleTimes).sum)},""" +
        s""""spark_heavy_sec":${fmt3(heavy.map(sparkByName).sum)}"""
    val buildsJson = artifactBuilds.toSeq.sortBy(-_._2)
      .map { case (t, v) => "\"artifact:" + t + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val buildFields =
      s""""artifact_builds":$buildsJson,"build_total_sec":${fmt3(buildTotal)},""" +
        s""""prime_sec":${fmt3(primeSec)},""" +
        s""""ratio_aggregate_with_builds":${fmt3(ratioAggWithBuilds)}"""
    val detailJson =
      s"""{"wall":$wall,"threads":$Threads,"cpus":$cpus,"failed":$failedMax,"isolated_sec":$total,"steal_pct":${fmt3(stealPctRun)},$ratioFields,$buildFields,$compilesFields,"config":$config,"sf":"$sfDir","queries":$detail}"""
    println(s"BENCH_DETAIL $detailJson")
    val detailFile = detailPath(cpus)
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(detailFile), detailJson + "\n")
    catch { case _: Throwable => () } // bench result must survive a bad cwd

    val maxLine = 1800 // 2000-char tail - sbt trailer - safety margin
    def jsonLine(keep: Seq[(String, Double)]): String = {
      val qs = keep.sortBy(_._1).map { case (k, v) => "\"" + k + "\":" + fmt(v) }
        .mkString("{", ",", "}")
      val omit = results.size - keep.size
      val omitField = if (omit > 0) s""","omitted":$omit""" else ""
      s"""{"metric":"suite_wall_concurrent","value":${fmt(wall)},"unit":"sec","failed":$failedMax,"isolated_sec":${fmt(total)},"ratio_aggregate":${fmt3(ratioAgg)},"ratio_with_builds":${fmt3(ratioAggWithBuilds)},"steal_pct":${fmt3(stealPctRun)},"build_total_sec":${fmt(buildTotal)},"ratio_heavy_subset":${fmt3(ratioHeavy)},"oracle_sec":${fmt(oracleSumBoth)},"detail_file":"$detailFile"$omitField,"queries":$qs,"sf":"$sfDir"}"""
    }
    // the line carries the slowest 20; the sidecar has everything
    var keep = results.sortBy(-_._2).take(20)
    var line = jsonLine(keep)
    while (line.length > maxLine && keep.nonEmpty) {
      keep = keep.dropRight(1)
      line = jsonLine(keep)
    }
    // Stop Spark BEFORE printing: shutdown logs would otherwise race the
    // result line, which must be the process's last stdout write. A
    // throwing stop() must not take the computed result down with it.
    try spark.stop() catch { case _: Throwable => () }
    System.out.flush()
    println(line)
    System.out.flush()
  }
}
