package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Batch-parity streaming run helpers — see object doc below. */
private[graft] object TempDirs {
  /** Defer recursive deletion to JVM exit. The returned DataFrames are
    * `localCheckpoint(eager)`-materialized, but localCheckpoint blocks live
    * in NON-reliable block-manager storage: if one were evicted under
    * memory pressure, recompute would re-read the backing parquet — so the
    * backing dir must outlive the DataFrame, i.e. the session. Deleting at
    * exit instead of eagerly trades a few MB of /tmp for correctness under
    * pressure. Only the OUT parquet backs recompute — callers delete the
    * streaming checkpoint (offsets/state store) eagerly via [[dropNow]] so
    * repeated invocations in one JVM don't accumulate state-store files. */
  private val pending = new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]()
  private lazy val hook: Unit = {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      pending.forEach(graft.core.Fs.rmTree(_))
    }))
  }
  def deleteOnExit(dir: java.io.File): Unit = { hook; pending.add(dir); () }
  def dropNow(dir: java.io.File): Unit = graft.core.Fs.rmTree(dir)

  /** Scratch dir for streaming checkpoints/sinks, on tmpfs when available.
    * Checkpoint durability buys nothing for these run-to-completion parity
    * queries — the result parquet is re-derivable — so RAM-backed scratch
    * is the right trade; a production deployment with resume semantics
    * points the checkpoint at reliable storage instead. MEASURED at sf0.1:
    * tmpfs moved none of the ~2.5 s floor, and neither did the RocksDB
    * state store — the floor is microbatch orchestration (per-batch
    * planning + 32 state tasks × 2 batches × N stateful ops + query
    * start/stop), not checkpoint I/O. Kept for principle (and for hosts
    * where /tmp is slow), with the floor attribution corrected. */
  val root: java.nio.file.Path = {
    val shm = new java.io.File("/dev/shm")
    if (shm.isDirectory && shm.canWrite) shm.toPath
    else java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
  }
  def scratchDir(prefix: String): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory(root, prefix)
}

/** Batch-parity streaming run: one `Trigger.AvailableNow` pass of the
  * event-time windowed aggregation over a static event log, returning the
  * emitted (watermark-FINAL) windows as a batch DataFrame.
  *
  * Why the result is deterministic — and therefore a declared query the
  * DuckDB oracle can check: the source is a single parquet file, so batch 1
  * processes every row under watermark 0 (nothing is late, nothing emits);
  * the engine then runs its no-data flush microbatch with the advanced
  * watermark `max(event_time) - lateness`, which append-emits exactly the
  * windows with `window.end <= watermark`. The tail windows past the
  * watermark stay in (discarded) state — the same rows a live pipeline
  * would hold back as not-yet-final. So: emitted set == batch windows whose
  * end precedes the final watermark, expressible in plain SQL.
  *
  * Scale: the aggregation state is keyed by (window, event_type) and
  * bounded by the watermark horizon; at 100 TB/day the same plan runs
  * unchanged with a real trigger, and finality (append mode) is what makes
  * downstream incremental consumers safe (no partial-window rewrites).
  */
object StreamParity {

  /** The run-to-completion streaming conf: these parity queries start,
    * drain one AvailableNow pass and stop, so checkpoint RETENTION work is
    * pure overhead — keep one batch of metadata (minBatchesToRetain=1) and
    * push the state-store maintenance thread past the query's lifetime.
    * MEASURED at sf0.1: −0.2–0.3 s on the windowed-agg/session queries,
    * nothing on the stream-stream join (its floor is 2-sides × N state
    * tasks × 2 batches of microbatch orchestration, not retention I/O —
    * see TempDirs doc). Applied on a [[graft.core.GraftSession.sibling]]
    * session, never on the caller's: a session-wide shuffle-partitions
    * override would leak into batch queries planned concurrently on the
    * shared session. */
  private val RunToCompletion = Seq(
    "spark.sql.streaming.minBatchesToRetain" -> "1",
    "spark.sql.streaming.stateStore.maintenanceInterval" -> "600s",
    // State-store parallelism = shuffle partitions, FIXED at checkpoint
    // creation: every stateful operator opens/commits one store per
    // partition per micro-batch, so 32 partitions × 2 batches × N ops
    // is the orchestration floor the TempDirs doc attributes. Stateful
    // jobs size this to STATE VOLUME, not core count (the standard
    // Structured Streaming sizing rule — the setting is per-checkpoint
    // forever, so production picks it deliberately); these parity
    // queries hold thousands of keys, where 4 stores per op is plenty.
    // MEASURED at sf0.1 (BenchOne min-of-2): 32 -> 4 cut q52 6.3->2.5 s
    // (two sources x two stateful sides), q26 2.9->2.0, q36 2.9->2.2,
    // q42 3.0->2.2, q34 1.7->1.2; 2 partitions measured WORSE on q52
    // (3.0 — too little batch parallelism), so 4 is the measured knee.
    "spark.sql.shuffle.partitions" -> "4")

  /** Run `body` on a run-to-completion sibling session with a fresh
    * scratch dir and return its frame bound to the caller's `spark`, so
    * plans built on the result use the caller's conf, not the sibling's
    * 4 partitions. Afterwards the streaming checkpoint under `ckpt` is
    * dropped (state store — dead after the run) and the rest of the dir
    * is kept until JVM exit (TempDirs: it backs the returned frame). */
  private def runToCompletion(spark: SparkSession)(
      body: (SparkSession, java.nio.file.Path) => DataFrame): DataFrame = {
    val sess = graft.core.GraftSession.sibling(spark, RunToCompletion: _*)
    val tmp = TempDirs.scratchDir("graft-streamparity")
    try graft.core.Materialize.rebind(body(sess, tmp), spark)
    finally {
      TempDirs.dropNow(tmp.resolve("ckpt").toFile)
      TempDirs.deleteOnExit(tmp.toFile)
    }
  }

  /** Drain the stream `query` builds over the parquet at `path` with one
    * AvailableNow pass into an append-mode parquet sink, and return the
    * emitted rows as an eagerly checkpointed batch frame. `query` gets the
    * run session and a source factory (q52 opens two streams). */
  private def drain(spark: SparkSession, path: String)(
      query: (SparkSession, () => DataFrame) => DataFrame): DataFrame =
    runToCompletion(spark) { (sess, tmp) =>
      val out = tmp.resolve("out").toString
      val schema = sess.read.parquet(path).schema
      // the file source requires a directory (a bare file path throws
      // "basePath must be a directory"): stream the parent dir with a
      // pathGlobFilter on the EXACT filename, so unintended siblings
      // (events.parquet.bak, ...) can never leak into the batch
      val f = new java.io.File(path)
      val source = () => {
        val reader = sess.readStream.schema(schema)
        if (f.isFile) reader.option("pathGlobFilter", f.getName).parquet(f.getParent)
        else reader.parquet(path)
      }
      query(sess, source)
        .writeStream
        .outputMode("append") // FINAL rows only — aggregations need a watermark
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", tmp.resolve("ckpt").toString)
        .format("parquet")
        .start(out)
        .awaitTermination()
      // eager localCheckpoint materializes the result; the backing dir is
      // kept until JVM exit (TempDirs) so evicted blocks can recompute
      sess.read.parquet(out).localCheckpoint(true)
    }

  /** Hour-windowed per-type counts + min/max over `eventsPath`, 30-minute
    * watermark, only FINAL windows. `ts` is normalized to BIGINT nanos at
    * the source ([[graft.core.Tables.tsNanos]] — the physical type has
    * varied across data generations); converted via integral micros so the
    * Spark and oracle sides agree bit-for-bit (see q23). */
  def finalWindowCounts(spark: SparkSession, eventsPath: String,
      windowDur: String = "1 hour",
      lateness: String = "30 minutes"): DataFrame = drain(spark, eventsPath) { (_, source) =>
    graft.core.Tables.tsNanos(source())
      .withColumn("event_time", timestamp_micros(expr("ts DIV 1000")))
      .withWatermark("event_time", lateness)
      .groupBy(window(col("event_time"), windowDur), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        min(col("value")).as("min_value"), max(col("value")).as("max_value"))
      .select(unix_micros(col("window.start")).as("window_start_us"),
        col("event_type"), col("cnt"), col("min_value"), col("max_value"))
  }

  /** Native session windows streamed to completion: `session_window`
    * (gap-merged per user) + watermark, append mode, one AvailableNow
    * pass — the streaming twin of the q33 batch query.
    *
    * Finality: batch 1 runs under watermark 0 (emits nothing); the
    * no-data flush batch advances the watermark to max(event_time) -
    * lateness and append-emits exactly the sessions whose end
    * (last event + gap) precedes it. NOTE the watermark is held at
    * MILLISECOND granularity internally (event-time stats accumulate ms),
    * so the cut is `session_end_us <= (max_us DIV 1000 - lateness_ms) *
    * 1000` — the oracle must truncate the same way or boundary sessions
    * flip. Sessions still open at the final watermark stay in (discarded)
    * state, exactly as a live pipeline would hold them. */
  def finalSessions(spark: SparkSession, eventsPath: String): DataFrame = drain(spark, eventsPath) { (_, source) =>
    val gap = "30 minutes"; val lateness = "30 minutes" // fixed: the
    // duration projection below subtracts the gap as a literal
    graft.core.Tables.tsNanos(source())
      .withColumn("event_time", timestamp_micros(expr("ts DIV 1000")))
      .withWatermark("event_time", lateness)
      .groupBy(col("user_id"), session_window(col("event_time"), gap))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("session_start_us"),
        (unix_micros(col("session_window.end")) -
          unix_micros(col("session_window.start")) -
          lit(30L * 60 * 1000 * 1000)).as("duration_us"),
        col("n_events"))
  }

  /** Stream-STATIC join parity: the streaming event source equi-joined to
    * a batch-computed dimension (per-user first event time) BEFORE the
    * watermark windowed aggregation, run to completion with
    * `Trigger.AvailableNow` in append mode. This is the third streaming
    * join/agg class next to q26's plain agg and q34's custom state: the
    * static side is re-read per microbatch by the engine (here it is
    * deterministic), the watermark column originates on the stream side
    * and propagates through the join, and finality works exactly as in
    * [[finalWindowCounts]] — emitted set = batch windows whose end
    * precedes the final watermark.
    *
    * Scale: stream-static joins are how a 100 TB/day event stream enriches
    * against slowly-changing dimensions without stream-stream state; the
    * dim side broadcasts when small and the stream never buffers. */
  def staticJoinWindowCounts(spark: SparkSession, eventsPath: String): DataFrame = drain(spark, eventsPath) { (spark, source) =>
    val dim = graft.core.Tables.tsNanos(spark.read.parquet(eventsPath))
      .groupBy(col("user_id")).agg(min(col("ts")).as("first_ts"))
    graft.core.Tables.tsNanos(source())
      .withColumn("event_time", timestamp_micros(expr("ts DIV 1000")))
      .withWatermark("event_time", "30 minutes")
      .join(dim, Seq("user_id"))
      .groupBy(window(col("event_time"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        sum(when(col("ts") > col("first_ts"), 1L).otherwise(0L)).as("n_after_first"))
      .select(unix_micros(col("window.start")).as("window_start_us"),
        col("event_type"), col("cnt"), col("n_after_first"))
  }

  /** Stream-STREAM interval join parity: views and clicks each arrive as
    * their own watermarked stream; a click joins every view by the same
    * user in the preceding 30 minutes (equality key + both-sided
    * time-range predicate — exactly the condition class Spark needs to
    * bound join state and evict by watermark). Completes the streaming
    * matrix: plain agg (q26), custom state (q34), session windows (q36),
    * stream-static join (q42), stream-stream join (this).
    *
    * Determinism: both sides read the SAME single parquet file, so one
    * microbatch holds every row of both sides — each match forms within
    * that batch and inner-join append emits it; the watermark only evicts
    * state afterwards. The emitted set is therefore the complete batch
    * interval join, which is what the DuckDB oracle computes. At
    * production scale the identical plan runs with a real trigger: state
    * is bounded by the 30-minute range + watermark, so neither side
    * buffers unboundedly. */
  def streamStreamIntervalJoin(spark: SparkSession, eventsPath: String): DataFrame = drain(spark, eventsPath) { (_, source) =>
    val views = graft.core.Tables.tsNanos(source()).filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id"),
        timestamp_micros(expr("ts DIV 1000")).as("v_time"))
      .withWatermark("v_time", "30 minutes")
    val clicks = graft.core.Tables.tsNanos(source()).filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        timestamp_micros(expr("ts DIV 1000")).as("c_time"))
      .withWatermark("c_time", "30 minutes")
    views.join(clicks, expr(
        """user_id = c_user AND
          |c_time >= v_time AND c_time <= v_time + interval 30 minutes""".stripMargin))
      .select(col("view_id"), col("click_id"), col("user_id"),
        unix_micros(col("v_time")).as("view_us"),
        unix_micros(col("c_time")).as("click_us"))
  }

  /** Streaming dedupe-with-accounting run to completion over a static
    * document file: content fingerprints stream through
    * [[StreamingDedupe.withDuplicateCounts]] (`flatMapGroupsWithState`
    * custom state), emitting one event per arrival with the first-seen
    * flag and running duplicate count for its hash.
    *
    * Deterministic for the same single-file reason as
    * [[finalWindowCounts]]: one source file = one microbatch, so every
    * arrival of a hash lands in the same `flatMapGroupsWithState`
    * invocation, which sorts arrivals by id — the emitted
    * (first_seen, dups_so_far) sequence is then exactly the batch
    * row_number over (hash ORDER BY id), which is what the oracle pins. */
  def dedupeWithCounts(spark: SparkSession, docsPath: String): DataFrame = drain(spark, docsPath) { (spark, source) =>
    import spark.implicits._
    val pairs = source().select(
      graft.operators.TextAnalysis.fingerprint(col("text")).as("_1"),
      col("doc_id").as("_2")).as[(String, Long)]
    StreamingDedupe.withDuplicateCounts(spark, pairs).toDF()
  }

  /** foreachBatch INCREMENTAL UPSERT — the sixth streaming class: the
    * production CDC-sink pattern where each microbatch MERGEs its partial
    * state into a persistent target (Delta/Iceberg `MERGE INTO` in a real
    * deployment; here the merge itself, against a driver-held target
    * frame). The event log is pre-split into `nFiles` range files and
    * streamed ONE FILE PER TRIGGER, so the merge genuinely runs multiple
    * times — and the final target must equal the single-pass batch LWW
    * aggregate (q53) BY ALGEBRA, not by luck: per-batch partials are
    * (count, max-struct) and the merge combines them with (+, greatest) —
    * both associative and commutative, so ANY batch split or order gives
    * the same fixpoint. That associativity argument is exactly why the
    * same merge is safe on an out-of-order 100 TB changelog.
    *
    * Scale notes: each microbatch aggregates itself first (map-side
    * partials), so the merge joins target-keys × batch-keys, never raw
    * rows; the target re-keys on user_id every merge — in production the
    * target table is bucketed on the merge key so this join is
    * co-located and exchange-free (q43's layout argument). */
  def cdcMergeUpserts(spark: SparkSession, eventsPath: String,
      nFiles: Int = 4): DataFrame = runToCompletion(spark) { (spark, tmp) =>
    // The nFiles-way range split IS the source layout: a production
    // changelog arrives as files, it is not re-sharded per consumer.
    // Memoized per (path, nFiles) through ArtifactRegistry
    // so the split cost appears as an artifact:cdc_split line
    // item in the bench ledger instead of being re-paid by every
    // invocation of the query that reads it.
    val src = graft.core.ArtifactRegistry.cached(
      spark, (eventsPath, nFiles), "cdc_split") {
      val dir = TempDirs.scratchDir("graft-streamcdc-src").toString
      graft.core.Tables.tsNanos(spark.read.parquet(eventsPath))
        .repartitionByRange(nFiles, col("ts"), col("event_id"))
        .write.mode("overwrite").parquet(dir)
      TempDirs.deleteOnExit(new java.io.File(dir))
      dir
    }
    val schema = spark.read.parquet(src).schema
    var target: Option[DataFrame] = None
    spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
      .parquet(src)
      .writeStream
      .outputMode("update")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", tmp.resolve("ckpt").toString)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val upd = batch
          .select(col("user_id"), col("ts"), col("event_id"),
            col("event_type"), col("value"))
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_ops"),
            max(struct(col("ts"), col("event_id"), col("event_type"),
              col("value"))).as("m"))
        val merged = target match {
          case None => upd
          case Some(t) =>
            t.select(col("user_id"), col("n_ops").as("t_n"), col("m").as("t_m"))
              .join(upd.select(col("user_id"), col("n_ops").as("u_n"),
                col("m").as("u_m")), Seq("user_id"), "full_outer")
              .select(col("user_id"),
                (coalesce(col("t_n"), lit(0L)) + coalesce(col("u_n"), lit(0L)))
                  .as("n_ops"),
                when(col("u_m").isNull, col("t_m"))
                  .when(col("t_m").isNull, col("u_m"))
                  .otherwise(greatest(col("t_m"), col("u_m"))).as("m"))
        }
        // materialize the new target version before the old one is dropped
        target = Some(merged.localCheckpoint(true))
        ()
      }
      .start()
      .awaitTermination()
    target.getOrElse(sys.error("cdcMergeUpserts: no microbatch ran"))
  }
}
