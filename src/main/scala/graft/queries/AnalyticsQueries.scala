package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.core.Tables._
import Shared.dec
import graft.operators.{Multimodal, RangeJoin}

/** Analytics surface: grouping-sets/cube profiling, interval join,
  * per-group top-k, pivot, and the multimodal frame-sampling generator —
  * each a declared query with a DuckDB oracle (same design rules as
  * [[CoreQueries]]: deterministic order, exact decimal money math).
  */
object AnalyticsQueries {
  type Q = (SparkSession, String) => DataFrame

  /** Q27 — CUBE + grouping_id: all four grouping sets of
    * (returnflag, linestatus) in one pass (SURVEY A9 completed beyond
    * q11's ROLLUP). Spark plans a single Expand + hash aggregate — one
    * shuffle regardless of how many sets, which is why CUBE beats N
    * separate group-bys at scale. `gid` disambiguates data-nulls from
    * subtotal-nulls (first grouping column = most significant bit — the
    * SQL-standard convention DuckDB shares). */
  def q27Cube(s: SparkSession, d: String): DataFrame =
    // Measured rejection: pre-aggregating to (rf, ls, orderkey)
    // before the cube (smaller Expand input) was 1.93-2.28 s vs this
    // shape's 1.56-1.78 min-of-2 at sf0.1 — the extra triple-keyed
    // exchange costs more than the Expand rows it saves (the distinct
    // triple is ~comparable to lineitem here). Second rejection:
    // hierarchical rollup (distinct-triple base checkpoint + the four
    // grouping sets as separate small aggs, no Expand at all) verified
    // identical and measured 1.80-2.01 s at 13 jobs vs this shape's
    // 1.55-1.82 at 7 — the per-branch job floors cost more than the
    // Expand's two-phase distinct exchange. Single Expand kept; at
    // 100 TB the trade flips ONLY if the distinct exchange spills, and
    // AQE's coalescing handles that without a shape change.
    lineitem(s, d)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
        countDistinct(col("l_orderkey")).as("n_orders"),
        count(lit(1)).as("cnt"),
        grouping_id().as("gid"))
      .orderBy(col("gid"), col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)

  /** Q28 — interval join ([[RangeJoin]]): for each error event, count and
    * max-value of the same user's clicks in the preceding 5 minutes.
    * Planned as the custom sort-merge interval exec
    * ([[graft.plans.RangeJoinExec]] — one key shuffle per side, sliding
    * window buffer), never a per-key cross join. Times in microseconds
    * (ts is TIMESTAMP(NANOS) longs under nanosAsLong; DuckDB timestamps
    * are micros — see q23). */
  def q28RangeJoin(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).withColumn("t_us", expr("ts DIV 1000"))
    val errors = ev.filter(col("event_type") === "error")
      .select(col("event_id"), col("user_id"), col("t_us"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("t_us"), col("value"))
    RangeJoin.aggregateWithin(errors, clicks, "user_id", "t_us",
        lookback = 5L * 60 * 1000 * 1000, rightPayload = Seq("value"),
        aggs = Seq(
          count(col("r_value")).as("n_clicks"),
          coalesce(max(col("r_value")), lit(-1.0)).as("max_click_value")))
      .select(col("event_id"), col("n_clicks"), col("max_click_value"))
      .orderBy(col("event_id"))
  }

  /** Q29 — top-k per group: each customer's 3 highest-value orders.
    * Spark 4 plans the rank-filter pattern as WindowGroupLimit (per-
    * partition top-k heaps BEFORE the shuffle — pinned in PlanShapeSpec),
    * so the full sort never materializes at scale. */
  def q29GroupTopK(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    orders(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("o_custkey"), col("rn"), col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_custkey"), col("rn"))
  }

  /** Q30 — pivot: per-returnflag counts and exact decimal quantity sums
    * spread across linestatus columns (Spark's relational pivot = one
    * group-by with conditional aggregation — a single shuffle; the
    * explicit value list keeps the plan static, no discovery pass). */
  def q30Pivot(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(count(lit(1)).as("cnt"), sum(dec(col("l_quantity"))).cast("double").as("qty"))
      .select(col("l_returnflag"),
        coalesce(col("F_cnt"), lit(0L)).as("cnt_f"), col("F_qty").as("qty_f"),
        coalesce(col("O_cnt"), lit(0L)).as("cnt_o"), col("O_qty").as("qty_o"))
      .orderBy(col("l_returnflag"))

  /** Q63 — UNPIVOT (melt): q30's inverse — the four lineitem measures
    * rotate into (measure, value) rows, then one per-measure profile
    * (count / exact decimal sum / min / max). Spark plans `unpivot` as an
    * Expand projection — rows×measures emitted map-side with NO shuffle
    * until the aggregate, the same one-pass shape as q27's CUBE, where a
    * UNION-of-4-scans formulation reads the table four times. Sums stay
    * in DecimalType until the final cast (the q27/q30 money discipline —
    * an unordered double sum can never hash-match; per-returnflag decimal
    * quantities ~1.5e6 at sf0.1 sit far inside Decimal(12,2)). */
  def q63Unpivot(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .select(col("l_returnflag"), dec(col("l_quantity")).as("l_quantity"),
        dec(col("l_extendedprice")).as("l_extendedprice"),
        dec(col("l_discount")).as("l_discount"), dec(col("l_tax")).as("l_tax"))
      .unpivot(Array(col("l_returnflag")),
        Array(col("l_quantity"), col("l_extendedprice"),
          col("l_discount"), col("l_tax")),
        "measure", "v")
      .groupBy(col("l_returnflag"), col("measure"))
      .agg(count(lit(1)).as("n"),
        sum(col("v")).cast("double").as("total"),
        min(col("v")).cast("double").as("min_v"),
        max(col("v")).cast("double").as("max_v"))
      .orderBy(col("l_returnflag"), col("measure"))

  /** Q31 — tolerance-banded backward as-of join: each error event picks
    * the latest preceding click by the same user ONLY if it happened
    * within the last 10 minutes ([[graft.operators.AsofJoin]] with a
    * tolerance — the carried match-time makes the band check a free
    * post-projection on the single-shuffle window plan). */
  def q31AsofTolerance(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    val errors = ev.filter(col("event_type") === "error")
      .select(col("event_id"), col("user_id"), col("ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts"), col("value"))
    graft.operators.AsofJoin.backward(errors, clicks, "user_id", "ts",
        Seq("click_id", "value"), rightTieBreak = "click_id",
        tolerance = Some(10L * 60 * 1000 * 1000 * 1000)) // 10 min in nanos
      .select(col("event_id"),
        coalesce(col("asof_click_id"), lit(-1L)).as("matched_click_id"),
        coalesce(col("asof_value"), lit(-1.0)).as("matched_value"))
      .orderBy(col("event_id"))
  }

  /** Q66 — LAST-TOUCH REVENUE ATTRIBUTION: every purchase is credited to
    * the most recent view/click/signup by the same user within 6 hours —
    * the canonical marketing-attribution query, composed from
    * [[graft.operators.AsofJoin.backward]] with a tolerance band (one
    * union-shuffle-window pass; touches never multiply per purchase —
    * q39's funnel counts paths, this routes MONEY, so the single-match
    * as-of contract is the point). Purchases with no in-band touch land
    * in 'unattributed'. Revenue sums in DECIMAL (order-invariant), tie
    * on equal timestamps broken by largest touch id (the documented
    * backward contract), mirrored exactly in the oracle's row_number. */
  def q66Attribution(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    val touches = ev.filter(col("event_type").isin("view", "click", "signup"))
      .select(col("event_id").as("touch_id"), col("user_id"), col("ts"),
        col("event_type").as("channel"))
    graft.operators.AsofJoin.backward(purchases, touches, "user_id", "ts",
        Seq("channel"), rightTieBreak = "touch_id",
        tolerance = Some(6L * 3600 * 1000 * 1000 * 1000)) // 6 h in nanos
      .select(coalesce(col("asof_channel"), lit("unattributed")).as("channel"),
        col("value"))
      .groupBy(col("channel"))
      .agg(count(lit(1)).as("n_purchases"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("revenue"))
      .orderBy(col("channel"))
  }

  /** Q32 — forward as-of join: each error event picks the EARLIEST click
    * by the same user at-or-after it (next-action attribution; the mirror
    * of q22's backward direction — `first(ignoreNulls)` over the following
    * frame, same one-shuffle shape). */
  def q32AsofForward(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    val errors = ev.filter(col("event_type") === "error")
      .select(col("event_id"), col("user_id"), col("ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts"), col("value"))
    graft.operators.AsofJoin.forward(errors, clicks, "user_id", "ts",
        Seq("click_id", "value"), rightTieBreak = "click_id")
      .select(col("event_id"),
        coalesce(col("asof_click_id"), lit(-1L)).as("matched_click_id"),
        coalesce(col("asof_value"), lit(-1.0)).as("matched_value"))
      .orderBy(col("event_id"))
  }

  /** Q26 — stream/batch parity: the event-time windowed streaming
    * aggregation ([[graft.streaming.StreamParity]]) run to completion with
    * `Trigger.AvailableNow`; returns the append-mode (watermark-FINAL)
    * windows. The oracle recomputes the identical set in batch SQL by
    * filtering to windows whose end precedes the final watermark — pinning
    * that the streaming path computes exactly what the batch engine would. */
  def q26StreamWindow(s: SparkSession, d: String): DataFrame =
    graft.streaming.StreamParity.finalWindowCounts(s, s"$d/events.parquet")
      .orderBy(col("window_start_us"), col("event_type"))

  /** Q33 — native session windows: Spark's `session_window` operator over
    * the event log, 30-minute gap — the built-in counterpart of q23's
    * manual lag+cumsum sessionization ([[graft.operators.Sessionize]]),
    * proven equal by the same oracle shape (start = min t, duration =
    * max t - min t, count). One shuffle on the user key; window merging
    * happens inside the session-window aggregation. */
  def q33SessionWindow(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
      .withColumn("event_time", timestamp_micros(expr("ts DIV 1000")))
    ev.groupBy(col("user_id"), session_window(col("event_time"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("session_start_us"),
        (unix_micros(col("session_window.end")) - unix_micros(col("session_window.start"))
          - lit(30L * 60 * 1000 * 1000)).as("duration_us"),
        col("n_events"))
      .orderBy(col("user_id"), col("session_start_us"))
  }

  /** Q34 — second stream/batch parity query: streaming dedupe with
    * duplicate accounting ([[graft.streaming.StreamingDedupe.withDuplicateCounts]],
    * the `flatMapGroupsWithState` custom-state surface) run to completion
    * with `Trigger.AvailableNow` over the document fingerprints. The
    * oracle recomputes the emitted (first_seen, dups_so_far) sequence as a
    * batch row_number over (hash ORDER BY id) — pinning that the custom
    * state machine computes exactly the batch answer. */
  def q34StreamDedupe(s: SparkSession, d: String): DataFrame =
    graft.streaming.StreamParity.dedupeWithCounts(s, s"$d/documents.parquet")
      .select(col("hash"), col("id"),
        col("firstSeen").cast("int").as("first_seen"),
        col("dupsSoFar").as("dups_so_far"))
      .orderBy(col("hash"), col("id"))

  /** Q35 — salted skew join proven result-identical to the plain join:
    * events (big, skewed on hot users) joined to a per-user dim through
    * [[graft.operators.Salting.saltedJoin]] (hot keys spread over 8
    * buckets; dim exploded 8 ways), then aggregated. The oracle is the
    * PLAIN join in SQL — equality is the whole point: salting is a
    * physical-distribution rewrite that must never change results. */
  def q35SaltedJoin(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
    val dim = ev.groupBy(col("user_id")).agg(min(col("ts")).as("first_ts"))
    graft.operators.Salting.saltedJoin(ev, dim, "user_id",
        buckets = 8, saltContext = col("event_id"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("ts") > col("first_ts"), 1L).otherwise(0L)).as("n_after_first"))
      .orderBy(col("event_type"))
  }

  /** Q36 — third stream/batch parity query: native `session_window`
    * streamed with a watermark in append mode ([[graft.streaming.StreamParity.finalSessions]]).
    * The oracle recomputes the manual q23/q33 sessionization and keeps
    * only sessions final at the last watermark (session end = last event
    * + gap; watermark truncated to milliseconds exactly as the engine
    * holds it). Pins that streaming session merging + watermark eviction
    * emit exactly the batch sessions. */
  def q36StreamSessions(s: SparkSession, d: String): DataFrame =
    graft.streaming.StreamParity.finalSessions(s, s"$d/events.parquet")
      .orderBy(col("user_id"), col("session_start_us"))

  /** Q38 — sliding event-time windows (batch): hour-long windows sliding
    * every 30 minutes, so each event lands in exactly two windows —
    * completing the window-family triad next to tumbling (q26) and
    * session (q33/q36). Spark's `window(col, "1 hour", "30 minutes")`
    * plans one Expand (×2 rows) + hash aggregate — a single shuffle, the
    * same shape CUBE uses. Count+min/max only (no double sums — cross-
    * engine order sensitivity). */
  def q38SlidingWindow(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .withColumn("event_time", timestamp_micros(expr("ts DIV 1000")))
      .groupBy(window(col("event_time"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        min(col("value")).as("min_value"), max(col("value")).as("max_value"))
      .select(unix_micros(col("window.start")).as("window_start_us"),
        col("event_type"), col("cnt"), col("min_value"), col("max_value"))
      .orderBy(col("window_start_us"), col("event_type"))

  /** Q41 — value-RANGE window frame: per event, count/min/max of the same
    * user's events in the preceding hour, expressed as
    * `rangeBetween(-1h, -1µs)` over the integral event time — the
    * value-based frame variant next to q16's ROWS frames (peers at equal
    * timestamps enter the frame together; both engines define RANGE on the
    * ORDER BY value, so the results are engine-exact). Same one
    * key-shuffle + sort plan as every window query; the running frame
    * never materializes per-row candidate lists, which is what makes it
    * preferable to a self-join at 100 TB. */
  def q41RangeFrame(s: SparkSession, d: String): DataFrame = {
    val hourUs = 3600L * 1000000
    val w = Window.partitionBy(col("user_id")).orderBy(col("t"))
      .rangeBetween(-hourUs, -1)
    events(s, d)
      .select(col("event_id"), col("user_id"), expr("ts DIV 1000").as("t"), col("value"))
      .withColumn("n_prev_hour", count(lit(1)).over(w))
      .withColumn("min_prev_value", min(col("value")).over(w))
      .withColumn("max_prev_value", max(col("value")).over(w))
      .select(col("event_id"), col("n_prev_hour"),
        coalesce(col("min_prev_value"), lit(-1.0)).as("min_prev_value"),
        coalesce(col("max_prev_value"), lit(-1.0)).as("max_prev_value"))
      .orderBy(col("event_id"))
  }

  /** Q42 — stream-STATIC join parity ([[graft.streaming.StreamParity.staticJoinWindowCounts]]):
    * the event stream enriched against a batch dimension (per-user first
    * event time) before the watermarked windowed aggregation, AvailableNow
    * append — pinned equal to the batch join+agg restricted to
    * watermark-final windows. Completes the streaming family: plain agg
    * (q26), custom state (q34), session windows (q36), stream-static join
    * (q42). */
  def q42StreamStaticJoin(s: SparkSession, d: String): DataFrame =
    graft.streaming.StreamParity.staticJoinWindowCounts(s, s"$d/events.parquet")
      .orderBy(col("window_start_us"), col("event_type"))

  /** M2 — multimodal frame sampling, END-TO-END REAL: each document
    * synthesizes an MP4 whose per-track sample tables carry
    * n_chars mod 97 frames ([[graft.functions.VideoCodec.mp4BytesWithFrames]]
    * — spec-layout stts/stsz/stco), the frame count is read back by the
    * REAL `stts` box walk ([[Multimodal.videoFrameCount]] →
    * `VideoCodec.frameCount`), and every 7th frame index is exploded one
    * row per sampled frame ([[Multimodal.explodeSampledFrames]] — the
    * binary-column generator shape; narrow, shuffle-free). The oracle
    * replays the synthesis arithmetic (nf = n_chars % 97) — the m07/m08
    * discipline: a green hash proves build → container walk → explode
    * agree end-to-end, not that two copies of one formula agree. */
  def m02FrameSample(s: SparkSession, d: String): DataFrame = {
    import graft.functions.VideoCodec
    val mkMp4 = udf((nChars: Long) =>
      VideoCodec.mp4BytesWithFrames(timescale = 1000, duration = 2000L,
        nTracks = 1, nFrames = (nChars % 97).toInt))
    val withPayload = documents(s, d)
      .select(col("doc_id"), mkMp4(col("n_chars")).as("payload"))
    Multimodal.explodeSampledFrames(withPayload, "payload", stride = 7)
      .select(col("doc_id"), col("frame_idx"))
      .orderBy(col("doc_id"), col("frame_idx"))
  }

  /** Q47 — exact per-group median without a median() builtin: count +
    * row_number windows over each priority class, keep the middle row
    * (odd n) or middle pair (even n), average. Spark's own
    * `percentile(col, 0.5)` buffers every group value in one aggregation
    * buffer — a hot group OOMs the executor at 100 TB; this formulation
    * is a partition-by-group sort (spillable, streaming window) and for
    * truly skewed single groups composes with [[graft.operators.GlobalRank]]
    * (q40's range-shuffle rank) instead. The middle-pair average is
    * (a+b)/2; DuckDB's builtin `median` interpolates lower+0.5*(upper-lower)
    * instead, which can differ by 1 ULP on adversarial doubles — so the
    * oracle pins the SAME (a+b)/2 formulation in explicit SQL. */
  def q47GroupedMedian(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    orders(s, d).select(col("o_orderpriority"), col("o_totalprice"), col("o_orderkey"))
      .withColumn("rn", row_number().over(w))
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy(col("o_orderpriority"))))
      .filter(col("rn") === expr("(cnt + 1) div 2") || col("rn") === expr("(cnt + 2) div 2"))
      .groupBy(col("o_orderpriority"))
      .agg(max(col("cnt")).as("n_orders"), avg(col("o_totalprice")).as("median_price"))
      .orderBy(col("o_orderpriority"))
  }

  /** Q59 — frequent co-purchase pairs (market-basket): the top part
    * pairs appearing together in an order — the itemset-mining workload
    * class (association rules, "bought together" recommenders). The
    * within-order self-join is bounded by ORDER SIZE (TPC-H ~4 lines),
    * exactly the d03 blocking argument: candidate pairs scale with
    * Σ(order_size²), not corpus², and the pair counts partial-aggregate
    * map-side before the one shuffle. collect_set per order handles the
    * multiset trap (a part ordered twice counts once) AND keeps the
    * whole pipeline at TWO exchanges: pairs are generated narrowly from
    * each order's sorted part array (a self-join formulation pays two
    * more reshuffles for the same pair multiset). */
  def q59Copurchase(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
      .select(explode(expr(
        """flatten(transform(ps,
          |  (x, i) -> transform(slice(ps, i + 2, size(ps) - i - 1),
          |    y -> struct(x AS part_a, y AS part_b))))""".stripMargin)).as("p"))
      .select(col("p.part_a"), col("p.part_b"))
      .groupBy(col("part_a"), col("part_b"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("n_orders").desc, col("part_a"), col("part_b"))
      .limit(20)

  /** Q57 — grouped MAD outlier gate (median absolute deviation): per
    * priority class, the robust dispersion statistic and how many orders
    * sit beyond 3·MAD — the data-quality screen that survives heavy
    * tails where stddev-based z-scores do not. Both medians use q47's
    * middle-row/pair windows (never percentile()'s whole-group buffer);
    * every comparison is a single IEEE expression evaluated identically
    * in both engines, so the count is hash-stable. Two key shuffles
    * (price sort, deviation sort) + broadcast-sized per-segment stats. */
  def q57MadOutliers(s: SparkSession, d: String): DataFrame = {
    def groupedMedian(df: DataFrame, valueCol: String, tieCol: String,
        out: String): DataFrame = {
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col(valueCol), col(tieCol))
      df.withColumn("rn", row_number().over(w))
        .withColumn("cnt", count(lit(1))
          .over(Window.partitionBy(col("o_orderpriority"))))
        .filter(col("rn") === expr("(cnt + 1) div 2") ||
          col("rn") === expr("(cnt + 2) div 2"))
        .groupBy(col("o_orderpriority"))
        .agg(avg(col(valueCol)).as(out))
    }
    val o = orders(s, d)
      .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
    val med = groupedMedian(o, "o_totalprice", "o_orderkey", "median_price")
    val dev = o.join(med, Seq("o_orderpriority"))
      .withColumn("dev", abs(col("o_totalprice") - col("median_price")))
    val mad = groupedMedian(dev, "dev", "o_orderkey", "mad")
    dev.join(mad, Seq("o_orderpriority"))
      .groupBy(col("o_orderpriority"), col("median_price"), col("mad"))
      .agg(count(lit(1)).as("n_orders"),
        sum(when(col("dev") > lit(3.0) * col("mad"), 1L).otherwise(0L))
          .as("n_outliers"))
      .select(col("o_orderpriority"), col("n_orders"), col("median_price"),
        col("mad"), col("n_outliers"))
      .orderBy(col("o_orderpriority"))
  }

  /** Q58 — incremental aggregate-state maintenance (materialized-view
    * merge): per-user event rollups computed as PER-DAY-BUCKET partial
    * states, then merged — proven hash-identical to the direct full
    * recompute (the oracle). That equality IS the contract that lets a
    * 100 TB pipeline fold each day's delta into persisted state without
    * reprocessing history: every statistic here is decomposable
    * (count/min/max/integral sum — value dollars scaled to cents by
    * floor, the one float step, identical IEEE in both engines) and the
    * merge is the same map-side-combinable agg Spark already runs
    * within a day. */
  def q58IncrementalMerge(s: SparkSession, d: String): DataFrame = {
    val base = events(s, d).select(col("user_id"),
      expr("ts DIV 1000").as("t_us"),
      expr("CAST(floor(value * 100) AS BIGINT)").as("cents"),
      expr("(ts DIV 1000) DIV 86400000000").as("day"))
    val partials = base
      .groupBy(col("user_id"), col("day"))
      .agg(count(lit(1)).as("cnt"), min(col("t_us")).as("first_us"),
        max(col("t_us")).as("last_us"), sum(col("cents")).as("sum_cents"))
    partials
      .groupBy(col("user_id"))
      .agg(sum(col("cnt")).as("n_events"), min(col("first_us")).as("first_us"),
        max(col("last_us")).as("last_us"), sum(col("sum_cents")).as("sum_cents"))
      .orderBy(col("user_id"))
  }

  /** Q48 — per-user EWMA (α=0.25) of daily event counts: the smoothing
    * fold every monitoring/trending pipeline runs. EWMA is inherently
    * recursive, so it CANNOT be a commutative aggregate — the engine-safe
    * shape is groupBy user → sorted day array → `aggregate` fold
    * (first element seeds, exactly DuckDB `list_reduce`'s contract, so
    * both engines fold the identical doubles in the identical order;
    * α = 1/4 is dyadic, keeping every step an exact IEEE operation).
    * Per-user arrays are bounded by the day span — thousands of elements,
    * not corpus-sized; the heavy lifting stays in the (user, day)
    * hash-agg, which partial-aggregates map-side. */
  def q48Ewma(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .select(col("user_id"),
        to_date(timestamp_micros(expr("ts DIV 1000"))).as("day"))
      .groupBy(col("user_id"), col("day")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("user_id"))
      .agg(sort_array(collect_list(struct(col("day"), col("cnt")))).as("ds"))
      .select(col("user_id"),
        size(col("ds")).cast("long").as("n_days"),
        expr("""round(aggregate(slice(ds, 2, size(ds) - 1),
               |  CAST(ds[0].cnt AS DOUBLE),
               |  (acc, x) -> 0.25D * CAST(x.cnt AS DOUBLE) + 0.75D * acc), 9)""".stripMargin)
          .as("ewma"))
      .orderBy(col("user_id"))

  /** Q49 — 2-D skyline (Pareto frontier): parts no other part dominates
    * on (cheaper price, larger size). The naive formulation is the O(n²)
    * self-anti-join the ORACLE uses (NOT EXISTS dominance — deliberately
    * an independent quadratic spec); the engine side is the O(n log n)
    * sweep: collapse to per-price max-size (map-side-combinable hash agg
    * — the only corpus-sized pass), then one running-max scan over the
    * DISTINCT price values. A point is dominated iff a strictly cheaper
    * price reaches its size (lag of the running max) or its own price
    * class strictly exceeds it. The sweep window is SinglePartition but
    * over the value domain (distinct prices), not rows — the q40/q25
    * post-shrink rationale; at 100 TB it composes with [[GlobalRank]]'s
    * range-shuffle if the price domain itself explodes. */
  def q49Skyline(s: SparkSession, d: String): DataFrame = {
    val perPrice = part(s, d)
      .groupBy(col("p_retailprice")).agg(max(col("p_size")).as("mx"))
      .withColumn("run_incl",
        max(col("mx")).over(Window.orderBy(col("p_retailprice"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("run_strict",
        lag(col("run_incl"), 1).over(Window.orderBy(col("p_retailprice"))))
    part(s, d).select(col("p_partkey"), col("p_retailprice"), col("p_size"))
      .join(perPrice, Seq("p_retailprice"))
      .filter(!(coalesce(col("run_strict") >= col("p_size"), lit(false)) ||
        col("run_incl") > col("p_size")))
      .select(col("p_partkey"), col("p_retailprice"), col("p_size"))
      .orderBy(col("p_partkey"))
  }

  /** Q51 — calendar gap-fill + gaps-and-islands: densify each user's
    * activity onto a per-user day spine (`sequence(min_day, max_day)`
    * explode — rows that never existed in the source), then the longest
    * inactive streak via the rn-difference island trick (day_index −
    * row_number over inactive days is constant within a run). Spine
    * generation is a narrow generator off a tiny per-user (min, max)
    * aggregate — the fact table is scanned ONCE; the two windows share
    * one user-key shuffle. The time-series densification every
    * monitoring/feature pipeline needs before training on "events per
    * day" (missing day ≠ missing row).
    *
    * `daily` feeds the spine aggregate AND the fill join, `filled` feeds
    * the island window AND the final per-user agg — un-materialized, the
    * duplicated subtrees re-scan events 4×. Both
    * frames are day-granular AGGREGATES (users × active/span days, far
    * smaller than the event stream — the t11-vs-t20 materialization
    * rule), so two lazy checkpoints measured 0.794 → 0.559 s min-of-2,
    * same BenchOne session at sf0.1. */
  def q51GapFill(s: SparkSession, d: String): DataFrame = {
    val daily = events(s, d)
      .select(col("user_id"),
        to_date(timestamp_micros(expr("ts DIV 1000"))).as("day"))
      .groupBy(col("user_id"), col("day")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint(false) // two consumers: spine agg + fill join
    val spine = daily.groupBy(col("user_id"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("user_id"), explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
    val filled = spine.join(daily, Seq("user_id", "day"), "left")
      .select(col("user_id"), col("day"), coalesce(col("cnt"), lit(0L)).as("cnt"))
      .localCheckpoint(false) // two consumers: island window + final agg
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    val islands = filled
      .withColumn("idx", row_number().over(w))
      .filter(col("cnt") === 0L)
      .withColumn("grp", col("idx") - row_number().over(w))
    val gapRuns = islands.groupBy(col("user_id"), col("grp"))
      .agg(count(lit(1)).as("run"))
      .groupBy(col("user_id")).agg(max(col("run")).as("max_gap_run"))
    filled.groupBy(col("user_id"))
      .agg(count(lit(1)).as("span_days"),
        sum(when(col("cnt") > 0, 1L).otherwise(0L)).as("active_days"),
        sum(when(col("cnt") === 0L, 1L).otherwise(0L)).as("gap_days"))
      .join(gapRuns, Seq("user_id"), "left")
      .select(col("user_id"), col("span_days"), col("active_days"), col("gap_days"),
        coalesce(col("max_gap_run"), lit(0L)).as("max_gap_run"))
      .orderBy(col("user_id"))
  }

  /** Q52 — stream-stream interval join run to parity
    * ([[graft.streaming.StreamParity.streamStreamIntervalJoin]]): views
    * and clicks as two watermarked streams, click matched to same-user
    * views in the preceding 30 min. The fifth and final streaming class
    * (agg / custom state / session / stream-static / stream-stream). */
  def q52StreamStreamJoin(s: SparkSession, d: String): DataFrame =
    graft.streaming.StreamParity.streamStreamIntervalJoin(s, s"$d/events.parquet")
      .orderBy(col("view_id"), col("click_id"))

  /** Q53 — CDC last-write-wins merge: collapse an insert/update/delete
    * changelog (events; `error` = tombstone) to final table state. The
    * lakehouse MERGE shape, computed as ONE partial-aggregable
    * struct-argmax per key — `max(struct(ts, event_id, ...))` — so a
    * 100 TB changelog collapses map-side per task instead of sorting the
    * whole log under a row_number window (the q07/d06/d08 aggregation
    * discipline); tombstoned keys drop at the very end. The oracle is the
    * window formulation — proving the argmax rewrite emits exactly the
    * latest-op row per surviving key. */
  def q53CdcMerge(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"), col("value"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_ops"),
        max(struct(col("ts"), col("event_id"), col("event_type"), col("value"))).as("m"))
      .filter(col("m.event_type") =!= "error")
      .select(col("user_id"), col("n_ops"),
        expr("m.ts DIV 1000").as("last_us"),
        col("m.event_type").as("last_op"), col("m.value").as("last_value"))
      .orderBy(col("user_id"))

  /** Q67 — STREAMING CDC UPSERT PARITY: q53's last-write-wins merge run
    * as a foreachBatch incremental-upsert stream
    * ([[graft.streaming.StreamParity.cdcMergeUpserts]] — the changelog
    * split into 4 range files, one file per trigger, each microbatch
    * MERGEd into the target with (+, greatest) partials). The oracle is
    * IDENTICAL to q53's: associative-commutative merge algebra means any
    * batch split must reach the same fixpoint as the one-pass batch
    * aggregate — the sixth streaming class (incremental sink merge)
    * next to windowed agg / custom state / session / stream-static /
    * stream-stream. */
  def q67StreamCdcMerge(s: SparkSession, d: String): DataFrame =
    graft.streaming.StreamParity.cdcMergeUpserts(s, s"$d/events.parquet")
      .filter(col("m.event_type") =!= "error")
      .select(col("user_id"), col("n_ops"),
        expr("m.ts DIV 1000").as("last_us"),
        col("m.event_type").as("last_op"), col("m.value").as("last_value"))
      .orderBy(col("user_id"))

  /** Q54 — SCD2 validity-interval build: turn the per-user changelog into
    * type-2 dimension history — each op opens an interval that the NEXT op
    * closes (`lead` over the user's time-ordered ops; the final interval
    * stays open, modeled as to_us = -1). One key shuffle + one window
    * shared by both the close-time and the version number; q53 is this
    * table's final open row, q22's as-of join is how facts probe it.
    * Versions are contiguous from 1 — an auditability property the oracle
    * hash enforces globally. */
  def q54Scd2(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"), col("value"))
      .withColumn("to_ts", lead(col("ts"), 1).over(w))
      .withColumn("version", row_number().over(w))
      .select(col("user_id"), col("version"),
        expr("ts DIV 1000").as("from_us"),
        coalesce(expr("to_ts DIV 1000"), lit(-1L)).as("to_us"),
        col("event_type").as("op"), col("value"))
      .orderBy(col("user_id"), col("version"))
  }

  /** Q60 — Z-ORDER (Morton) LAYOUT CLUSTERING + data-skipping audit: the
    * multi-dimensional file-layout technique behind Delta/Iceberg OPTIMIZE
    * ZORDER. Interleaving the bits of (p_size, floor(p_retailprice)) gives
    * a 1-D key whose prefixes are quadtree tiles: rows sharing a z-prefix
    * are close in BOTH dimensions, so per-file min/max stats prune 2-D
    * range predicates — a lexicographic (x, y) sort layout can only ever
    * prune on x.
    *
    * Scale design: the z-value is a row-local codegen expression (a
    * 16-term shift/mask fold — no UDF), and the tile id is a z-prefix
    * (`z >> 12`), so clustering needs NO global sort: one map-side-
    * combinable aggregate builds the per-tile stats. A layout writer
    * would `repartitionByRange($"z")` and write; the audit half answers
    * "for the query rectangle x∈[10,20], y∈[100,300], which tiles does a
    * min/max-pruning reader skip?" — the fraction every layout decision
    * at 100 TB is judged by. All-BIGINT bit math, cross-engine exact. */
  def q60Zorder(s: SparkSession, d: String): DataFrame = {
    // x = size (6 significant bits), y = price rescaled onto [0, 1000) so
    // its 10 bits genuinely vary (raw retailprice lives in [900, 1000) —
    // high bits constant); one IEEE-identical float step (d14 discipline).
    val p = part(s, d).select(
      col("p_size").cast("long").as("x"),
      expr("CAST(floor((p_retailprice - 900) * 10) AS BIGINT)").as("y"))
    p.withColumn("z", expr(
        """aggregate(sequence(0, 15), CAST(0 AS BIGINT), (acc, i) ->
          |  acc + shiftleft(shiftright(x, i) & 1, 2 * i)
          |      + shiftleft(shiftright(y, i) & 1, 2 * i + 1))""".stripMargin))
      // z >> 8 = the quadtree level whose tiles span 16 size-units × 16
      // price-units: both dimensions contribute bits to the tile id
      .groupBy(expr("z >> 8").as("tile"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("x")).as("min_x"), max(col("x")).as("max_x"),
        min(col("y")).as("min_y"), max(col("y")).as("max_y"))
      .withColumn("pruned", expr(
        "CAST(CASE WHEN max_x < 10 OR min_x > 20 OR max_y < 50 OR min_y > 150 " +
          "THEN 1 ELSE 0 END AS INT)"))
      .orderBy(col("tile"))
  }

  /** Q61 — INTERVAL COVERAGE: per user, merge the [start, end) intervals
    * spanned by their events (start = event time, duration = floor(60·value)
    * seconds) into maximal overlapping islands, and report islands, total
    * covered time, and peak concurrency. The interval-union / max-overlap
    * pair is the utilization primitive (machine busy-time, session
    * coverage, ad occupancy) that naive per-second explosion makes
    * unrunnable at scale — this formulation never materializes a timeline.
    *
    * Scale design: three window passes, ALL partitioned by user_id (no
    * global order): island detection is the classic running `max(end)
    * OVER (... ROWS UNBOUNDED PRECEDING TO 1 PRECEDING)` — an island
    * starts where start exceeds every previous end; peak concurrency is
    * the +1/−1 sweep with deltas grouped per timestamp BEFORE the running
    * sum, so tie order can't matter. Integer microseconds end-to-end
    * (events ts is TIMESTAMP(NANOS) read as LONG nanos; `ts DIV 1000` and
    * DuckDB's epoch_us truncate identically; floor(value·60) is one
    * IEEE-identical float step — the d14 discipline).
    *
    * A lazy checkpoint of `iv` here was tried (it feeds the island windows
    * AND both sweep union branches — un-materialized, the duplicated
    * subtrees scan events 3×): BenchOne same-session 0.958 → 0.778 s /
    * 11 → 9 jobs, but all four same-code full-Bench windows read it as a
    * WASH (1.10–1.18 s vs 1.07 without), and an in-context quadruple
    * confirms: 1.705 s WITH the ckpt (w0) vs 1.254/1.890/1.290 without
    * (w1-w3) — wash-to-better. Not taken: `iv` is EVENT-sized — one row per event, not an aggregate — so
    * the t20/t41 rule applies (no corpus-sized materialization at 100 TB:
    * executor-storage pressure vs three pushed-filter re-scans of a
    * 4-column parquet projection that column pruning makes cheap). */
  def q61IntervalCoverage(s: SparkSession, d: String): DataFrame = {
    val iv = events(s, d).select(col("user_id"), col("event_id"),
        expr("ts DIV 1000").as("start_us"),
        expr("ts DIV 1000 + CAST(floor(value * 60) AS BIGINT) * 1000000").as("end_us"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("start_us"), col("end_us"), col("event_id"))
    val islands = iv
      .withColumn("prev_max_end", max(col("end_us"))
        .over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("new_island",
        when(col("prev_max_end").isNull || col("start_us") > col("prev_max_end"), 1L)
          .otherwise(0L))
      .withColumn("island", sum(col("new_island"))
        .over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("island"))
      .agg((max(col("end_us")) - min(col("start_us"))).as("covered_us"),
        count(lit(1)).as("n_iv"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_islands"),
        sum(col("covered_us")).as("covered_us"),
        sum(col("n_iv")).as("n_events"))
    val sweep = iv.select(col("user_id"), col("start_us").as("t"), lit(1L).as("delta"))
      .unionAll(iv.select(col("user_id"), col("end_us").as("t"), lit(-1L).as("delta")))
      .groupBy(col("user_id"), col("t")).agg(sum(col("delta")).as("delta"))
      .withColumn("running", sum(col("delta"))
        .over(Window.partitionBy(col("user_id")).orderBy(col("t"))
          .rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id")).agg(max(col("running")).as("max_concurrent"))
    islands.join(sweep, Seq("user_id"))
      .select(col("user_id"), col("n_events"), col("n_islands"),
        col("covered_us"), col("max_concurrent"))
      .orderBy(col("user_id"))
  }

  /** Q68 — per-group OLS trend line in EXACT integer arithmetic: the
    * daily-revenue slope per part brand that a monitoring pipeline fits to
    * detect growth/decline, made hash-checkable by keeping every term a
    * BIGINT. Least squares needs only (n, Σx, Σy, Σxy, Σx²) — all
    * order-independent integer sums once x = days since a fixed epoch and
    * y = daily revenue in hundreds of dollars (cents summed exactly, then
    * one truncating div; floor(price·100) is IEEE-identical both engines).
    * slope_bp = 10⁴·(nΣxy−ΣxΣy) div (nΣx²−(Σx)²) — numerator magnitude is
    * bounded by days² · Σy (~10¹⁵ at sf0.1; the y unit is the documented
    * scale knob if revenue grows 10⁶×), and `div` truncates toward zero in
    * both engines for either sign of the trend.
    *
    * Scale: two hash aggregations and one fact-to-dimension equi-join —
    * the daily pre-aggregation shrinks the fact table to |brands|·|days|
    * rows before the regression sums, so the second agg is tiny. `part` is
    * NOT broadcast-hinted: it scales with the corpus (q06's rule — only
    * fixed-cardinality dims get the hint); AQE may still choose broadcast
    * at small SF. */
  def q68Trend(s: SparkSession, d: String): DataFrame = {
    val daily = lineitem(s, d)
      .join(part(s, d), col("l_partkey") === col("p_partkey"))
      .select(col("p_brand").as("brand"),
        datediff(col("l_shipdate").cast("date"),
          lit("1995-01-01").cast("date")).cast("long").as("x"),
        expr("CAST(floor(l_extendedprice * 100) AS BIGINT)").as("cents"))
      .groupBy(col("brand"), col("x"))
      .agg(expr("sum(cents) div 10000").as("y"))
    daily.groupBy(col("brand"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .selectExpr("brand", "n AS n_days", "sy AS sum_y",
        "CASE WHEN n * sxx - sx * sx = 0 THEN CAST(0 AS BIGINT) " +
          "ELSE ((n * sxy - sx * sy) * 10000) div (n * sxx - sx * sx) " +
          "END AS slope_bp")
      .orderBy(col("brand"))
  }

  /** Q69 — PERCENT_RANK / CUME_DIST as exact integer basis points, with
    * REAL tie semantics: customers band by ⌊acctbal/100⌋ (one IEEE
    * division + floor, identical both engines), so each (segment, band)
    * is a tie group — rank() = 1 + count of rows in prior bands,
    * cume_dist numerator = count through the current band. Computing both
    * from the BAND-level frame (hash agg first, window over ≤ a few
    * hundred band rows) instead of ranking raw rows is the scale shape:
    * the window input is bounded by band cardinality, not customers.
    * pr_bp = (rank−1)·10⁴ div (n−1), cd_bp = cum·10⁴ div n. */
  def q69RankBands(s: SparkSession, d: String): DataFrame = {
    val bands = customer(s, d)
      .select(col("c_mktsegment").as("segment"),
        expr("CAST(floor(c_acctbal / 100.0D) AS BIGINT)").as("band"))
      .groupBy(col("segment"), col("band")).agg(count(lit(1)).as("n_at"))
    val w = Window.partitionBy(col("segment")).orderBy(col("band"))
    bands
      .withColumn("cum", sum(col("n_at"))
        .over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("n", sum(col("n_at")).over(Window.partitionBy(col("segment"))))
      .selectExpr("segment", "band", "n_at",
        "cum - n_at + 1 AS rnk",
        "CASE WHEN n <= 1 THEN CAST(0 AS BIGINT) " +
          "ELSE (cum - n_at) * 10000 div (n - 1) END AS pr_bp",
        "cum * 10000 div n AS cd_bp")
      .orderBy(col("segment"), col("band"))
  }

  /** Q70 — COHORT RETENTION MATRIX: users cohort by first-activity day;
    * each (cohort, day-offset ≤ 7) cell counts distinct users still
    * active, with retention in integer basis points of the cohort size.
    * The product-analytics staple, and at corpus scale the same shape
    * tracks crawl-source persistence.
    *
    * Scale: cohort assignment is one user-keyed hash agg; the activity
    * join is user-keyed (co-partitioned with the agg, no extra
    * exchange); the offset-capped DISTINCT bounds the matrix at
    * users × 8 before the final cell agg. No windows. */
  def q70CohortRetention(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).select(col("user_id"),
      expr("(ts DIV 1000) DIV 86400000000").as("day"))
    val coh = ev.groupBy(col("user_id")).agg(min(col("day")).as("cohort"))
      .localCheckpoint(true) // read by the activity join AND the size agg
    val act = ev.join(coh, Seq("user_id"))
      .select(col("user_id"), col("cohort"),
        (col("day") - col("cohort")).as("offset"))
      .filter(col("offset") <= 7)
      .distinct()
    val size = coh.groupBy(col("cohort")).agg(count(lit(1)).as("n_users"))
    act.groupBy(col("cohort"), col("offset"))
      .agg(count(lit(1)).as("n_active"))
      .join(size, Seq("cohort"))
      .selectExpr("cohort", "offset", "n_users", "n_active",
        "n_active * 10000 div n_users AS retention_bp")
      .orderBy(col("cohort"), col("offset"))
  }

  /** Q71 — ASSOCIATION RULES (confidence + lift) on the co-purchase
    * pairs: q59 mines the pairs; this ranks the directed rules ant→con by
    * confidence (pair support over antecedent support) and reports lift,
    * both in exact scaled integers (lift·10³ = n_pair·n_orders·1000 div
    * (n_ant·n_con); every factor bounded well under 2⁶³ at any plausible
    * basket profile — magnitudes documented). Basket analysis's second
    * half, and for corpora the same rule shape ranks tag/source
    * co-occurrence.
    *
    * Scale: DISTINCT-before-self-join bounds pair generation at basket
    * size² per order (the q59 lesson); supports are part-keyed hash aggs
    * joined on the rule's own keys; the grand total is a broadcast 1-row
    * aggregate. Top-30 is TakeOrderedAndProject. */
  def q71AssocRules(s: SparkSession, d: String): DataFrame = {
    val items = lineitem(s, d)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .localCheckpoint(true) // read 4x: supports, both pair sides, total
    val sup = items.groupBy(col("l_partkey")).agg(count(lit(1)).as("n"))
    // A/B, REJECTED: basket-agg + in-row HOF pair explode (one fewer
    // orderkey exchange on paper) measured 2.1-2.6 s vs this shape's
    // 1.9-2.4 in the same windows — the nested transform/filter lambdas
    // evaluate interpreted per basket element while the self-join stays
    // inside whole-stage codegen, and the orderkey exchange it saves is
    // deduped by ReuseExchange anyway (same ckpt on both sides).
    val pairs = items.as("a").join(items.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") =!= col("b.l_partkey"))
      .groupBy(col("a.l_partkey").as("ant"), col("b.l_partkey").as("con"))
      .agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= 3)
    val tot = items.agg(count_distinct(col("l_orderkey")).as("n_orders"))
    pairs
      .join(sup.select(col("l_partkey").as("ant"), col("n").as("n_a")), Seq("ant"))
      .join(sup.select(col("l_partkey").as("con"), col("n").as("n_c")), Seq("con"))
      .crossJoin(broadcast(tot))
      .selectExpr("ant", "con", "n_pair",
        "n_pair * 10000 div n_a AS conf_bp",
        "n_pair * n_orders * 1000 div (n_a * n_c) AS lift_milli")
      .orderBy(col("conf_bp").desc, col("ant"), col("con"))
      .limit(30)
  }

  /** Q72 — CUSUM CHANGEPOINT DETECTION in exact integer arithmetic: the
    * monitoring primitive that finds WHERE a daily series shifted level.
    * The classic CUSUM needs the mean (a division); scaling by n removes
    * it — dev_i = n·y_i − Σy is the deviation from the mean times n, an
    * exact BIGINT, and its running sum peaks (in absolute value) exactly
    * where the mean-based CUSUM does. The argmax |cusum| day (earliest on
    * ties) is the estimated changepoint. Magnitudes: |cusum| ≤ n·Σy
    * (~10¹³ at sf0.1 with y in hundreds of dollars — the y unit is the
    * scale knob, q68's rule).
    *
    * Scale: one day-keyed hash agg collapses the fact table to calendar
    * days; the running-sum window and the top-1 both operate on that
    * day-level frame (≤ 36,500 rows a century — the dq05 bound), so the
    * unpartitioned window is calendar-bounded, not data-bounded. */
  def q72Changepoint(s: SparkSession, d: String): DataFrame = {
    val daily = orders(s, d)
      .select(expr("CAST(datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01') AS BIGINT)").as("day"),
        expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"))
      .groupBy(col("day")).agg(expr("sum(cents) div 10000").as("y"))
      .localCheckpoint(true) // day-level; read by stats AND the window
    val stats = daily.agg(count(lit(1)).as("nd"), sum(col("y")).as("tot"))
    daily.crossJoin(broadcast(stats))
      .withColumn("cusum", sum(col("nd") * col("y") - col("tot"))
        .over(Window.orderBy(col("day"))
          .rowsBetween(Window.unboundedPreceding, 0)))
      .selectExpr("day AS change_day", "y AS y_at_change", "cusum",
        "nd AS n_days")
      .orderBy(abs(col("cusum")).desc, col("change_day"))
      .limit(1)
  }

  /** Q73 — CASCADE DELETION PROPAGATION AUDIT: the right-to-be-forgotten
    * primitive — a deletion keyset on the root entity (every 50th
    * customer) propagated down the foreign-key chain
    * customer → orders → lineitem, reporting per table how many rows the
    * cascade removes and how many survive. The audit IS the deliverable:
    * a deletion job must publish exactly this accounting before the
    * irreversible write.
    *
    * Shape: ONE scan per table. Each fact table takes one left join
    * against the (small) deletion keyset of its parent — flag + two
    * conditional sums, never a second scan for the "kept" side, never a
    * row-level delete materialization. The orders pass is checkpointed
    * because it feeds BOTH its own counts and the next level's keyset
    * (deleted order keys). At 100 TB the keyset side broadcasts when it
    * fits (here it's ~2% of customers) and co-partitions on the FK
    * otherwise; the per-table accounting stays one map-side-combinable
    * aggregate either way. */
  def q73CascadeDelete(s: SparkSession, d: String): DataFrame = {
    val delCust = customer(s, d).filter(col("c_custkey") % 50 === 0)
      .select(col("c_custkey").as("k"), lit(1L).as("del"))
    val custAgg = customer(s, d)
      .join(broadcast(delCust), col("c_custkey") === col("k"), "left")
      .agg(count(lit(1)).as("rows_before"),
        sum(coalesce(col("del"), lit(0L))).cast("long").as("rows_deleted"))
      .select(lit("customer").as("table_name"), col("rows_before"), col("rows_deleted"))
    val ord = orders(s, d)
      .join(broadcast(delCust), col("o_custkey") === col("k"), "left")
      .select(col("o_orderkey"), coalesce(col("del"), lit(0L)).as("del"))
      .localCheckpoint(true) // feeds its own counts AND the lineitem keyset
    val ordAgg = ord
      .agg(count(lit(1)).as("rows_before"), sum(col("del")).cast("long").as("rows_deleted"))
      .select(lit("orders").as("table_name"), col("rows_before"), col("rows_deleted"))
    val delOrd = ord.filter(col("del") === 1L).select(col("o_orderkey").as("ok"),
      lit(1L).as("odel"))
    val liAgg = lineitem(s, d)
      .join(broadcast(delOrd), col("l_orderkey") === col("ok"), "left")
      .agg(count(lit(1)).as("rows_before"),
        sum(coalesce(col("odel"), lit(0L))).cast("long").as("rows_deleted"))
      .select(lit("lineitem").as("table_name"), col("rows_before"), col("rows_deleted"))
    custAgg.unionAll(ordAgg).unionAll(liAgg)
      .withColumn("rows_after", col("rows_before") - col("rows_deleted"))
      .orderBy(col("table_name"))
  }

  /** Q74 — EXACT GROUPED QUANTILE VECTOR (p25/p50/p75): the discrete
    * (type-1) quantile — the value at rank ⌈q·n⌉ — per priority class,
    * from ONE sort window per group. Completes the quantile family: q47
    * exact median (interpolating pair), d14 mergeable sketch, q62
    * sketch-driven bins; this is the exact multi-quantile profile a
    * column-stats pass publishes. Type-1 picks ACTUAL STORED VALUES
    * (never interpolates), so double columns stay bit-exact across
    * engines — no ULP hazard (the q47 lesson baked into the design). All three quantiles read the same (rn, cnt) windows —
    * adding quantiles costs conditional aggregates, not passes. Same
    * spillable partition-by-group sort argument as q47; skewed single
    * groups compose with GlobalRank (q40). */
  def q74QuantileVector(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    orders(s, d).select(col("o_orderpriority"), col("o_totalprice"), col("o_orderkey"))
      .withColumn("rn", row_number().over(w))
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy(col("o_orderpriority"))))
      .groupBy(col("o_orderpriority"))
      .agg(max(col("cnt")).as("n_orders"),
        max(when(col("rn") === expr("(cnt + 3) div 4"), col("o_totalprice"))).as("p25"),
        max(when(col("rn") === expr("(cnt + 1) div 2"), col("o_totalprice"))).as("p50"),
        max(when(col("rn") === expr("(3 * cnt + 3) div 4"), col("o_totalprice"))).as("p75"))
      .orderBy(col("o_orderpriority"))
  }

  /** Q75 — SEASONAL DECOMPOSITION in exact integer arithmetic: the
    * classical ratio-to-period-mean adjustment. Monthly revenue (exact
    * cents) → month-of-year profile idx_bp = 12·S_m·10⁴ div S_total
    * (10000 = a flat month) → each (year, month) deseasonalized as
    * rev·10⁴ div idx_bp. Completes the time-series family's
    * decomposition axis next to trend (q68), changepoint (q72) and
    * smoothing (q48).
    *
    * Scale shape: ONE hash agg over orders to the (year, month) frame
    * (~tens of rows per 7-year corpus — bounded by calendar, not data),
    * then a 12-row profile joined back; the `sum() OVER ()` grand total
    * runs on the 12-row profile frame (dq02's trick), never the fact
    * table. Integer div is truncation-consistent in both engines; cents
    * keep every sum exact. Headroom: the ×120000 / ×10000 products run
    * in DECIMAL(38,0) (the frames are calendar-bounded, so the decimal
    * cost is ~dozens of rows), which holds to mo_cents ≈ 10³³ — beyond
    * any corpus; only the per-month BIGINT cents sum (< $9.2·10¹⁶/month)
    * bounds the shape. `div` on DECIMAL returns BIGINT, so the output
    * schema and all in-range values are unchanged. */
  def q75SeasonalAdjust(s: SparkSession, d: String): DataFrame = {
    val monthly = orders(s, d).select(
        year(col("o_orderdate")).as("yr"), month(col("o_orderdate")).as("mo"),
        expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"))
      .groupBy(col("yr"), col("mo"))
      .agg(sum(col("cents")).as("rev_cents"), count(lit(1)).as("n_orders"))
      .localCheckpoint(false) // feeds the 12-row profile AND the series join
    val prof = monthly.groupBy(col("mo"))
      .agg(sum(col("rev_cents")).as("mo_cents"))
      .withColumn("idx_bp",
        expr("(CAST(mo_cents AS DECIMAL(38,0)) * 120000) div sum(mo_cents) OVER ()"))
      .select(col("mo"), col("idx_bp"))
    monthly.join(prof, "mo")
      .selectExpr("yr", "mo", "n_orders", "rev_cents", "idx_bp",
        "CASE WHEN idx_bp = 0 THEN CAST(0 AS BIGINT) " +
          "ELSE (CAST(rev_cents AS DECIMAL(38,0)) * 10000) div idx_bp END AS deseason_cents")
      .orderBy(col("yr"), col("mo"))
  }

  /** Q76 — AUTOCORRELATION FUNCTION at lags 1..12 over the monthly
    * revenue series, hash-exact: with S = Σx and n months, every
    * mean-centered term scales by n (q68's mean-division killer):
    * num_k = Σ_{t}(n·x_t − S)(n·x_{t+k} − S), den = Σ(n·x_t − S)², and
    * acf_bp = num·10⁴ div den — BIGINT throughout. Unit = $100k per
    * month (cents div 10⁷) bounds every product: |dev| ≤ n·max|x| ≈
    * 84·2·10³ → dev² sums ≈ 10¹² and the 10⁴ scale stays well under
    * 2⁶³ (DriftMarkovSpec's q76 test re-does the math in driver-side
    * BigInt to prove no wrap AT THE TESTED SFs). Headroom scope: the
    * $100k unit holds to ~10³–10⁴× this bench's monthly revenue; past
    * that, num·10⁴ approaches 2⁶³ and the UNIT must coarsen (div 10⁸+)
    * or the final scaled division widen to DECIMAL — the shape is
    * size-independent, the chosen constants are not. Lags are CALENDAR
    * lags on the linear year·12+month axis (d20's rule — yyyymm+1
    * breaks at Decembers); a missing month drops its pairs rather than
    * silently sliding the window.
    *
    * Scale shape: the series frame is calendar-bounded (≤ n_months
    * rows), so the lag self-join and the 1-row stats broadcast are
    * driver-free and tiny no matter the fact-table size — aggregate
    * first, correlate after. */
  def q76Autocorr(s: SparkSession, d: String): DataFrame = {
    val ser = orders(s, d).select(
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate"))).cast("long").as("t"),
        expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"))
      .groupBy(col("t"))
      .agg(expr("sum(cents) div 10000000").as("x"))
      .localCheckpoint(false) // feeds stats + both sides of the lag join
    val stats = ser.agg(count(lit(1)).as("n"), sum(col("x")).as("s"))
    val dev = ser.crossJoin(broadcast(stats))
      .select(col("t"), (col("n") * col("x") - col("s")).as("dev"))
      .localCheckpoint(false) // both sides of the lag join + denominator
    val den = dev.agg(sum(col("dev") * col("dev")).as("den"))
    val lags = ser.sparkSession.range(1, 13).select(col("id").as("k"))
    val num = dev.crossJoin(broadcast(lags))
      .join(dev.select(col("t").as("tk"), col("dev").as("dev_k")),
        col("t") + col("k") === col("tk"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("dev") * col("dev_k")).as("num"))
    num.crossJoin(broadcast(den))
      .selectExpr("k AS lag", "n_pairs",
        "CASE WHEN den = 0 THEN CAST(0 AS BIGINT) " +
          "ELSE (num * 10000) div den END AS acf_bp")
      .orderBy(col("lag"))
  }

  val queries: Map[String, Q] = Map(
    "q75_seasonal_adjust" -> q75SeasonalAdjust,
    "q76_autocorr" -> q76Autocorr,
    "q74_quantile_vector" -> q74QuantileVector,
    "q73_cascade_delete" -> q73CascadeDelete,
    "q72_changepoint" -> q72Changepoint,
    "q70_cohort_retention" -> q70CohortRetention,
    "q71_assoc_rules" -> q71AssocRules,
    "q69_rank_bands" -> q69RankBands,
    "q68_trend" -> q68Trend,
    "q60_zorder" -> q60Zorder,
    "q61_interval_coverage" -> q61IntervalCoverage,
    "q47_grouped_median" -> q47GroupedMedian,
    "q48_ewma" -> q48Ewma,
    "q57_mad_outliers" -> q57MadOutliers,
    "q58_incremental_merge" -> q58IncrementalMerge,
    "q59_copurchase" -> q59Copurchase,
    "q49_skyline" -> q49Skyline,
    "q51_gap_fill" -> q51GapFill,
    "q52_stream_stream_join" -> q52StreamStreamJoin,
    "q53_cdc_merge" -> q53CdcMerge,
    "q67_stream_cdc_merge" -> q67StreamCdcMerge,
    "q54_scd2" -> q54Scd2,
    "q26_stream_window" -> q26StreamWindow,
    "q27_cube" -> q27Cube,
    "q28_range_join" -> q28RangeJoin,
    "q29_group_topk" -> q29GroupTopK,
    "q30_pivot" -> q30Pivot,
    "q63_unpivot" -> q63Unpivot,
    "q31_asof_tolerance" -> q31AsofTolerance,
    "q66_attribution" -> q66Attribution,
    "q32_asof_forward" -> q32AsofForward,
    "q33_session_window" -> q33SessionWindow,
    "q34_stream_dedupe" -> q34StreamDedupe,
    "q35_salted_join" -> q35SaltedJoin,
    "q36_stream_sessions" -> q36StreamSessions,
    "q38_sliding_window" -> q38SlidingWindow,
    "q41_range_frame" -> q41RangeFrame,
    "q42_stream_static_join" -> q42StreamStaticJoin,
    "m02_frame_sample" -> m02FrameSample)

  val oracle: Map[String, String] = Map(
    "q75_seasonal_adjust" ->
      """WITH monthly AS (
           SELECT year(o_orderdate) AS yr, month(o_orderdate) AS mo,
                  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
                       AS BIGINT) AS rev_cents,
                  CAST(count(*) AS BIGINT) AS n_orders
           FROM orders GROUP BY 1, 2
         ), prof AS (
           SELECT mo,
                  CAST((CAST(sum(rev_cents) AS BIGINT) * 120000)
                       // CAST(sum(sum(rev_cents)) OVER () AS BIGINT)
                       AS BIGINT) AS idx_bp
           FROM monthly GROUP BY mo
         )
         SELECT CAST(m.yr AS INTEGER) AS yr, CAST(m.mo AS INTEGER) AS mo,
                m.n_orders, m.rev_cents, p.idx_bp,
                CASE WHEN p.idx_bp = 0 THEN CAST(0 AS BIGINT)
                     ELSE CAST((m.rev_cents * 10000) // p.idx_bp AS BIGINT)
                END AS deseason_cents
         FROM monthly m JOIN prof p ON p.mo = m.mo
         ORDER BY m.yr, m.mo""",
    "q76_autocorr" ->
      """WITH ser AS (
           SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS t,
                  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
                       // 10000000 AS BIGINT) AS x
           FROM orders GROUP BY 1
         ), stats AS (
           SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS s
           FROM ser
         ), dev AS (
           SELECT t, (st.n * ser.x - st.s) AS dev FROM ser, stats st
         ), den AS (
           SELECT CAST(sum(dev * dev) AS BIGINT) AS den FROM dev
         ), ks AS (
           SELECT unnest(generate_series(1, 12)) AS k
         ), num AS (
           SELECT ks.k, CAST(count(*) AS BIGINT) AS n_pairs,
                  CAST(sum(a.dev * b.dev) AS BIGINT) AS num
           FROM dev a CROSS JOIN ks
           JOIN dev b ON b.t = a.t + ks.k
           GROUP BY ks.k
         )
         SELECT CAST(num.k AS BIGINT) AS lag, num.n_pairs,
                CASE WHEN den.den = 0 THEN CAST(0 AS BIGINT)
                     ELSE CAST((num.num * 10000) // den.den AS BIGINT)
                END AS acf_bp
         FROM num, den ORDER BY lag""",
    "q74_quantile_vector" ->
      """WITH r AS (
           SELECT o_orderpriority, o_totalprice,
                  row_number() OVER (PARTITION BY o_orderpriority
                    ORDER BY o_totalprice, o_orderkey) AS rn,
                  count(*) OVER (PARTITION BY o_orderpriority) AS cnt
           FROM orders
         )
         SELECT o_orderpriority,
                CAST(max(cnt) AS BIGINT) AS n_orders,
                max(CASE WHEN rn = (cnt + 3) // 4 THEN o_totalprice END) AS p25,
                max(CASE WHEN rn = (cnt + 1) // 2 THEN o_totalprice END) AS p50,
                max(CASE WHEN rn = (3 * cnt + 3) // 4 THEN o_totalprice END) AS p75
         FROM r GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q73_cascade_delete" ->
      """WITH delc AS (
           SELECT c_custkey FROM customer WHERE c_custkey % 50 = 0
         ), delo AS (
           SELECT o_orderkey FROM orders
           WHERE o_custkey IN (SELECT c_custkey FROM delc)
         ), acc AS (
           SELECT 'customer' AS table_name,
                  CAST(count(*) AS BIGINT) AS rows_before,
                  CAST(sum(CASE WHEN c_custkey % 50 = 0 THEN 1 ELSE 0 END)
                       AS BIGINT) AS rows_deleted
           FROM customer
           UNION ALL
           SELECT 'orders',
                  CAST(count(*) AS BIGINT),
                  CAST(sum(CASE WHEN o_custkey IN (SELECT c_custkey FROM delc)
                           THEN 1 ELSE 0 END) AS BIGINT)
           FROM orders
           UNION ALL
           SELECT 'lineitem',
                  CAST(count(*) AS BIGINT),
                  CAST(sum(CASE WHEN l_orderkey IN (SELECT o_orderkey FROM delo)
                           THEN 1 ELSE 0 END) AS BIGINT)
           FROM lineitem
         )
         SELECT table_name, rows_before, rows_deleted,
                rows_before - rows_deleted AS rows_after
         FROM acc ORDER BY table_name""",
    "q72_changepoint" ->
      """WITH daily AS (
           SELECT datediff('day', DATE '1970-01-01',
                           CAST(o_orderdate AS DATE)) AS day,
                  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
                       // 10000 AS BIGINT) AS y
           FROM orders GROUP BY 1
         ), stats AS (
           SELECT CAST(count(*) AS BIGINT) AS nd,
                  CAST(sum(y) AS BIGINT) AS tot
           FROM daily
         )
         SELECT d.day AS change_day, d.y AS y_at_change,
                CAST(sum(s.nd * d.y - s.tot) OVER (ORDER BY d.day
                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cusum,
                s.nd AS n_days
         FROM daily d, stats s
         ORDER BY abs(CAST(sum(s.nd * d.y - s.tot) OVER (ORDER BY d.day
                     ROWS UNBOUNDED PRECEDING) AS BIGINT)) DESC, change_day
         LIMIT 1""",
    "q70_cohort_retention" ->
      """WITH ev AS (
           SELECT user_id, epoch_us(ts) // 86400000000 AS day FROM events
         ), coh AS (
           SELECT user_id, min(day) AS cohort FROM ev GROUP BY 1
         ), act AS (
           SELECT DISTINCT e.user_id, c.cohort, e.day - c.cohort AS offset
           FROM ev e JOIN coh c ON c.user_id = e.user_id
           WHERE e.day - c.cohort <= 7
         ), sz AS (
           SELECT cohort, CAST(count(*) AS BIGINT) AS n_users FROM coh
           GROUP BY 1
         )
         SELECT a.cohort, a.offset, s.n_users,
                CAST(count(*) AS BIGINT) AS n_active,
                CAST(count(*) * 10000 // s.n_users AS BIGINT) AS retention_bp
         FROM act a JOIN sz s ON s.cohort = a.cohort
         GROUP BY a.cohort, a.offset, s.n_users
         ORDER BY a.cohort, a.offset""",
    "q71_assoc_rules" ->
      """WITH items AS (
           SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
         ), sup AS (
           SELECT l_partkey, CAST(count(*) AS BIGINT) AS n FROM items
           GROUP BY 1
         ), pairs AS (
           SELECT a.l_partkey AS ant, b.l_partkey AS con,
                  CAST(count(*) AS BIGINT) AS n_pair
           FROM items a JOIN items b
             ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
           GROUP BY 1, 2
           HAVING count(*) >= 3
         ), tot AS (
           SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
           FROM items
         )
         SELECT p.ant, p.con, p.n_pair,
                CAST(p.n_pair * 10000 // sa.n AS BIGINT) AS conf_bp,
                CAST(p.n_pair * t.n_orders * 1000 // (sa.n * sc.n) AS BIGINT)
                  AS lift_milli
         FROM pairs p
         JOIN sup sa ON sa.l_partkey = p.ant
         JOIN sup sc ON sc.l_partkey = p.con, tot t
         ORDER BY conf_bp DESC, p.ant, p.con LIMIT 30""",
    "q69_rank_bands" ->
      // identical band-level formulation; rank()/cume_dist spelled out as
      // prior-band counts so tie semantics are explicit in both engines
      """WITH bands AS (
           SELECT c_mktsegment AS segment,
                  CAST(floor(c_acctbal / 100.0) AS BIGINT) AS band,
                  CAST(count(*) AS BIGINT) AS n_at
           FROM customer GROUP BY 1, 2
         ), win AS (
           SELECT segment, band, n_at,
                  CAST(sum(n_at) OVER (PARTITION BY segment ORDER BY band
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
                  CAST(sum(n_at) OVER (PARTITION BY segment) AS BIGINT) AS n
           FROM bands
         )
         SELECT segment, band, n_at,
                cum - n_at + 1 AS rnk,
                CAST(CASE WHEN n <= 1 THEN 0
                     ELSE (cum - n_at) * 10000 // (n - 1) END AS BIGINT)
                  AS pr_bp,
                CAST(cum * 10000 // n AS BIGINT) AS cd_bp
         FROM win ORDER BY segment, band""",
    "q68_trend" ->
      // identical integer least-squares; DuckDB's HUGEINT sums CAST back
      // to BIGINT, `//` truncates toward zero like Spark `div`
      """WITH daily AS (
           SELECT p.p_brand AS brand,
                  datediff('day', DATE '1995-01-01',
                           CAST(l.l_shipdate AS DATE)) AS x,
                  CAST(sum(CAST(floor(l.l_extendedprice * 100) AS BIGINT))
                       // 10000 AS BIGINT) AS y
           FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
           GROUP BY 1, 2
         ), sums AS (
           SELECT brand, CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
                  CAST(sum(x*y) AS BIGINT) AS sxy,
                  CAST(sum(x*x) AS BIGINT) AS sxx
           FROM daily GROUP BY 1
         )
         SELECT brand, n AS n_days, sy AS sum_y,
                CASE WHEN n*sxx - sx*sx = 0 THEN CAST(0 AS BIGINT)
                     ELSE CAST(((n*sxy - sx*sy) * 10000) // (n*sxx - sx*sx)
                          AS BIGINT) END AS slope_bp
         FROM sums ORDER BY brand""",
    "q63_unpivot" ->
      // UNION-ALL melt (the portable unpivot); WHERE v IS NOT NULL mirrors
      // Spark unpivot's null-dropping contract
      """WITH d AS (
           SELECT l_returnflag,
                  CAST(l_quantity AS DECIMAL(9,2)) AS q,
                  CAST(l_extendedprice AS DECIMAL(9,2)) AS ep,
                  CAST(l_discount AS DECIMAL(9,2)) AS di,
                  CAST(l_tax AS DECIMAL(9,2)) AS tx
           FROM lineitem
         ), u AS (
           SELECT l_returnflag, 'l_quantity' AS measure, q AS v FROM d
           UNION ALL SELECT l_returnflag, 'l_extendedprice', ep FROM d
           UNION ALL SELECT l_returnflag, 'l_discount', di FROM d
           UNION ALL SELECT l_returnflag, 'l_tax', tx FROM d
         )
         SELECT l_returnflag, measure, count(*) AS n,
                CAST(sum(v) AS DOUBLE) AS total,
                CAST(min(v) AS DOUBLE) AS min_v,
                CAST(max(v) AS DOUBLE) AS max_v
         FROM u WHERE v IS NOT NULL
         GROUP BY l_returnflag, measure
         ORDER BY l_returnflag, measure""",
    "q60_zorder" ->
      """WITH p AS (
           SELECT CAST(p_size AS BIGINT) AS x,
                  CAST(floor((p_retailprice - 900) * 10) AS BIGINT) AS y
           FROM part
         ), zv AS (
           SELECT x, y,
                  CAST(list_sum(list_transform(range(0, 16), i ->
                         (((x >> i) & 1) << (2 * i))
                       + (((y >> i) & 1) << (2 * i + 1)))) AS BIGINT) AS z
           FROM p
         )
         SELECT z >> 8 AS tile, count(*) AS n_rows,
                min(x) AS min_x, max(x) AS max_x,
                min(y) AS min_y, max(y) AS max_y,
                CAST(CASE WHEN max(x) < 10 OR min(x) > 20
                            OR max(y) < 50 OR min(y) > 150
                     THEN 1 ELSE 0 END AS INTEGER) AS pruned
         FROM zv GROUP BY tile ORDER BY tile""",
    "q61_interval_coverage" ->
      """WITH iv AS (
           SELECT user_id, event_id, epoch_us(ts) AS start_us,
                  epoch_us(ts) + CAST(floor(value * 60) AS BIGINT) * 1000000 AS end_us
           FROM events
         ), isl AS (
           SELECT user_id, event_id, start_us, end_us,
                  max(end_us) OVER (PARTITION BY user_id
                                    ORDER BY start_us, end_us, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    AS prev_max_end
           FROM iv
         ), isl2 AS (
           SELECT user_id, start_us, end_us,
                  sum(CASE WHEN prev_max_end IS NULL OR start_us > prev_max_end
                           THEN 1 ELSE 0 END)
                    OVER (PARTITION BY user_id
                          ORDER BY start_us, end_us, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
           FROM isl
         ), per_island AS (
           SELECT user_id, island,
                  max(end_us) - min(start_us) AS covered_us, count(*) AS n_iv
           FROM isl2 GROUP BY user_id, island
         ), per_user AS (
           SELECT user_id, count(*) AS n_islands,
                  CAST(sum(covered_us) AS BIGINT) AS covered_us,
                  CAST(sum(n_iv) AS BIGINT) AS n_events
           FROM per_island GROUP BY user_id
         ), ev AS (
           SELECT user_id, start_us AS t, 1 AS delta FROM iv
           UNION ALL
           SELECT user_id, end_us AS t, -1 AS delta FROM iv
         ), dt AS (
           SELECT user_id, t, CAST(sum(delta) AS BIGINT) AS delta
           FROM ev GROUP BY user_id, t
         ), run AS (
           SELECT user_id,
                  CAST(sum(delta) OVER (PARTITION BY user_id ORDER BY t
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS BIGINT) AS running
           FROM dt
         ), mc AS (
           SELECT user_id, max(running) AS max_concurrent FROM run GROUP BY user_id
         )
         SELECT u.user_id, u.n_events, u.n_islands, u.covered_us, m.max_concurrent
         FROM per_user u JOIN mc m USING (user_id)
         ORDER BY u.user_id""",
    "q47_grouped_median" ->
      // Deliberately NOT builtin median(): DuckDB interpolates lower +
      // 0.5*(upper-lower), which can differ from the engine's (a+b)/2 by
      // 1 ULP on adversarial doubles. The oracle pins the SAME middle-pair
      // avg formulation, so both engines run identical IEEE operations.
      """WITH r AS (
           SELECT o_orderpriority, o_totalprice,
                  row_number() OVER (PARTITION BY o_orderpriority
                                     ORDER BY o_totalprice, o_orderkey) AS rn,
                  count(*) OVER (PARTITION BY o_orderpriority) AS cnt
           FROM orders
         )
         SELECT o_orderpriority, max(cnt) AS n_orders,
                avg(o_totalprice) AS median_price
         FROM r
         WHERE rn = (cnt + 1) // 2 OR rn = (cnt + 2) // 2
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q57_mad_outliers" ->
      // the identical two-median formulation, spelled out (the q47
      // discipline: explicit middle-pair (a+b)/2, never builtin median)
      """WITH o AS (
           SELECT o_orderpriority, o_orderkey, o_totalprice FROM orders
         ), m1 AS (
           SELECT o_orderpriority, avg(o_totalprice) AS median_price FROM (
             SELECT o_orderpriority, o_totalprice,
                    row_number() OVER (PARTITION BY o_orderpriority
                                       ORDER BY o_totalprice, o_orderkey) AS rn,
                    count(*) OVER (PARTITION BY o_orderpriority) AS cnt
             FROM o) t
           WHERE rn = (cnt + 1) // 2 OR rn = (cnt + 2) // 2
           GROUP BY o_orderpriority
         ), dv AS (
           SELECT o.o_orderpriority, o.o_orderkey, m.median_price,
                  abs(o.o_totalprice - m.median_price) AS dev
           FROM o JOIN m1 m ON m.o_orderpriority = o.o_orderpriority
         ), m2 AS (
           SELECT o_orderpriority, avg(dev) AS mad FROM (
             SELECT o_orderpriority, dev,
                    row_number() OVER (PARTITION BY o_orderpriority
                                       ORDER BY dev, o_orderkey) AS rn,
                    count(*) OVER (PARTITION BY o_orderpriority) AS cnt
             FROM dv) t
           WHERE rn = (cnt + 1) // 2 OR rn = (cnt + 2) // 2
           GROUP BY o_orderpriority
         )
         SELECT d.o_orderpriority, count(*) AS n_orders, d.median_price,
                m2.mad,
                CAST(sum(CASE WHEN d.dev > 3.0 * m2.mad THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_outliers
         FROM dv d JOIN m2 ON m2.o_orderpriority = d.o_orderpriority
         GROUP BY d.o_orderpriority, d.median_price, m2.mad
         ORDER BY d.o_orderpriority""",
    "q59_copurchase" ->
      """WITH items AS (
           SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
         )
         SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
                count(*) AS n_orders
         FROM items a JOIN items b
           ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
         GROUP BY a.l_partkey, b.l_partkey
         ORDER BY n_orders DESC, part_a, part_b LIMIT 20""",
    "q58_incremental_merge" ->
      // deliberately the DIRECT full recompute — equality with the
      // engine's partial-state merge IS the incremental-maintenance proof
      """SELECT user_id, count(*) AS n_events,
                min(epoch_us(ts)) AS first_us, max(epoch_us(ts)) AS last_us,
                CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
                  AS sum_cents
         FROM events GROUP BY user_id ORDER BY user_id""",
    "q48_ewma" ->
      """WITH daily AS (
           SELECT user_id, CAST(ts AS DATE) AS day, count(*) AS cnt
           FROM events GROUP BY user_id, CAST(ts AS DATE)
         ), arr AS (
           SELECT user_id, list(CAST(cnt AS DOUBLE) ORDER BY day) AS xs
           FROM daily GROUP BY user_id
         )
         SELECT user_id, CAST(len(xs) AS BIGINT) AS n_days,
                round(list_reduce(xs, (acc, x) -> 0.25 * x + 0.75 * acc), 9) AS ewma
         FROM arr ORDER BY user_id""",
    "q54_scd2" ->
      """SELECT user_id,
                CAST(row_number() OVER w AS INTEGER) AS version,
                epoch_us(ts) AS from_us,
                coalesce(epoch_us(lead(ts, 1) OVER w), -1) AS to_us,
                event_type AS op, value
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
         ORDER BY user_id, version""",
    "q52_stream_stream_join" ->
      """SELECT v.event_id AS view_id, c.event_id AS click_id, v.user_id,
                epoch_us(v.ts) AS view_us, epoch_us(c.ts) AS click_us
         FROM events v JOIN events c ON c.user_id = v.user_id
         WHERE v.event_type = 'view' AND c.event_type = 'click'
           AND epoch_us(c.ts) >= epoch_us(v.ts)
           AND epoch_us(c.ts) <= epoch_us(v.ts) + 1800000000
         ORDER BY view_id, click_id""",
    "q67_stream_cdc_merge" ->
      """WITH ranked AS (
           SELECT user_id, ts, event_id, event_type, value, count(*) OVER w AS n_ops,
                  row_number() OVER (PARTITION BY user_id
                                     ORDER BY ts DESC, event_id DESC) AS rn
           FROM events
           WINDOW w AS (PARTITION BY user_id)
         )
         SELECT user_id, n_ops, epoch_us(ts) AS last_us,
                event_type AS last_op, value AS last_value
         FROM ranked WHERE rn = 1 AND event_type <> 'error'
         ORDER BY user_id""",
    "q53_cdc_merge" ->
      """WITH ranked AS (
           SELECT user_id, ts, event_id, event_type, value, count(*) OVER w AS n_ops,
                  row_number() OVER (PARTITION BY user_id
                                     ORDER BY ts DESC, event_id DESC) AS rn
           FROM events
           WINDOW w AS (PARTITION BY user_id)
         )
         SELECT user_id, n_ops, epoch_us(ts) AS last_us,
                event_type AS last_op, value AS last_value
         FROM ranked WHERE rn = 1 AND event_type <> 'error'
         ORDER BY user_id""",
    "q51_gap_fill" ->
      """WITH daily AS (
           SELECT user_id, CAST(ts AS DATE) AS day, count(*) AS cnt
           FROM events GROUP BY 1, 2
         ), span AS (
           SELECT user_id, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY user_id
         ), spine AS (
           SELECT user_id, CAST(g.g AS DATE) AS day
           FROM span, LATERAL (SELECT unnest(generate_series(
             CAST(d0 AS TIMESTAMP), CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS g) g
         ), filled AS (
           SELECT s.user_id, s.day, coalesce(d.cnt, 0) AS cnt
           FROM spine s LEFT JOIN daily d ON d.user_id = s.user_id AND d.day = s.day
         ), numbered AS (
           SELECT user_id, day, cnt,
                  row_number() OVER (PARTITION BY user_id ORDER BY day) AS idx
           FROM filled
         ), islands AS (
           SELECT user_id,
                  idx - row_number() OVER (PARTITION BY user_id ORDER BY day) AS grp
           FROM numbered WHERE cnt = 0
         ), runs AS (
           SELECT user_id, grp, count(*) AS run FROM islands GROUP BY user_id, grp
         ), mg AS (
           SELECT user_id, max(run) AS max_gap_run FROM runs GROUP BY user_id
         )
         SELECT f.user_id, count(*) AS span_days,
                CAST(sum(CASE WHEN cnt > 0 THEN 1 ELSE 0 END) AS BIGINT) AS active_days,
                CAST(sum(CASE WHEN cnt = 0 THEN 1 ELSE 0 END) AS BIGINT) AS gap_days,
                CAST(coalesce(max(m.max_gap_run), 0) AS BIGINT) AS max_gap_run
         FROM filled f LEFT JOIN mg m ON m.user_id = f.user_id
         GROUP BY f.user_id ORDER BY f.user_id""",
    "q49_skyline" ->
      """SELECT p.p_partkey, p.p_retailprice, p.p_size
         FROM part p
         WHERE NOT EXISTS (
           SELECT 1 FROM part q
           WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
             AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size))
         ORDER BY p.p_partkey""",
    "q26_stream_window" ->
      """WITH wm AS (
           SELECT max(ts) - INTERVAL 30 MINUTE AS w FROM events
         ), agg AS (
           SELECT time_bucket(INTERVAL 1 HOUR, ts) AS ws, event_type,
                  count(*) AS cnt, min(value) AS min_value, max(value) AS max_value
           FROM events GROUP BY 1, 2
         )
         SELECT epoch_us(ws) AS window_start_us, event_type, cnt, min_value, max_value
         FROM agg, wm
         WHERE ws + INTERVAL 1 HOUR <= wm.w
         ORDER BY window_start_us, event_type""",
    "q27_cube" ->
      """SELECT l_returnflag, l_linestatus,
                CAST(SUM(CAST(l_quantity AS DECIMAL(9,2))) AS DOUBLE) AS sum_qty,
                count(DISTINCT l_orderkey) AS n_orders,
                count(*) AS cnt,
                CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
         FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
         ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""",
    "q28_range_join" ->
      """WITH e AS (
           SELECT event_id, user_id, epoch_us(ts) AS t FROM events
           WHERE event_type = 'error'
         ), c AS (
           SELECT user_id, epoch_us(ts) AS t, value FROM events
           WHERE event_type = 'click'
         )
         SELECT e.event_id,
                count(c.value) AS n_clicks,
                coalesce(max(c.value), -1.0) AS max_click_value
         FROM e LEFT JOIN c
           ON e.user_id = c.user_id
          AND c.t >= e.t - 300000000 AND c.t < e.t
         GROUP BY e.event_id ORDER BY e.event_id""",
    "q29_group_topk" ->
      """SELECT o_custkey, rn, o_orderkey, o_totalprice FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
                  CAST(row_number() OVER (PARTITION BY o_custkey
                    ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rn
           FROM orders) t
         WHERE rn <= 3 ORDER BY o_custkey, rn""",
    "q30_pivot" ->
      """SELECT l_returnflag,
                count(*) FILTER (WHERE l_linestatus = 'F') AS cnt_f,
                CAST(SUM(CAST(l_quantity AS DECIMAL(9,2))) FILTER (WHERE l_linestatus = 'F') AS DOUBLE) AS qty_f,
                count(*) FILTER (WHERE l_linestatus = 'O') AS cnt_o,
                CAST(SUM(CAST(l_quantity AS DECIMAL(9,2))) FILTER (WHERE l_linestatus = 'O') AS DOUBLE) AS qty_o
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q66_attribution" ->
      """WITH t AS (
           SELECT event_id AS touch_id, user_id, ts, event_type AS channel
           FROM events WHERE event_type IN ('view', 'click', 'signup')
         ), p AS (
           SELECT event_id, user_id, ts, value
           FROM events WHERE event_type = 'purchase'
         ), m AS (
           SELECT p.event_id, p.value, t.channel,
                  row_number() OVER (PARTITION BY p.event_id
                                     ORDER BY t.ts DESC, t.touch_id DESC) AS rn
           FROM p LEFT JOIN t ON t.user_id = p.user_id
                AND t.ts <= p.ts AND t.ts >= p.ts - INTERVAL 6 HOUR
         )
         SELECT coalesce(channel, 'unattributed') AS channel,
                CAST(count(*) AS BIGINT) AS n_purchases,
                CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS revenue
         FROM m WHERE rn = 1
         GROUP BY 1 ORDER BY channel""",
    "q31_asof_tolerance" ->
      """SELECT l.event_id,
                CASE WHEN r.event_id IS NOT NULL AND l.ts - r.ts <= INTERVAL 10 MINUTE
                     THEN r.event_id ELSE -1 END AS matched_click_id,
                CASE WHEN r.event_id IS NOT NULL AND l.ts - r.ts <= INTERVAL 10 MINUTE
                     THEN r.value ELSE -1.0 END AS matched_value
         FROM (SELECT * FROM events WHERE event_type = 'error') l
         ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') r
           ON l.user_id = r.user_id AND l.ts >= r.ts
         ORDER BY l.event_id""",
    "q32_asof_forward" ->
      """SELECT l.event_id,
                coalesce(r.event_id, -1) AS matched_click_id,
                coalesce(r.value, -1.0) AS matched_value
         FROM (SELECT * FROM events WHERE event_type = 'error') l
         ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') r
           ON l.user_id = r.user_id AND l.ts <= r.ts
         ORDER BY l.event_id""",
    "q33_session_window" ->
      """WITH e AS (
           SELECT user_id, epoch_us(ts) AS t FROM events
         ), flagged AS (
           SELECT user_id, t,
                  CASE WHEN lag(t) OVER (PARTITION BY user_id ORDER BY t) IS NULL
                         OR t - lag(t) OVER (PARTITION BY user_id ORDER BY t) >= 1800000000
                       THEN 1 ELSE 0 END AS opens
           FROM e
         ), sess AS (
           SELECT user_id, t,
                  sum(opens) OVER (PARTITION BY user_id ORDER BY t
                                   ROWS UNBOUNDED PRECEDING) AS session_idx
           FROM flagged
         )
         SELECT user_id, min(t) AS session_start_us,
                max(t) - min(t) AS duration_us,
                count(*) AS n_events
         FROM sess GROUP BY user_id, session_idx
         ORDER BY user_id, session_start_us""",
    "q34_stream_dedupe" ->
      """WITH fp AS (
           SELECT doc_id,
                  md5(trim(regexp_replace(replace(lower(text), chr(160), ' '), '\s+', ' ', 'g'))) AS hash
           FROM documents
         ), r AS (
           SELECT hash, doc_id AS id,
                  row_number() OVER (PARTITION BY hash ORDER BY doc_id) AS rn
           FROM fp
         )
         SELECT hash, id, CAST(rn = 1 AS INT) AS first_seen,
                rn - 1 AS dups_so_far
         FROM r ORDER BY hash, id""",
    "q38_sliding_window" ->
      """WITH e AS (
           SELECT epoch_us(time_bucket(INTERVAL 30 MINUTE, ts)) AS b, event_type, value
           FROM events
         ), fanned AS (
           -- hour windows sliding by 30 min: every event is in exactly the
           -- windows starting at its 30-min bucket and 30 min before it
           SELECT u.ws, event_type, value FROM e,
                  LATERAL (SELECT unnest([b, b - 1800000000]) AS ws) u
         )
         SELECT ws AS window_start_us, event_type,
                count(*) AS cnt, min(value) AS min_value, max(value) AS max_value
         FROM fanned GROUP BY ws, event_type
         ORDER BY window_start_us, event_type""",
    "q36_stream_sessions" ->
      """WITH e AS (
           SELECT user_id, epoch_us(ts) AS t FROM events
         ), wm AS (
           SELECT (max(t) // 1000 - 1800000) * 1000 AS w FROM e
         ), flagged AS (
           SELECT user_id, t,
                  CASE WHEN lag(t) OVER (PARTITION BY user_id ORDER BY t) IS NULL
                         OR t - lag(t) OVER (PARTITION BY user_id ORDER BY t) >= 1800000000
                       THEN 1 ELSE 0 END AS opens
           FROM e
         ), sess AS (
           SELECT user_id, t,
                  sum(opens) OVER (PARTITION BY user_id ORDER BY t
                                   ROWS UNBOUNDED PRECEDING) AS session_idx
           FROM flagged
         ), agg AS (
           SELECT user_id, min(t) AS session_start_us,
                  max(t) - min(t) AS duration_us,
                  count(*) AS n_events,
                  max(t) + 1800000000 AS session_end_us
           FROM sess GROUP BY user_id, session_idx
         )
         SELECT user_id, session_start_us, duration_us, n_events
         FROM agg, wm WHERE agg.session_end_us <= wm.w
         ORDER BY user_id, session_start_us""",
    "q35_salted_join" ->
      """WITH dim AS (
           SELECT user_id, min(ts) AS first_ts FROM events GROUP BY user_id
         )
         SELECT e.event_type, count(*) AS n_events,
                CAST(sum(CASE WHEN e.ts > d.first_ts THEN 1 ELSE 0 END) AS BIGINT) AS n_after_first
         FROM events e JOIN dim d ON e.user_id = d.user_id
         GROUP BY e.event_type ORDER BY e.event_type""",
    "q41_range_frame" ->
      """WITH e AS (
           SELECT event_id, user_id, epoch_us(ts) AS t, value FROM events
         )
         SELECT event_id,
                count(*) OVER w AS n_prev_hour,
                coalesce(min(value) OVER w, -1.0) AS min_prev_value,
                coalesce(max(value) OVER w, -1.0) AS max_prev_value
         FROM e
         WINDOW w AS (PARTITION BY user_id ORDER BY t
                      RANGE BETWEEN 3600000000 PRECEDING AND 1 PRECEDING)
         ORDER BY event_id""",
    "q42_stream_static_join" ->
      """WITH dim AS (
           SELECT user_id, min(ts) AS first_ts FROM events GROUP BY user_id
         ), j AS (
           SELECT e.ts, e.event_type, d.first_ts
           FROM events e JOIN dim d ON e.user_id = d.user_id
         ), wm AS (
           SELECT max(ts) - INTERVAL 30 MINUTE AS w FROM events
         ), agg AS (
           SELECT time_bucket(INTERVAL 1 HOUR, ts) AS ws, event_type,
                  count(*) AS cnt,
                  CAST(sum(CASE WHEN ts > first_ts THEN 1 ELSE 0 END) AS BIGINT) AS n_after_first
           FROM j GROUP BY 1, 2
         )
         SELECT epoch_us(ws) AS window_start_us, event_type, cnt, n_after_first
         FROM agg, wm
         WHERE ws + INTERVAL 1 HOUR <= wm.w
         ORDER BY window_start_us, event_type""",
    "m02_frame_sample" ->
      """WITH b AS (
           SELECT doc_id, n_chars % 97 AS nf FROM documents
         )
         SELECT doc_id, CAST(unnest(generate_series(0, nf - 1, 7)) AS INT) AS frame_idx
         FROM b WHERE nf > 0 ORDER BY doc_id, frame_idx""")
}
