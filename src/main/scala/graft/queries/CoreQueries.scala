package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.core.Tables._
import Shared.dec
import graft.functions.TextFunctions

/** SURVEY §2.9 declared queries Q1–Q12 and Q16–Q20: the relational core.
  *
  * Design rules shared by every query here:
  *  - Deterministic output order (explicit ORDER BY incl. tie-breaks) so the
  *    driver's hash-compare is stable.
  *  - Money aggregations cast to DECIMAL(18,2) *before* summing, then cast
  *    the exact result to DOUBLE — decimal addition is associative, so the
  *    result is identical regardless of partial-aggregation order (Spark's
  *    map-side combine at 100 TB) and identical to the DuckDB oracle.
  *  - Joins leave broadcast selection to Catalyst/AQE except where a side is
  *    known-dimensional (region/nation) — those are hinted.
  */
object CoreQueries {
  type Q = (SparkSession, String) => DataFrame

  /** Q1 — scan + projection with pushed-down column pruning (SURVEY S1).
    * `.explain` shows ReadSchema limited to the two selected columns. */
  def q01ScanProject(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .orderBy(col("l_orderkey"), col("l_linenumber"))
      .select(col("l_orderkey"), col("l_quantity"))

  /** Q2 — group-count histogram (SURVEY S17/A2: extension/format counts). */
  def q02GroupCount(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("event_type"))

  /** Q3 — min-length + language filter (SURVEY P1/P2: MIN_TEXT_LENGTH=200). */
  def q03Filter(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .filter(length(col("text")) >= 200 && col("lang") === "en")
      .orderBy(col("doc_id"))

  /** Q4a — anti join: documents lacking an embedding in the label%3=0
    * subset (SURVEY P4/J2 metadata-vs-data anti-join shape). */
  def q04AntiJoin(s: SparkSession, d: String): DataFrame = {
    val sub = embeddings(s, d).filter(col("label") % 3 === 0)
      .select(col("vec_id"))
    documents(s, d)
      .join(sub, col("doc_id") === col("vec_id"), "left_anti")
      .select(col("doc_id"), col("source"))
      .orderBy(col("doc_id"))
  }

  /** Q4b — semi join: the complement of q04. */
  def q04SemiJoin(s: SparkSession, d: String): DataFrame = {
    val sub = embeddings(s, d).filter(col("label") % 3 === 0)
      .select(col("vec_id"))
    documents(s, d)
      .join(sub, col("doc_id") === col("vec_id"), "left_semi")
      .select(col("doc_id"), col("source"))
      .orderBy(col("doc_id"))
  }

  /** Q5 — prediction merge-back: left join + coalesce keeps prior tags where
    * no prediction exists (SURVEY J1, assets/processing/assets.py:543-558).
    * No broadcast hint: the prediction side is CORPUS-derived (a filter
    * of the embedding table), so an unconditional broadcast would be
    * the g08 bench-scale bake-in — AQE sees the runtime size and
    * broadcasts while small, degrading to a shuffle join when a
    * production prediction batch outgrows the threshold. */
  def q05LeftJoinCoalesce(s: SparkSession, d: String): DataFrame = {
    val preds = embeddings(s, d).filter(col("label") % 2 === 0)
      .select(col("vec_id"), concat(lit("label_"), col("label")).as("pred"))
    documents(s, d)
      .join(preds, col("doc_id") === col("vec_id"), "left")
      .select(col("doc_id"), coalesce(col("pred"), col("source")).as("tag"))
      .orderBy(col("doc_id"))
  }

  /** Q37 — full outer join (completing the join family next to q04/q05's
    * anti/semi/left): both sides keep unmatched rows, keys coalesced.
    * Spark plans a sort-merge full-outer on the key shuffle — the only
    * correct distributed shape (broadcast cannot preserve the unmatched
    * build side). */
  def q37FullOuter(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d).filter(col("doc_id") % 3 === 0)
      .select(col("doc_id"), col("source"))
    val emb = embeddings(s, d).filter(col("vec_id") % 2 === 0)
      .select(col("vec_id"), col("label"))
    docs.join(emb, col("doc_id") === col("vec_id"), "full_outer")
      .select(coalesce(col("doc_id"), col("vec_id")).as("key"),
        coalesce(col("source"), lit("none")).as("source"),
        coalesce(col("label").cast("long"), lit(-1L)).as("label"))
      .orderBy(col("key"))
  }

  /** Rates fit decimal(3,2) — the narrow-precision argument of
    * [[Shared.dec]]. */
  private def rate(c: org.apache.spark.sql.Column) = c.cast(DecimalType(3, 2))

  /** Q6 — multi-way equi-join revenue rollup by nation (SURVEY J4).
    * region/nation broadcast; customer⋈orders⋈lineitem shuffle on keys.
    * Revenue summed in exact decimal then cast to double (see header). */
  def q06MultiJoinRevenue(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(sum(dec(col("l_extendedprice")) * (lit(1).cast(DecimalType(3, 2)) - rate(col("l_discount"))))
        .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("r_name"), col("n_name"))

  /** Q7 — first-wins content dedupe via hash + window (SURVEY A1; the
    * reference's BLAKE2b walk-order dedupe, pinned to doc_id order).
    * At scale this is a single hash-shuffle on the digest — no pairwise
    * comparison ever happens. */
  def q07DedupeFirstWins(s: SparkSession, d: String): DataFrame =
    graft.operators.Dedupe.exactFirstWins(documents(s, d), sha2(col("text"), 256), col("doc_id"))
      .select(col("doc_id"), col("source"))
      .orderBy(col("doc_id"))

  /** Q9 — oldest order date per customer (SURVEY A5 min-over-collection). */
  def q09GroupMin(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(min(col("o_orderdate")).as("oldest"), max(col("o_orderdate")).as("newest"),
        count(lit(1)).as("n_orders"))
      .orderBy(col("o_custkey"))

  /** Q10 — scalar enrichment: word_count, license map, coalesce fallbacks
    * (SURVEY A6/F3/F14 — the add_dataset_record enrichment surface). */
  def q10ScalarEnrich(s: SparkSession, d: String): DataFrame = {
    val lic = when(col("source").isin("src0", "src5"), "OGL-UK-3.0")
      .when(col("source").isin("src1", "src6"), "CC BY")
      .when(col("source").isin("src2", "src7"), "CC0")
      .otherwise(lit(null).cast("string"))
    documents(s, d)
      .select(
        col("doc_id"),
        TextFunctions.wordCount(col("text")).as("word_count"),
        lic.as("license"),
        coalesce(when(length(col("lang")) === 0, lit(null)).otherwise(col("lang")), lit("en")).as("lang_final"))
      .orderBy(col("doc_id"))
  }

  /** Q11 — multi-key aggregate + ROLLUP (SURVEY A9 grouping-sets surface). */
  def q11AggRollup(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
        sum(dec(col("l_extendedprice")) * (lit(1).cast(DecimalType(3, 2)) - rate(col("l_discount"))))
          .cast("double").as("sum_rev"),
        count(lit(1)).as("cnt"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  /** Q12 — order + limit: TakeOrderedAndProject, no full sort at scale. */
  def q12OrderLimit(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .select(col("o_orderkey"), col("o_totalprice"))
      .limit(10)

  /** Q16 — running revenue per customer with an explicit window frame
    * (SURVEY W8). Decimal-exact running sum cast to double. */
  def q16WindowRunning(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    orders(s, d)
      .withColumn("running_rev", sum(dec(col("o_totalprice"))).over(w).cast("double"))
      .select(col("o_custkey"), col("o_orderkey"), col("running_rev"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  /** Q17 — union-all row count + EXCEPT missing-keys report (SURVEY U1/U3:
    * partition union + expected-minus-present reconciliation). */
  def q17UnionExcept(s: SparkSession, d: String): DataFrame = {
    val unionCnt = customer(s, d).select(col("c_nationkey").as("k"))
      .unionByName(supplier(s, d).select(col("s_nationkey").as("k")))
      .agg(count(lit(1)).as("val"))
      .select(lit("union_rows").as("metric"), col("val").cast("long").as("val"))
    val missing = nation(s, d).select(col("n_nationkey").as("k"))
      .except(supplier(s, d).select(col("s_nationkey").as("k")))
      .select(
        concat(lit("missing_nation_"), lpad(col("k").cast("string"), 2, "0")).as("metric"),
        col("k").cast("long").as("val"))
    unionCnt.unionByName(missing).orderBy(col("metric"))
  }

  /** Q18 — array kernel: slice/distinct/union with sorted canonical form
    * (SURVEY U2 tag-set semantics). Array results are serialized to '|'
    * strings because the driver's pandas comparator cannot hash numpy
    * arrays; the oracle SQL serializes identically. */
  def q18ArrayOps(s: SparkSession, d: String): DataFrame = {
    val words = split(trim(col("text")), "\\s+")
    val first5 = slice(words, 1, 5)
    documents(s, d)
      .select(
        col("doc_id"),
        array_join(sort_array(array_distinct(first5)), "|").as("tags"),
        array_join(sort_array(array_distinct(array_union(first5, array(lit("extra"), lit("the"))))), "|").as("tags_aug"),
        size(array_intersect(first5, array(lit("the"), lit("data"), lit("spark")))).cast("long").as("n_common"))
      .orderBy(col("doc_id"))
  }

  /** Q19 — string kernel chain: whitespace-normalize, substr, case, concat_ws,
    * safe-name (SURVEY F5–F8, F11, F12). */
  def q19StringKernel(s: SparkSession, d: String): DataFrame = {
    val cleaned = TextFunctions.normalizeWhitespace(col("text"))
    documents(s, d)
      .select(
        col("doc_id"),
        concat_ws(" | ", col("source"), col("lang"), upper(substring(cleaned, 1, 40))).as("packed"),
        length(cleaned).as("clean_len"),
        TextFunctions.safeName(concat_ws("-", col("source"), col("lang"))).as("safe_name"))
      .orderBy(col("doc_id"))
  }

  /** Q20 — JSON extraction from the events props payload (SURVEY F10). */
  def q20JsonExtract(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
      .orderBy(col("event_id"))

  /** Q22 — backward as-of join: each error event picks the latest preceding
    * click by the same user ([[graft.operators.AsofJoin]]: one shuffle +
    * window, no range-join explosion). Nullable match keys are coalesced to
    * -1 sentinels for the driver's hash compare (pandas NaN landmine). */
  def q22AsofJoin(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    val errors = ev.filter(col("event_type") === "error")
      .select(col("event_id"), col("user_id"), col("ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts"), col("value"))
    graft.operators.AsofJoin.backward(errors, clicks, "user_id", "ts",
        Seq("click_id", "value"), rightTieBreak = "click_id")
      .select(col("event_id"),
        coalesce(col("asof_click_id"), lit(-1L)).as("matched_click_id"),
        coalesce(col("asof_value"), lit(-1.0)).as("matched_value"))
      .orderBy(col("event_id"))
  }

  /** Q23 — gap sessionization of the event log: 30-minute inactivity gap
    * per user ([[graft.operators.Sessionize]]); per-session event count and
    * microsecond duration. ts is raw TIMESTAMP(NANOS) longs on the Spark
    * side, integer-div'd to micros because DuckDB timestamps are
    * microsecond-precision (`epoch_us` in the oracle — identical values;
    * `epoch_ns` would zero-pad and mismatch). */
  def q23Sessionize(s: SparkSession, d: String): DataFrame =
    graft.operators.Sessionize.sessions(
        events(s, d).withColumn("t_us", expr("ts DIV 1000")),
        col("user_id"), col("t_us"), maxGap = 30L * 60 * 1000 * 1000)
      .select(col("key").as("user_id"), col("session_idx"),
        col("n_events"), col("duration").as("duration_us"))
      .orderBy(col("user_id"), col("session_idx"))

  /** Q24 — histogram binning of event values over a fixed [0, 50) range in
    * 25 bins plus overflow bin 26 / underflow bin 0 (width_bucket
    * semantics, spelled out because the oracle's DuckDB lacks the
    * function); group-count per bucket — the profiling primitive. */
  def q24Histogram(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .select(
        when(col("value") < 0.0, lit(0L))
          .when(col("value") >= 50.0, lit(26L))
          .otherwise(floor(col("value") / 2.0) + 1).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("bucket"))

  /** Q25 — exact percentiles of event values per event type (distribution
    * profiling). Spark's exact `percentile` and DuckDB's `quantile_cont`
    * share the same sorted-interpolation definition, so the doubles agree
    * bit-for-bit. */
  def q25Percentile(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(col("event_type"))
      .agg(
        percentile(col("value"), lit(0.5)).as("p50"),
        percentile(col("value"), lit(0.9)).as("p90"),
        percentile(col("value"), lit(0.99)).as("p99"))
      .orderBy(col("event_type"))

  /** Q50 — fuzzy record linkage with LOSSLESS pigeonhole blocking: all
    * same-nation customer pairs within edit distance 1 (equal-length, so
    * substitution distance). The naive spec is O(n²) levenshtein; a
    * single blocking key trades recall for cost. This uses the d02
    * SimHash trick instead: two COMPLEMENTARY character masks over the
    * name's digit region (even positions / odd positions). A pair
    * differing in exactly one character agrees completely on at least
    * one mask — so two hash equi-join passes on (nation, length, mask)
    * provably generate every qualifying pair, and the expensive
    * levenshtein runs only on O(Σ block²) candidates. The ORACLE is the
    * independent UNBLOCKED quadratic spec — the hash match proves the
    * blocking rewrite loses nothing, the q35/q43 physical-rewrite
    * pattern. */
  def q50FuzzyLink(s: SparkSession, d: String): DataFrame = {
    def mask(parity: Int) = concat((0 until 9).filter(_ % 2 == parity)
      .map(i => substring(col("c_name"), 10 + i, 1)): _*)
    val c = customer(s, d).select(col("c_custkey"), col("c_name"), col("c_nationkey"),
      length(col("c_name")).as("ln"), mask(0).as("m0"), mask(1).as("m1"))
    def pass(mk: String) = {
      val a = c.select(col("c_nationkey").as("nk"), col("ln"), col(mk).as("blk"),
        col("c_custkey").as("id_a"), col("c_name").as("name_a"))
      val b = c.select(col("c_nationkey").as("nk"), col("ln"), col(mk).as("blk"),
        col("c_custkey").as("id_b"), col("c_name").as("name_b"))
      a.join(b, Seq("nk", "ln", "blk")).filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"), col("name_a"), col("name_b"))
    }
    pass("m0").union(pass("m1")).distinct()
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
      .filter(col("dist") <= 1)
      .select(col("id_a"), col("id_b"), col("dist"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Q55 — schema-evolution union: merge two "generations" of a table
    * where the newer one grew a column (`unionByName` with
    * allowMissingColumns — positional UNION would silently misalign or
    * reject). The lakehouse reality that a 100 TB table is never one
    * schema: old partitions lack the new column, readers coalesce a
    * default. Plans as a plain union of projections — no shuffle. */
  def q55UnionByName(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d)
    val gen1 = o.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_totalprice"))
    val gen2 = o.filter(col("o_orderkey") % 2 =!= 0)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
    gen1.unionByName(gen2, allowMissingColumns = true)
      .select(col("o_orderkey"), col("o_totalprice"),
        coalesce(col("o_orderpriority"), lit("UNKNOWN")).as("priority"))
      .orderBy(col("o_orderkey"))
  }

  /** Q56 — ANALYZE-style table profile in ONE pass: row count, per-column
    * null and distinct counts, typed min/max, exact decimal money sum.
    * Spark plans the multiple COUNT(DISTINCT) via a single Expand +
    * two-level aggregate — one scan however many distinct columns are
    * profiled (the optimizer-statistics collection shape; never one
    * scan per column). Every output is TYPED (no numeric→string
    * rendering, which is never cross-engine-stable). */
  def q56Profile(s: SparkSession, d: String): DataFrame =
    orders(s, d).agg(
      count(lit(1)).as("n_rows"),
      count_distinct(col("o_custkey")).as("custkey_distinct"),
      sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("custkey_nulls"),
      count_distinct(col("o_orderstatus")).as("status_distinct"),
      count_distinct(col("o_orderpriority")).as("priority_distinct"),
      min(col("o_totalprice")).as("price_min"),
      max(col("o_totalprice")).as("price_max"),
      sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double").as("price_sum"))

  /** DQ01 — DATA-QUALITY EXPECTATION GATE: the declarative contract check
    * a pipeline runs before promoting a corpus — seven rules, each
    * reported as (rule, n_checked, n_violations, violation_bp). The
    * catalog mixes hard invariants that must hold (null text, length
    * consistency, unknown language, key uniqueness, referential
    * integrity — 0 on healthy data) with profiling gates that fire (min
    * length, PII emails), so the gate's output is a real scorecard, not
    * a wall of zeros.
    *
    * Scale design: ALL six doc-side rules — the five row-local checks AND
    * key uniqueness — are ONE aggregate over one scan (never a scan per
    * rule — the q56 ANALYZE discipline; Spark plans the lone
    * count_distinct as a two-phase distinct aggregate on the same scan),
    * melted to rows with `stack`; referential integrity is one left
    * join + null count (AQE broadcasts the smaller side). The PII email
    * regex is guarded by a cheap substring test — `contains("@")` — so
    * the codegen'd rlike only runs on rows that can possibly match (the
    * pattern requires a literal '@', so the guard is lossless). Everything
    * lands in integer counts — hash-exact. */
  def dq01Expectations(s: SparkSession, d: String): DataFrame = {
    import graft.operators.TextAnalysis
    val docs = documents(s, d)
    val rowRules = docs.agg(
        count(lit(1)).as("n"),
        sum(when(col("text").isNull, 1L).otherwise(0L)).as("v1"),
        sum(when(col("text").isNotNull && length(col("text")) =!= col("n_chars"), 1L)
          .otherwise(0L)).as("v2"),
        sum(when(col("n_chars") < 100, 1L).otherwise(0L)).as("v3"),
        sum(when(!col("lang").isin("en", "fr", "de", "es", "zh"), 1L)
          .otherwise(0L)).as("v4"),
        sum(when(col("text").isNotNull && col("text").contains("@") &&
          lower(col("text")).rlike(TextAnalysis.EmailPattern), 1L)
          .otherwise(0L)).as("v5"),
        (count(lit(1)) - count_distinct(col("doc_id"))).as("v6"))
      .selectExpr("n", "stack(6, " +
        "'01_text_not_null', v1, '02_len_matches_n_chars', v2, " +
        "'03_min_length_100', v3, '04_lang_known', v4, " +
        "'05_no_email_pii', v5, '06_doc_id_unique', v6) AS (rule, n_violations)")
      .select(col("rule"), col("n").as("n_checked"), col("n_violations"))
    val ref = embeddings(s, d).select(col("vec_id"))
      .join(docs.select(col("doc_id")), col("vec_id") === col("doc_id"), "left")
      .agg(count(lit(1)).as("n_checked"),
        sum(when(col("doc_id").isNull, 1L).otherwise(0L)).as("n_violations"))
      .select(lit("07_vec_id_references_doc").as("rule"),
        col("n_checked"), col("n_violations"))
    rowRules.unionAll(ref)
      .selectExpr("rule", "n_checked", "n_violations",
        "CASE WHEN n_checked = 0 THEN CAST(0 AS BIGINT) " +
          "ELSE n_violations * 10000 div n_checked END AS violation_bp")
      .orderBy(col("rule"))
  }

  /** DQ02 — DISTRIBUTION-DRIFT MONITOR: the statistical sibling of dq01's
    * rule gate — compare a reference window (orders through 1997) against
    * the current window (1998+) over fixed price bins and report, per bin,
    * both shares plus two drift statistics: the L1 share gap and a
    * chi-square-style contribution ((Δ)²/(sum)). A corpus pipeline runs
    * exactly this before promoting a new crawl: "did the length/quality
    * distribution move?". Everything is scaled-integer basis points — no
    * logarithms (a PSI would need ln, which is transcendental and not
    * cross-engine hash-stable; the chi-square form ranks the same signal
    * in exact arithmetic — the t11 linear-IDF discipline).
    *
    * Scale design: ONE scan — both periods aggregate in the same
    * conditional-sum pass (never a scan per period), and the totals come
    * from `sum() OVER ()` on the ≤10-row bin frame (the q62 discipline),
    * so nothing global touches data-sized frames. */
  def dq02Drift(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .select(
        expr("CAST(floor(o_totalprice / 50000.0D) AS BIGINT)").as("bin"),
        when(year(col("o_orderdate")) <= 1997, 1L).otherwise(0L).as("is_ref"))
      .groupBy(col("bin"))
      .agg(sum(col("is_ref")).as("n_ref"),
        sum(lit(1L) - col("is_ref")).as("n_cur"))
      .selectExpr("bin", "n_ref", "n_cur",
        "CASE WHEN sum(n_ref) OVER () = 0 THEN CAST(0 AS BIGINT) " +
          "ELSE n_ref * 10000 div sum(n_ref) OVER () END AS ref_bp",
        "CASE WHEN sum(n_cur) OVER () = 0 THEN CAST(0 AS BIGINT) " +
          "ELSE n_cur * 10000 div sum(n_cur) OVER () END AS cur_bp")
      .selectExpr("bin", "n_ref", "n_cur", "ref_bp", "cur_bp",
        "abs(ref_bp - cur_bp) AS l1_bp",
        "CASE WHEN ref_bp + cur_bp = 0 THEN CAST(0 AS BIGINT) " +
          "ELSE (ref_bp - cur_bp) * (ref_bp - cur_bp) * 10000 div (ref_bp + cur_bp) " +
          "END AS chi2_bp")
      .orderBy(col("bin"))

  /** DQ03 — SNAPSHOT RECONCILIATION: the diff gate a pipeline runs
    * between yesterday's and today's table version before publishing —
    * row-level inserted/deleted/changed/unchanged counts plus per-column
    * change drill-down. Yesterday's snapshot is SIMULATED
    * deterministically from orders (every 97th key missing → inserted
    * today, every 89th price bumped → changed, every 101st re-keyed past
    * the key space → deleted), so the query is reproducible while
    * exercising every branch of the reconciliation.
    *
    * Scale design: ONE full-outer hash join on the key, then ONE
    * conditional-sum aggregate over the joined frame (never a pass per
    * change class — dq01's discipline), melted with `stack`. All
    * comparisons are null-safe (`<=>` / IS DISTINCT FROM) so NULL cells
    * diff correctly. The +1.0 price bump is exact in IEEE doubles at
    * this magnitude, keeping the changed-set cross-engine identical. */
  def dq03SnapshotDiff(s: SparkSession, d: String): DataFrame = {
    val b = orders(s, d).select(col("o_orderkey").as("k"), col("o_custkey"),
      col("o_orderstatus"), col("o_totalprice"))
    val aBase = b.filter(col("k") % 97 =!= 0)
      .withColumn("o_totalprice",
        when(col("k") % 89 === 0, col("o_totalprice") + 1.0)
          .otherwise(col("o_totalprice")))
    val aExtra = b.filter(col("k") % 101 === 0)
      .withColumn("k", col("k") + 10000000L)
    val a = aBase.unionAll(aExtra)
      .select(col("k"), struct(col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice")).as("pa"))
    val bb = b.select(col("k"), struct(col("o_custkey"), col("o_orderstatus"),
      col("o_totalprice")).as("pb"))
    a.join(bb, Seq("k"), "full_outer")
      .agg(
        sum(when(col("pa").isNull, 1L).otherwise(0L)).as("v_ins"),
        sum(when(col("pb").isNull, 1L).otherwise(0L)).as("v_del"),
        sum(when(col("pa").isNotNull && col("pb").isNotNull &&
          !(col("pa") <=> col("pb")), 1L).otherwise(0L)).as("v_chg"),
        sum(when(col("pa") <=> col("pb"), 1L).otherwise(0L)).as("v_same"),
        sum(when(col("pa").isNotNull && col("pb").isNotNull &&
          !(col("pa.o_custkey") <=> col("pb.o_custkey")), 1L).otherwise(0L)).as("v_cust"),
        sum(when(col("pa").isNotNull && col("pb").isNotNull &&
          !(col("pa.o_orderstatus") <=> col("pb.o_orderstatus")), 1L).otherwise(0L)).as("v_stat"),
        sum(when(col("pa").isNotNull && col("pb").isNotNull &&
          !(col("pa.o_totalprice") <=> col("pb.o_totalprice")), 1L).otherwise(0L)).as("v_price"))
      .selectExpr("stack(7, " +
        "'1_inserted', v_ins, '2_deleted', v_del, '3_changed', v_chg, " +
        "'4_unchanged', v_same, '5_col_custkey', v_cust, " +
        "'6_col_status', v_stat, '7_col_price', v_price) AS (metric, n)")
      .orderBy(col("metric"))
  }

  /** DQ04 — BENFORD FIRST-DIGIT AUDIT: the classic fabricated-data screen —
    * compare the distribution of leading significant digits of a money
    * column against Benford's law. Expected shares are PRECOMPUTED integer
    * constants (⌊10⁴·log₁₀(1+1/d)⌋) so no transcendental function runs in
    * either engine; observed shares are integer basis points via truncating
    * div. Synthetic TPC-H prices are deliberately NOT Benford-distributed —
    * large dev_bp is the gate firing, which is the point of the audit.
    *
    * Scale: one hash aggregation over 9 keys + a broadcast of the 1-row
    * grand total — no window, no second scan. */
  def dq04Benford(s: SparkSession, d: String): DataFrame = {
    val counts = orders(s, d)
      .select(expr("CAST(substring(CAST(CAST(floor(o_totalprice) AS BIGINT)" +
        " AS STRING), 1, 1) AS BIGINT)").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    // grand total from a window over the ≤9-row digit frame (dq02's
    // discipline) — ONE orders scan, no second aggregate branch
    counts
      .selectExpr("digit", "n", "n * 10000 div sum(n) OVER () AS obs_bp",
        "CAST(CASE digit WHEN 1 THEN 3010 WHEN 2 THEN 1760 WHEN 3 THEN 1249" +
          " WHEN 4 THEN 969 WHEN 5 THEN 791 WHEN 6 THEN 669 WHEN 7 THEN 579" +
          " WHEN 8 THEN 511 ELSE 457 END AS BIGINT) AS exp_bp")
      .selectExpr("digit", "n", "obs_bp", "exp_bp",
        "abs(obs_bp - exp_bp) AS dev_bp")
      .orderBy(col("digit"))
  }

  /** DQ05 — FRESHNESS/COMPLETENESS GATE: densify the event stream onto the
    * full calendar-day spine between its min and max day, then report
    * missing days and days whose volume falls below half the median daily
    * count (4·cnt < middle-pair-sum keeps the threshold exact-integer; the
    * q47/q57 middle-pair discipline, never builtin median). The single
    * unpartitioned ranking window is bounded by CALENDAR DAYS, not data
    * volume — ~36,500 rows a century — so it is not a scale hazard; the
    * per-day counts behind it are one map-side-combinable hash agg over
    * the events. */
  def dq05Completeness(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = events(s, d).select(expr("(ts DIV 1000) DIV 86400000000").as("day"))
    // day-level frame read by the spine bounds AND the join probe —
    // checkpoint caps the events scan at once (the d18 shared-frame rule)
    val perDay = ev.groupBy(col("day")).agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val daily = perDay.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
      .selectExpr("explode(sequence(lo, hi)) AS day")
      .join(perDay, Seq("day"), "left")
      .select(col("day"), coalesce(col("c"), lit(0L)).as("cnt"))
    val w = Window.orderBy(col("cnt"), col("day"))
    val med = daily
      .withColumn("rn", row_number().over(w))
      .withColumn("nd", count(lit(1)).over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .filter(col("rn") === expr("(nd + 1) div 2") ||
        col("rn") === expr("(nd + 2) div 2"))
      .agg(sum(col("cnt")).as("median2"))
    daily.crossJoin(broadcast(med))
      .agg(count(lit(1)).as("n_days"),
        sum(when(col("cnt") > 0, 1L).otherwise(0L)).as("n_present"),
        sum(when(col("cnt") === 0, 1L).otherwise(0L)).as("n_missing"),
        sum(when(col("cnt") > 0 && col("cnt") * 4 < col("median2"), 1L)
          .otherwise(0L)).as("n_low"),
        max(col("median2")).as("median2"))
  }

  /** DQ06 — QUARANTINE COMBINATION PROFILE: dq01 reports per-rule totals;
    * the routing decision a pipeline actually makes is per ROW — which
    * rule COMBINATION fired — because the fix differs (null text →
    * re-extract; short+unknown-lang → drop; PII → redact). Encode the five
    * row-local dq01 rules as a bitmask per document, then count documents
    * per mask value: mask 0 is the clean partition, every other mask is a
    * quarantine bucket with its reason set spelled out. One conditional
    * projection + one hash agg over ≤ 2⁵ keys — same single-scan
    * discipline as dq01, no pass per rule. */
  def dq06QuarantineProfile(s: SparkSession, d: String): DataFrame = {
    import graft.operators.TextAnalysis
    documents(s, d)
      .select((
        when(col("text").isNull, 1L).otherwise(0L) +
        when(col("text").isNotNull && length(col("text")) =!= col("n_chars"), 2L)
          .otherwise(0L) +
        when(col("n_chars") < 100, 4L).otherwise(0L) +
        when(!col("lang").isin("en", "fr", "de", "es", "zh"), 8L).otherwise(0L) +
        when(col("text").isNotNull && col("text").contains("@") &&
          lower(col("text")).rlike(TextAnalysis.EmailPattern), 16L)
          .otherwise(0L)).as("mask"))
      .groupBy(col("mask")).agg(count(lit(1)).as("n_docs"))
      .selectExpr("mask", "n_docs",
        "concat_ws('+'," +
          " CASE WHEN mask = 0 THEN 'clean' END," +
          " CASE WHEN mask & 1 != 0 THEN 'null_text' END," +
          " CASE WHEN mask & 2 != 0 THEN 'len_mismatch' END," +
          " CASE WHEN mask & 4 != 0 THEN 'too_short' END," +
          " CASE WHEN mask & 8 != 0 THEN 'unknown_lang' END," +
          " CASE WHEN mask & 16 != 0 THEN 'pii_email' END) AS reasons")
      .orderBy(col("mask"))
  }

  /** DQ07 — FUNCTIONAL-DEPENDENCY AUDIT: candidate X→Y dependencies
    * validated by counting determinant groups where Y is not unique —
    * the constraint-discovery/validation pass (schema inference, key
    * detection, normalization screening) a profiling stage runs before
    * trusting a column as a join key or dimension attribute. Three
    * candidates spanning hold (c_custkey→c_nationkey: c_custkey is the
    * key), mostly-hold and clearly-violated cases, so the output
    * exercises every verdict. Per FD: one map-side-combinable two-level
    * aggregate — group by X with min(Y)/max(Y), then fold; "Y not
    * unique within the group" ⟺ min(Y) ≠ max(Y), which needs only a
    * single-phase hash aggregate with partial combine (a count_distinct
    * would force Spark's two-phase distinct rewrite: an extra exchange
    * on (X, Y) per candidate). Violation share in exact basis points.
    * Candidates with DIFFERENT determinants need their own shuffle each
    * (no shared partitioning exists); at 100 TB you batch candidates per
    * determinant, which is what the per-FD helper expresses. */
  def dq07FdAudit(s: SparkSession, d: String): DataFrame = {
    def fd(df: DataFrame, lhs: String, rhs: String, label: String): DataFrame =
      df.groupBy(col(lhs)).agg(min(col(rhs)).as("mn"), max(col(rhs)).as("mx"))
        .agg(count(lit(1)).as("n_groups"),
          sum(when(col("mn") =!= col("mx"), 1L).otherwise(0L)).cast("long").as("n_violating"))
        .select(lit(label).as("fd"), col("n_groups"), col("n_violating"))
    fd(customer(s, d), "c_custkey", "c_nationkey", "customer.c_custkey->c_nationkey")
      .unionAll(fd(orders(s, d), "o_custkey", "o_orderpriority",
        "orders.o_custkey->o_orderpriority"))
      .unionAll(fd(lineitem(s, d), "l_partkey", "l_suppkey",
        "lineitem.l_partkey->l_suppkey"))
      .selectExpr("fd", "n_groups", "n_violating",
        "CASE WHEN n_groups = 0 THEN CAST(0 AS BIGINT) " +
          "ELSE n_violating * 10000 div n_groups END AS violation_bp",
        "CAST(n_violating = 0 AS BOOLEAN) AS holds")
      .orderBy(col("fd"))
  }

  val queries: Map[String, Q] = Map(
    "dq07_fd_audit" -> dq07FdAudit,
    "dq06_quarantine_profile" -> dq06QuarantineProfile,
    "dq01_expectations" -> dq01Expectations,
    "dq02_drift" -> dq02Drift,
    "dq03_snapshot_diff" -> dq03SnapshotDiff,
    "dq04_benford" -> dq04Benford,
    "dq05_completeness" -> dq05Completeness,
    "q50_fuzzy_link" -> q50FuzzyLink,
    "q55_union_by_name" -> q55UnionByName,
    "q56_profile" -> q56Profile,
    "q01_scan_project" -> q01ScanProject,
    "q22_asof_join" -> q22AsofJoin,
    "q23_sessionize" -> q23Sessionize,
    "q24_histogram" -> q24Histogram,
    "q25_percentile" -> q25Percentile,
    "q02_group_count" -> q02GroupCount,
    "q03_filter" -> q03Filter,
    "q04_anti_join" -> q04AntiJoin,
    "q04_semi_join" -> q04SemiJoin,
    "q05_left_join_coalesce" -> q05LeftJoinCoalesce,
    "q06_multi_join_revenue" -> q06MultiJoinRevenue,
    "q07_dedupe_first_wins" -> q07DedupeFirstWins,
    "q09_group_min" -> q09GroupMin,
    "q10_scalar_enrich" -> q10ScalarEnrich,
    "q11_agg_rollup" -> q11AggRollup,
    "q12_order_limit" -> q12OrderLimit,
    "q16_window_running" -> q16WindowRunning,
    "q17_union_except" -> q17UnionExcept,
    "q18_array_ops" -> q18ArrayOps,
    "q19_string_kernel" -> q19StringKernel,
    "q20_json_extract" -> q20JsonExtract,
    "q37_full_outer" -> q37FullOuter)

  val oracle: Map[String, String] = Map(
    "dq04_benford" ->
      """WITH counts AS (
           SELECT CAST(substring(CAST(CAST(floor(o_totalprice) AS BIGINT)
                                 AS VARCHAR), 1, 1) AS BIGINT) AS digit,
                  CAST(count(*) AS BIGINT) AS n
           FROM orders GROUP BY 1
         ), tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM counts)
         SELECT c.digit, c.n,
                CAST(c.n * 10000 // t.total AS BIGINT) AS obs_bp,
                CAST(CASE c.digit WHEN 1 THEN 3010 WHEN 2 THEN 1760
                     WHEN 3 THEN 1249 WHEN 4 THEN 969 WHEN 5 THEN 791
                     WHEN 6 THEN 669 WHEN 7 THEN 579 WHEN 8 THEN 511
                     ELSE 457 END AS BIGINT) AS exp_bp,
                abs(CAST(c.n * 10000 // t.total AS BIGINT) -
                    CAST(CASE c.digit WHEN 1 THEN 3010 WHEN 2 THEN 1760
                         WHEN 3 THEN 1249 WHEN 4 THEN 969 WHEN 5 THEN 791
                         WHEN 6 THEN 669 WHEN 7 THEN 579 WHEN 8 THEN 511
                         ELSE 457 END AS BIGINT)) AS dev_bp
         FROM counts c, tot t ORDER BY c.digit""",
    "dq05_completeness" ->
      """WITH ev AS (
           SELECT epoch_us(ts) // 86400000000 AS day FROM events
         ), perday AS (
           SELECT day, CAST(count(*) AS BIGINT) AS c FROM ev GROUP BY 1
         ), spine AS (
           SELECT unnest(range(min(day), max(day) + 1)) AS day FROM perday
         ), daily AS (
           SELECT s.day, coalesce(p.c, 0) AS cnt
           FROM spine s LEFT JOIN perday p ON p.day = s.day
         ), med AS (
           SELECT CAST(sum(cnt) AS BIGINT) AS median2 FROM (
             SELECT cnt, row_number() OVER (ORDER BY cnt, day) AS rn,
                    count(*) OVER () AS nd
             FROM daily) t
           WHERE rn = (nd + 1) // 2 OR rn = (nd + 2) // 2
         )
         SELECT CAST(count(*) AS BIGINT) AS n_days,
                CAST(sum(CASE WHEN cnt > 0 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_present,
                CAST(sum(CASE WHEN cnt = 0 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_missing,
                CAST(sum(CASE WHEN cnt > 0 AND cnt * 4 < median2
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
                max(median2) AS median2
         FROM daily, med""",
    "dq03_snapshot_diff" ->
      """WITH b AS (
           SELECT o_orderkey AS k, o_custkey, o_orderstatus, o_totalprice
           FROM orders
         ), a AS (
           SELECT k, o_custkey, o_orderstatus,
                  CASE WHEN k % 89 = 0 THEN o_totalprice + 1.0
                       ELSE o_totalprice END AS o_totalprice
           FROM b WHERE k % 97 <> 0
           UNION ALL
           SELECT k + 10000000, o_custkey, o_orderstatus, o_totalprice
           FROM b WHERE k % 101 = 0
         ), j AS (
           SELECT a.k AS ak, b.k AS bk,
                  a.o_custkey AS ac, b.o_custkey AS bc,
                  a.o_orderstatus AS ast, b.o_orderstatus AS bst,
                  a.o_totalprice AS ap, b.o_totalprice AS bp
           FROM a FULL OUTER JOIN b ON a.k = b.k
         ), agg AS (
           SELECT
             CAST(sum(CASE WHEN ak IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_ins,
             CAST(sum(CASE WHEN bk IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_del,
             CAST(sum(CASE WHEN ak IS NOT NULL AND bk IS NOT NULL
                           AND (ac IS DISTINCT FROM bc OR ast IS DISTINCT FROM bst
                                OR ap IS DISTINCT FROM bp)
                      THEN 1 ELSE 0 END) AS BIGINT) AS v_chg,
             CAST(sum(CASE WHEN ak IS NOT NULL AND bk IS NOT NULL
                           AND ac IS NOT DISTINCT FROM bc
                           AND ast IS NOT DISTINCT FROM bst
                           AND ap IS NOT DISTINCT FROM bp
                      THEN 1 ELSE 0 END) AS BIGINT) AS v_same,
             CAST(sum(CASE WHEN ak IS NOT NULL AND bk IS NOT NULL
                           AND ac IS DISTINCT FROM bc THEN 1 ELSE 0 END) AS BIGINT) AS v_cust,
             CAST(sum(CASE WHEN ak IS NOT NULL AND bk IS NOT NULL
                           AND ast IS DISTINCT FROM bst THEN 1 ELSE 0 END) AS BIGINT) AS v_stat,
             CAST(sum(CASE WHEN ak IS NOT NULL AND bk IS NOT NULL
                           AND ap IS DISTINCT FROM bp THEN 1 ELSE 0 END) AS BIGINT) AS v_price
           FROM j
         )
         SELECT metric, n FROM (
           SELECT '1_inserted' AS metric, v_ins AS n FROM agg
           UNION ALL SELECT '2_deleted', v_del FROM agg
           UNION ALL SELECT '3_changed', v_chg FROM agg
           UNION ALL SELECT '4_unchanged', v_same FROM agg
           UNION ALL SELECT '5_col_custkey', v_cust FROM agg
           UNION ALL SELECT '6_col_status', v_stat FROM agg
           UNION ALL SELECT '7_col_price', v_price FROM agg) t
         ORDER BY metric""",
    "dq02_drift" ->
      """WITH b AS (
           SELECT CAST(floor(o_totalprice / 50000.0) AS BIGINT) AS bin,
                  CASE WHEN year(o_orderdate) <= 1997 THEN 1 ELSE 0 END AS is_ref
           FROM orders
         ), g AS (
           SELECT bin, CAST(sum(is_ref) AS BIGINT) AS n_ref,
                  CAST(sum(1 - is_ref) AS BIGINT) AS n_cur
           FROM b GROUP BY bin
         ), sh AS (
           SELECT bin, n_ref, n_cur,
                  CAST(CASE WHEN sum(n_ref) OVER () = 0 THEN 0
                       ELSE n_ref * 10000 // sum(n_ref) OVER () END AS BIGINT) AS ref_bp,
                  CAST(CASE WHEN sum(n_cur) OVER () = 0 THEN 0
                       ELSE n_cur * 10000 // sum(n_cur) OVER () END AS BIGINT) AS cur_bp
           FROM g
         )
         SELECT bin, n_ref, n_cur, ref_bp, cur_bp,
                abs(ref_bp - cur_bp) AS l1_bp,
                CAST(CASE WHEN ref_bp + cur_bp = 0 THEN 0
                     ELSE (ref_bp - cur_bp) * (ref_bp - cur_bp) * 10000
                          // (ref_bp + cur_bp) END AS BIGINT) AS chi2_bp
         FROM sh ORDER BY bin""",
    "dq06_quarantine_profile" ->
      s"""WITH m AS (
            SELECT (CASE WHEN text IS NULL THEN 1 ELSE 0 END)
                 + (CASE WHEN text IS NOT NULL AND length(text) <> n_chars
                         THEN 2 ELSE 0 END)
                 + (CASE WHEN n_chars < 100 THEN 4 ELSE 0 END)
                 + (CASE WHEN lang NOT IN ('en', 'fr', 'de', 'es', 'zh')
                         THEN 8 ELSE 0 END)
                 + (CASE WHEN text IS NOT NULL
                          AND regexp_matches(lower(text),
                                '${graft.operators.TextAnalysis.EmailPattern}')
                         THEN 16 ELSE 0 END) AS mask
            FROM documents
          ), g AS (
            SELECT CAST(mask AS BIGINT) AS mask,
                   CAST(count(*) AS BIGINT) AS n_docs
            FROM m GROUP BY mask
          )
          SELECT mask, n_docs,
                 concat_ws('+',
                   CASE WHEN mask = 0 THEN 'clean' END,
                   CASE WHEN mask & 1 != 0 THEN 'null_text' END,
                   CASE WHEN mask & 2 != 0 THEN 'len_mismatch' END,
                   CASE WHEN mask & 4 != 0 THEN 'too_short' END,
                   CASE WHEN mask & 8 != 0 THEN 'unknown_lang' END,
                   CASE WHEN mask & 16 != 0 THEN 'pii_email' END) AS reasons
          FROM g ORDER BY mask""",
    "dq07_fd_audit" ->
      """WITH f1 AS (
           SELECT 'customer.c_custkey->c_nationkey' AS fd,
                  CAST(count(*) AS BIGINT) AS n_groups,
                  CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating
           FROM (SELECT c_custkey, count(DISTINCT c_nationkey) AS nd
                 FROM customer GROUP BY c_custkey) t
         ), f2 AS (
           SELECT 'orders.o_custkey->o_orderpriority' AS fd,
                  CAST(count(*) AS BIGINT) AS n_groups,
                  CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating
           FROM (SELECT o_custkey, count(DISTINCT o_orderpriority) AS nd
                 FROM orders GROUP BY o_custkey) t
         ), f3 AS (
           SELECT 'lineitem.l_partkey->l_suppkey' AS fd,
                  CAST(count(*) AS BIGINT) AS n_groups,
                  CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating
           FROM (SELECT l_partkey, count(DISTINCT l_suppkey) AS nd
                 FROM lineitem GROUP BY l_partkey) t
         ), u AS (
           SELECT * FROM f1 UNION ALL SELECT * FROM f2 UNION ALL SELECT * FROM f3
         )
         SELECT fd, n_groups, n_violating,
                CAST(CASE WHEN n_groups = 0 THEN 0
                     ELSE n_violating * 10000 // n_groups END AS BIGINT) AS violation_bp,
                n_violating = 0 AS holds
         FROM u ORDER BY fd""",
    "dq01_expectations" ->
      s"""WITH w AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v1,
                   CAST(sum(CASE WHEN text IS NOT NULL AND length(text) <> n_chars
                            THEN 1 ELSE 0 END) AS BIGINT) AS v2,
                   CAST(sum(CASE WHEN n_chars < 100 THEN 1 ELSE 0 END) AS BIGINT) AS v3,
                   CAST(sum(CASE WHEN lang NOT IN ('en', 'fr', 'de', 'es', 'zh')
                            THEN 1 ELSE 0 END) AS BIGINT) AS v4,
                   CAST(sum(CASE WHEN text IS NOT NULL
                             AND regexp_matches(lower(text),
                                   '${graft.operators.TextAnalysis.EmailPattern}')
                            THEN 1 ELSE 0 END) AS BIGINT) AS v5
            FROM documents
          ), rules AS (
            SELECT '01_text_not_null' AS rule, n AS n_checked, v1 AS n_violations FROM w
            UNION ALL SELECT '02_len_matches_n_chars', n, v2 FROM w
            UNION ALL SELECT '03_min_length_100', n, v3 FROM w
            UNION ALL SELECT '04_lang_known', n, v4 FROM w
            UNION ALL SELECT '05_no_email_pii', n, v5 FROM w
            UNION ALL
            SELECT '06_doc_id_unique', CAST(count(*) AS BIGINT),
                   CAST(count(*) - count(DISTINCT doc_id) AS BIGINT)
            FROM documents
            UNION ALL
            SELECT '07_vec_id_references_doc', CAST(count(*) AS BIGINT),
                   CAST(sum(CASE WHEN d.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
            FROM embeddings e LEFT JOIN documents d ON d.doc_id = e.vec_id
          )
          SELECT rule, n_checked, n_violations,
                 CAST(CASE WHEN n_checked = 0 THEN 0
                           ELSE n_violations * 10000 // n_checked END
                      AS BIGINT) AS violation_bp
          FROM rules ORDER BY rule""",
    "q56_profile" ->
      """SELECT count(*) AS n_rows,
                count(DISTINCT o_custkey) AS custkey_distinct,
                CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                  AS custkey_nulls,
                count(DISTINCT o_orderstatus) AS status_distinct,
                count(DISTINCT o_orderpriority) AS priority_distinct,
                min(o_totalprice) AS price_min,
                max(o_totalprice) AS price_max,
                CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS price_sum
         FROM orders""",
    "q55_union_by_name" ->
      """SELECT o_orderkey, o_totalprice, 'UNKNOWN' AS priority
         FROM orders WHERE o_orderkey % 2 = 0
         UNION ALL
         SELECT o_orderkey, o_totalprice, o_orderpriority AS priority
         FROM orders WHERE o_orderkey % 2 <> 0
         ORDER BY o_orderkey""",
    "q50_fuzzy_link" ->
      """SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
                CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS dist
         FROM customer a JOIN customer b
           ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
         WHERE length(a.c_name) = length(b.c_name)
           AND levenshtein(a.c_name, b.c_name) <= 1
         ORDER BY id_a, id_b""",
    "q01_scan_project" ->
      "SELECT l_orderkey, l_quantity FROM lineitem ORDER BY l_orderkey, l_linenumber",
    "q37_full_outer" ->
      """SELECT coalesce(d.doc_id, e.vec_id) AS key,
                coalesce(d.source, 'none') AS source,
                coalesce(e.label, -1) AS label
         FROM (SELECT doc_id, source FROM documents WHERE doc_id % 3 = 0) d
         FULL OUTER JOIN (SELECT vec_id, CAST(label AS BIGINT) AS label
                          FROM embeddings WHERE vec_id % 2 = 0) e
           ON d.doc_id = e.vec_id
         ORDER BY key""",
    "q22_asof_join" ->
      """SELECT l.event_id,
                coalesce(r.event_id, -1) AS matched_click_id,
                coalesce(r.value, -1.0) AS matched_value
         FROM (SELECT * FROM events WHERE event_type = 'error') l
         ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') r
           ON l.user_id = r.user_id AND l.ts >= r.ts
         ORDER BY l.event_id""",
    "q23_sessionize" ->
      """WITH e AS (
           SELECT user_id, epoch_us(ts) AS t FROM events
         ), flagged AS (
           SELECT user_id, t,
                  CASE WHEN lag(t) OVER (PARTITION BY user_id ORDER BY t) IS NULL
                         OR t - lag(t) OVER (PARTITION BY user_id ORDER BY t) > 1800000000
                       THEN 1 ELSE 0 END AS opens
           FROM e
         ), sess AS (
           SELECT user_id, t,
                  sum(opens) OVER (PARTITION BY user_id ORDER BY t
                                   ROWS UNBOUNDED PRECEDING) AS session_idx
           FROM flagged
         )
         SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
                count(*) AS n_events,
                max(t) - min(t) AS duration_us
         FROM sess GROUP BY user_id, session_idx
         ORDER BY user_id, session_idx""",
    "q25_percentile" ->
      """SELECT event_type,
                quantile_cont(value, 0.5) AS p50,
                quantile_cont(value, 0.9) AS p90,
                quantile_cont(value, 0.99) AS p99
         FROM events GROUP BY event_type ORDER BY event_type""",
    "q24_histogram" ->
      """SELECT CASE WHEN value < 0.0 THEN 0
                     WHEN value >= 50.0 THEN 26
                     ELSE CAST(floor(value / 2.0) AS BIGINT) + 1 END AS bucket,
                count(*) AS cnt
         FROM events GROUP BY bucket ORDER BY bucket""",
    "q02_group_count" ->
      "SELECT event_type, count(*) AS cnt FROM events GROUP BY event_type ORDER BY cnt DESC, event_type",
    "q03_filter" ->
      "SELECT * FROM documents WHERE length(text) >= 200 AND lang = 'en' ORDER BY doc_id",
    "q04_anti_join" ->
      """SELECT d.doc_id, d.source FROM documents d
         WHERE NOT EXISTS (SELECT 1 FROM embeddings e WHERE e.label % 3 = 0 AND e.vec_id = d.doc_id)
         ORDER BY d.doc_id""",
    "q04_semi_join" ->
      """SELECT d.doc_id, d.source FROM documents d
         WHERE EXISTS (SELECT 1 FROM embeddings e WHERE e.label % 3 = 0 AND e.vec_id = d.doc_id)
         ORDER BY d.doc_id""",
    "q05_left_join_coalesce" ->
      """SELECT d.doc_id, coalesce('label_' || CAST(e.label AS VARCHAR), d.source) AS tag
         FROM documents d
         LEFT JOIN (SELECT vec_id, label FROM embeddings WHERE label % 2 = 0) e ON d.doc_id = e.vec_id
         ORDER BY d.doc_id""",
    "q06_multi_join_revenue" ->
      """SELECT r_name, n_name,
                CAST(SUM(CAST(l_extendedprice AS DECIMAL(9,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS revenue,
                count(*) AS n_items
         FROM lineitem
         JOIN orders   ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation   ON c_nationkey = n_nationkey
         JOIN region   ON n_regionkey = r_regionkey
         GROUP BY r_name, n_name ORDER BY r_name, n_name""",
    "q07_dedupe_first_wins" ->
      """SELECT doc_id, source FROM (
           SELECT doc_id, source, row_number() OVER (PARTITION BY sha256(text) ORDER BY doc_id) AS rn
           FROM documents) t
         WHERE rn = 1 ORDER BY doc_id""",
    "q09_group_min" ->
      """SELECT o_custkey, min(o_orderdate) AS oldest, max(o_orderdate) AS newest, count(*) AS n_orders
         FROM orders GROUP BY o_custkey ORDER BY o_custkey""",
    "q10_scalar_enrich" ->
      """SELECT doc_id,
                CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN 0
                     ELSE CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INTEGER) END AS word_count,
                CASE WHEN source IN ('src0','src5') THEN 'OGL-UK-3.0'
                     WHEN source IN ('src1','src6') THEN 'CC BY'
                     WHEN source IN ('src2','src7') THEN 'CC0'
                     ELSE NULL END AS license,
                coalesce(CASE WHEN length(lang) = 0 THEN NULL ELSE lang END, 'en') AS lang_final
         FROM documents ORDER BY doc_id""",
    "q11_agg_rollup" ->
      """SELECT l_returnflag, l_linestatus,
                CAST(SUM(CAST(l_quantity AS DECIMAL(9,2))) AS DOUBLE) AS sum_qty,
                CAST(SUM(CAST(l_extendedprice AS DECIMAL(9,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS sum_rev,
                count(*) AS cnt
         FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
         ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""",
    "q12_order_limit" ->
      "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10",
    "q16_window_running" ->
      """SELECT o_custkey, o_orderkey,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(9,2))) OVER (
                  PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_rev
         FROM orders ORDER BY o_custkey, o_orderkey""",
    "q17_union_except" ->
      """SELECT 'union_rows' AS metric,
                CAST((SELECT count(*) FROM (SELECT c_nationkey AS k FROM customer
                                            UNION ALL SELECT s_nationkey FROM supplier) u) AS BIGINT) AS val
         UNION ALL
         SELECT 'missing_nation_' || lpad(CAST(k AS VARCHAR), 2, '0') AS metric, CAST(k AS BIGINT) AS val
         FROM (SELECT n_nationkey AS k FROM nation EXCEPT SELECT s_nationkey FROM supplier) m
         ORDER BY metric""",
    "q18_array_ops" ->
      """SELECT doc_id,
                array_to_string(list_sort(list_distinct(regexp_split_to_array(trim(text), '\s+')[1:5])), '|') AS tags,
                array_to_string(list_sort(list_distinct(list_cat(regexp_split_to_array(trim(text), '\s+')[1:5], ['extra','the']))), '|') AS tags_aug,
                len(list_intersect(list_distinct(regexp_split_to_array(trim(text), '\s+')[1:5]), ['the','data','spark'])) AS n_common
         FROM documents ORDER BY doc_id""",
    "q19_string_kernel" ->
      """SELECT doc_id,
                concat_ws(' | ', source, lang, upper(substr(trim(regexp_replace(replace(text, chr(160), ' '), '\s+', ' ', 'g')), 1, 40))) AS packed,
                CAST(length(trim(regexp_replace(replace(text, chr(160), ' '), '\s+', ' ', 'g'))) AS INTEGER) AS clean_len,
                substr(trim(regexp_replace(regexp_replace(lower(source || '-' || lang), '[^a-z0-9._-]+', '_', 'g'), '_+', '_', 'g'), '_.'), 1, 200) AS safe_name
         FROM documents ORDER BY doc_id""",
    "q20_json_extract" ->
      "SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k FROM events ORDER BY event_id")
}
