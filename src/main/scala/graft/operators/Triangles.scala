package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed triangle counting over an undirected simple graph — the
  * classic graph-mining statistic (clustering coefficient, community
  * density, co-occurrence strength). Input is any two-column numeric edge
  * list; orientation, self-loops and duplicates are normalized away.
  *
  * Scale design: two standard ideas compose.
  *
  *  1. **Degree orientation** (Suri & Vassilvitskii, "Counting Triangles
  *     and the Curse of the Last Reducer", WWW'11): direct each edge from
  *     its lower-(degree, id) endpoint to the higher one. The orientation
  *     is acyclic, every triangle keeps exactly one apex with two
  *     out-edges, and out-degrees are bounded by ~√(2m) even for celebrity
  *     vertices.
  *  2. **Compact-forward intersection** (Latapy, TCS'08): instead of
  *     materializing every wedge as a row (Σ outdeg² rows through a
  *     shuffle — measured as the sf0.1 bottleneck), build each vertex's
  *     out-neighbor ARRAY once and count, per oriented edge (u,v),
  *     |N⁺(u) ∩ N⁺(v)| with a per-row sorted-array intersection. The only
  *     shuffled rows are the m edges themselves; the adjacency table is
  *     one row per vertex (out-degree ≤ √(2m) elements) and joins in via
  *     broadcast when it fits, hash equi-join otherwise.
  *
  * Every triangle is counted exactly once — at the edge between its apex
  * and its middle vertex — so the count is orientation-invariant, which
  * the g01 oracle (naive a<b<c triple join) pins.
  */
object Triangles {

  /** Normalized edge set, degree table, and per-oriented-edge triangle
    * closers: (src, dst, w) where w = sorted array of vertices closing a
    * triangle over edge (src, dst). Shared by [[stats]] and [[perVertex]].
    *
    * `assumeNormalized`: callers whose edge list is ALREADY undirected
    * (u < v), loop-free, duplicate-free AND cheap to re-read (e.g. a
    * checkpointed frame — the g01/g02 co-purchase builder ends in exactly
    * filter+distinct+localCheckpoint) skip both the defensive
    * re-normalization (a full m-row dedupe shuffle spent proving a no-op)
    * and this operator's own lineage checkpoint (the caller's blocks
    * already serve the multi-consumer reads). The contract is the
    * caller's to honor; the default stays safe. */
  /** The degree table and the per-edge closer sets are the triangle
    * census's derived artifacts — g01 (global stats) and g02 (per-vertex
    * coefficients) both read them instead of re-running the orientation
    * + wedge-intersection join per query. Memoized per (application, edges plan,
    * assumeNormalized) with eager partitioning-retaining checkpoints.
    *
    * Rejected redesign (measured at sf0.1): deriving the build from the shared doubled
    * artifacts — deg as an exchange-free agg over dbl_u, the dv
    * annotation riding dbl_v's clustering, orientation as a filter over
    * the doubled rows — measured WORSE: triangle_core 3.16 → 4.28 s
    * (warm-control-normalized 3.59 → 4.05), and it drags dbl_u+dbl_v
    * into g01's dependency set. Why: this build is already near-optimal
    * on shuffle volume — the degree explode-shuffle is map-side combined
    * down to VERTEX size and `e` is m rows, while every doubled-frame
    * path must move 2m annotated rows through the orientation re-key.
    * The residual cost is the wedge-intersection agg itself (see the
    * checkpoint note below), which no edge-frame re-sourcing touches. */
  private def coreShared(edges: DataFrame,
      assumeNormalized: Boolean): (DataFrame, DataFrame) = {
    val key = (edges.queryExecution.analyzed.canonicalized, assumeNormalized)
    graft.core.ArtifactRegistry.cached(edges.sparkSession, key, "triangle_core") {
      val (_, deg, closers) = core(edges, assumeNormalized)
      (graft.core.Materialize.checkpointRetainingPartitioning(deg),
        graft.core.Materialize.checkpointRetainingPartitioning(closers))
    }
  }

  private def core(edges: DataFrame, assumeNormalized: Boolean): (DataFrame, DataFrame, DataFrame) = {
    val Seq(c0, c1) = edges.columns.toSeq.take(2)
    // normalize: undirected (u < v), no self-loops, no duplicate edges;
    // checkpointed once — reused by degrees and orientation (lineage would
    // re-run the upstream pair-generation each time)
    val e = (
      if (assumeNormalized) edges.select(col(c0).as("u"), col(c1).as("v"))
      else edges
        .select(least(col(c0), col(c1)).as("u"), greatest(col(c0), col(c1)).as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
      ).localCheckpoint(false)
    // referenced by both endpoint joins, the stats agg and perVertex's
    // final join — measured: dropping this checkpoint in favor of exchange
    // reuse re-ran the agg and cost perVertex +2 s at sf0.1
    val deg = e.select(explode(array(col("u"), col("v"))).as("x"))
      .groupBy(col("x")).agg(count(lit(1)).as("deg"))
      .localCheckpoint(false)
    val du = deg.select(col("x").as("u"), col("deg").as("du"))
    val dv = deg.select(col("x").as("v"), col("deg").as("dv"))
    val uFirst = struct(col("du"), col("u")) < struct(col("dv"), col("v"))
    // feeds the adjacency agg AND the probe join: an explicit hash
    // repartition on src makes BOTH consumers' partitioning requirements
    // (groupBy src; join on src) satisfiable from ONE exchange that
    // Spark's ReuseExchange dedupes — cheaper than a checkpoint (no
    // block-manager materialization job) and partition-aligned for free
    val oriented = e.join(du, "u").join(dv, "v")
      .select(when(uFirst, col("u")).otherwise(col("v")).as("src"),
        when(uFirst, col("v")).otherwise(col("u")).as("dst"))
      .repartition(col("src"))
    // (an explicit lazy ckpt here measured NO win — 3.26 vs 3.12 s build, within noise —
    // so the reuse claim above holds for this shape; the build cost is
    // the wedge-intersection agg itself)
    // out-adjacency arrays, sorted so the intersection is a merge
    val adj = oriented.groupBy(col("src"))
      .agg(sort_array(collect_list(col("dst"))).as("nbrs"))
    val aU = adj.select(col("src"), col("nbrs").as("nu"))
    val aV = adj.select(col("src").as("dst"), col("nbrs").as("nv"))
    // per-edge closers. nu is never null (src has this very out-edge); a
    // dst with no out-edges gets an empty set of nu's element type
    // (slice(nu, 1, 0)) so the operator stays generic over id types
    val closers = oriented
      .join(aU, Seq("src"))
      .join(aV, Seq("dst"), "left")
      .select(col("src"), col("dst"),
        array_intersect(col("nu"),
          when(col("nv").isNull, slice(col("nu"), 1, 0)).otherwise(col("nv"))).as("w"))
    (e, deg, closers)
  }

  /** One-row frame: (n_vertices, n_edges, n_triangles) of the normalized
    * undirected graph. Columns of `edges` are taken positionally.
    * n_vertices and n_edges come from ONE pass over the degree table
    * (n_edges = Σdeg / 2 — every edge contributes to exactly two degrees),
    * so the stats side adds a single 1-row aggregate to the triangle
    * pipeline instead of two extra corpus passes. */
  def stats(edges: DataFrame, assumeNormalized: Boolean = false): DataFrame = {
    val (deg, closers) = coreShared(edges, assumeNormalized)
    val graphStats = deg.agg(count(lit(1)).as("n_vertices"),
      (sum(col("deg")) / 2).cast("long").as("n_edges"))
    val nTris = closers
      .agg(coalesce(sum(size(col("w"))), lit(0)).cast("long").as("n_triangles"))
    graphStats.crossJoin(nTris)
  }

  /** Per-vertex triangle participation and local clustering coefficient —
    * (vertex, degree, n_triangles, clustering_coeff) for every vertex,
    * coeff = 2·T(v) / (deg·(deg-1)), 0.0 for degree < 2. Each closer row
    * (u, v, W) is |W| triangles touching u and v and one triangle per
    * w ∈ W — so per-vertex counts are two narrow projections + one explode
    * over the (already bounded) closer sets, exact integers until the
    * single final division. */
  def perVertex(edges: DataFrame, assumeNormalized: Boolean = false): DataFrame = {
    val (deg, closers) = coreShared(edges, assumeNormalized)
    // ONE generate pass per closer row (a 3-way union would re-execute the
    // whole closer pipeline once per branch): the edge endpoints get |W|
    // each, every closing vertex gets 1
    val contributions = closers.select(explode(concat(
        array(struct(col("src").as("x"), size(col("w")).cast("long").as("c")),
          struct(col("dst").as("x"), size(col("w")).cast("long").as("c"))),
        transform(col("w"), wv => struct(wv.as("x"), lit(1L).as("c"))))).as("s"))
      .select(col("s.x").as("x"), col("s.c").as("c"))
    val tv = contributions.groupBy(col("x")).agg(sum(col("c")).as("nt"))
    deg.join(tv, Seq("x"), "left")
      .select(col("x").as("vertex"), col("deg").as("degree"),
        coalesce(col("nt"), lit(0L)).as("n_triangles"))
      .withColumn("clustering_coeff",
        when(col("degree") >= 2,
          (lit(2.0) * col("n_triangles")) /
            (col("degree").cast("double") * (col("degree").cast("double") - lit(1.0))))
          .otherwise(lit(0.0)))
  }
}
