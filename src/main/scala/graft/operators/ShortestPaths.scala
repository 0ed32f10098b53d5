package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multi-source BFS hop counts over an undirected edge list — the
  * reachability/shortest-path primitive next to [[ConnectedComponents]]
  * (full-graph labels) and [[Triangles]] (local structure). Reference
  * behavior class: graph expansion over the crawl/link tables
  * (ndl-core-data-pipeline walks catalog→dataset→resource links;
  * assets/processing/assets.py builds the link closure imperatively).
  *
  * Pregel-style frontier expansion, one hash equi-join per hop:
  *   frontier(h) ⋈ edges → neighbors, anti-join visited → frontier(h+1).
  * Each hop is one shuffle on the vertex key; the visited set never
  * re-shuffles (same key), so at 100 TB the cost is O(hops) joins over
  * frontier-sized — not graph-sized — probe sides. `localCheckpoint`
  * after every hop truncates the lineage chain exactly like
  * [[ConnectedComponents.run]] (an un-checkpointed loop re-executes all
  * prior hops per action, turning O(h) work into O(h²)).
  *
  * Depth is CAPPED at `maxHops` by contract — this computes "hops within
  * a radius", a fixed-depth semantic (deterministic, oracle-expressible
  * as a bounded recursive CTE), not full single-source shortest paths.
  */
object ShortestPaths {

  /** @param edges undirected edge list with columns (u, v)
    * @param seeds  source vertices, column (node)
    * @return (node, hops) — min hop count from any seed, hops ∈ [0, maxHops]
    */
  def hops(edges: DataFrame, seeds: DataFrame, maxHops: Int): DataFrame =
    hopsOnDoubled(doubled(edges.select(col("u"), col("v"))), seeds, maxHops)

  /** [[hops]] over an ALREADY-doubled, u-clustered edge frame (e.g. the
    * memoized MiningQueries.doubledEdgesFused artifact) — lets
    * the BFS share one persisted edge materialization with the rest of
    * the graph family instead of re-doubling per query. */
  def hopsOnDoubled(dir: DataFrame, seeds: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 0, s"maxHops must be >= 0, got $maxHops")

    // every per-hop frame is a partitioning-RETAINING
    // checkpoint on the vertex key, so hop r+1's expansion join reads
    // BOTH sides in place (frontier clustered on node, dir on u) — the
    // frontier rides a shuffle-hash hint because static planning would
    // otherwise SMJ-sort the graph-sized stream side. One AQE-off job
    // per hop instead of a fan of adaptive stage-jobs (measured: the
    // adaptive hop loop ran 27 jobs, dominated by scheduling floor, not
    // data).
    var visited = graft.core.Materialize.partitionedCheckpoint(
      seeds.select(col("node")).distinct().withColumn("hops", lit(0)), "node")
    var frontier = visited
    var h = 0
    while (h < maxHops && !frontier.isEmpty) {
      h += 1
      // expansion -> dedupe fused into the node repartition -> anti-join
      // against visited at vertex size -> eager ckpt, all ONE static job
      val next = graft.core.Materialize.checkpointRetainingPartitioning(
        frontier.hint("shuffle_hash").join(dir, frontier("node") === dir("u"))
          .select(dir("v").as("node"))
          .repartition(col("node")).dropDuplicates("node")
          .join(visited, Seq("node"), "left_anti")
          .withColumn("hops", lit(h)))
      // visited stays UN-checkpointed: it is a union of already-
      // checkpointed frames (seeds + each hop's `next`), so every consumer
      // re-reads cached blocks — a per-hop eager re-materialization of the
      // whole visited set would be pure job floor
      visited = visited.union(next)
      frontier = next
    }
    visited
  }

  /** Both directions in ONE generate pass (explode of the two
    * orientations), materialized via
    * [[graft.core.Materialize.partitionedCheckpoint]] on the hop-join key
    * `u`: the AQE-off eager checkpoint RETAINS the HashPartitioning, so
    * each hop's equi-join reads the checkpoint blocks in place with no
    * exchange — an AQE checkpoint loses the partitioning and would
    * re-shuffle the graph side every hop. */
  private def doubled(edges: DataFrame): DataFrame = {
    val extra = edges.columns.toIndexedSeq.filterNot(Seq("u", "v").contains)
    graft.core.Materialize.partitionedCheckpoint(
      edges.select(explode(array(
          struct((col("u").as("a") +: col("v").as("b") +: extra.map(col)): _*),
          struct((col("v").as("a") +: col("u").as("b") +: extra.map(col)): _*))).as("s"))
        .select((col("s.a").as("u") +: col("s.b").as("v") +: extra.map(c => col(s"s.$c").as(c))): _*),
      "u")
  }

  /** Weighted single-source shortest distances, Bellman-Ford style: each
    * round relaxes every edge once —
    *   dist(r+1)(v) = min(dist(r)(v), min over (u,v,w) of dist(r)(u) + w)
    * — one hash equi-join on the vertex key + one min-aggregate per round.
    * Unlike [[hops]], there is NO frontier/anti-join shortcut: a weighted
    * relaxation can IMPROVE a vertex it already reached (a longer-hop but
    * lighter path), so every round re-relaxes the full distance table.
    *
    * The g09/g11/g08 union-keyed discipline: a round is
    * one ZERO-exchange co-partitioned join (distance table clustered on
    * the vertex key by the previous round's agg, edges by the shared
    * checkpoint) + one union-keyed min-agg over relaxation rows ∪
    * carry-forward rows — statically planned (see the in-loop note), so
    * the fixpoint runs as ONE job with one map-side-combined exchange per
    * round. A/B'd against a self-loop-augmented edge frame (fold the
    * carry INTO the join by adding weight-0 loops, making each round's
    * table single-consumer): same round cost, but the augmented frame
    * pays a full edge-sized clustering shuffle per execution (or +0.5 s
    * of build ledger if memoized) that this shape avoids — rejected,
    * sf0.1 min-of-2 1.46 s vs 1.26 s same-window control-normalized.
    *
    * Depth is CAPPED at `rounds` by contract — this computes "shortest
    * distance using ≤ rounds edges", the fixed-depth semantic that is
    * deterministic and oracle-expressible as chained CTEs (full
    * Bellman-Ford converges at rounds = |V|−1; callers pick the radius
    * the workload needs, exactly like [[hops]]). Integer weights keep
    * min() hash-exact across engines.
    *
    * @param edges undirected edge list with columns (u, v, w); w must be
    *              non-negative integral for the ≤-rounds semantic to be
    *              the usual one
    * @param seeds source vertices, column (node)
    * @return (node, dist) — min weighted distance from any seed over
    *         paths of ≤ `rounds` edges; unreached vertices absent
    */
  def weightedDistances(edges: DataFrame, seeds: DataFrame, rounds: Int): DataFrame =
    weightedDistancesOnDoubled(
      doubled(edges.select(col("u"), col("v"), col("w"))), seeds, rounds)

  /** [[weightedDistances]] over an ALREADY-doubled, u-clustered (u, v, w)
    * frame — same sharing rationale as [[hopsOnDoubled]]; a
    * narrow weight projection over the shared artifact retains its
    * clustering. */
  def weightedDistancesOnDoubled(dir: DataFrame, seeds: DataFrame,
      rounds: Int): DataFrame = {
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    // Constraint propagation is disabled when planning the rounds: the
    // (checkpoint → join → self-union → re-checkpoint) shape trips a
    // Catalyst union-constraint rewrite ("key not found: <attr>" from
    // UnionBase.rewriteConstraints) once the edge lineage carries
    // generator-derived constraints. Constraints only drive optional
    // filter inference — never results — so turning them off for the
    // in-loop checkpoints is semantically free, and the returned frame is a
    // checkpoint-rooted LogicalRDD whose (empty) constraint snapshot is
    // already taken.
    //
    // The whole fixpoint is planned STATICALLY (AQE off — the
    // [[graft.core.Materialize]] posture, applied to a loop): every
    // round's min-agg emits HashPartitioning(node), the rename makes it
    // HashPartitioning(u), and the shuffle-hash hint joins it against
    // the identically u-clustered edge checkpoint with ZERO exchange;
    // the relaxation rows and the carry-forward rows then meet in ONE
    // union-keyed min-agg whose exchange (map-side combined) is the
    // round's only shuffle. Per-round lazy localCheckpoints cut lineage
    // and let the round's two readers of `dist` (join side + carry
    // side) share one materialization WITHOUT splitting the action:
    // RDD dependencies flow through a lazy LogicalRDD, so the final
    // action still runs the r rounds as one job with r stages. Under
    // AQE the same plan ran as 13 scheduled jobs (one per stage
    // materialization + a per-round broadcast estimate of the
    // vertex-sized table) — measured 13 → 4 at sf0.1; at 100 TB the
    // static co-partitioned plan is exactly the cluster shape (a
    // vertex-sized table never broadcasts — the g04 rule).
    def pin(df: DataFrame): DataFrame = graft.core.Materialize.staticCheckpoint(df,
      eager = false, "spark.sql.constraintPropagation.enabled" -> "false")
    var dist = pin(seeds.select(col("node")).distinct().withColumn("dist", lit(0L)))
    var r = 0
    while (r < rounds) {
      r += 1
      dist = pin(dist.hint("shuffle_hash").join(dir, dist("node") === dir("u"))
        .select(dir("v").as("node"), (dist("dist") + dir("w")).as("dist"))
        .union(dist.select(col("node"), col("dist")))
        .groupBy(col("node")).agg(min(col("dist")).as("dist")))
    }
    dist
  }
}
