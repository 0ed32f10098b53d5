package perfbench

import org.apache.spark.sql.SparkSession
import graft.core.ArtifactRegistry

/** `catalog`: a fixed sample of the declared queries (`SparkEntry.queries`),
  * run one at a time to the `noop` sink by one client in a closed loop.
  *
  * Set-up is the session plus one untimed pass that writes every result to
  * parquet, where `run.py` finds the outputs it checks against the DuckDB
  * oracle, and builds the memoized artifacts. The timed
  * region runs whole passes over the sample, at least `MinPasses` and until
  * `seconds` have passed, so every query is timed equally often; a traced
  * run alternates traced and untraced executions of each query over an even
  * number of passes. */
object Catalog {

  /** One query from each of the six largest query families (q, t, d, m, s,
    * dq), each in the cheaper half of its family, so that a run repeats the
    * sample often. `q43_bucketed_join` reads a memoized artifact, so the
    * set-up pass builds one through `ArtifactRegistry` and the timed
    * passes reuse it. */
  val Sample: Seq[String] = Seq("q43_bucketed_join", "t43_url_canonical", "d06_line_dedupe",
    "m03_image_stats", "s10_filtered_ann", "dq04_benford")
  val MinPasses = 2

  /** The sample in the order the seed gives it. */
  def sample(seed: Long): Seq[String] = new scala.util.Random(seed).shuffle(Sample)

  def run(spark: SparkSession, tracer: Tracer, res: Result, sf: String,
      sample: Seq[String], work: String, seconds: Double): Unit = {
    val catalog = graft.SparkEntry.queries
    def exec(q: String, group: String, traced: Boolean): (Double, Double) =
      tracer.op(group, traced) {
        val t0 = System.nanoTime()
        val df = tracer.span("queries", "construct")(catalog(q)(spark, sf))
        val t1 = System.nanoTime()
        tracer.span("queries", "action")(df.write.format("noop").mode("overwrite").save())
        ((t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9)
      }

    // The untimed set-up pass builds the memoized artifacts and writes each
    // result to parquet for the oracle check.
    val out = s"$work/out"
    ArtifactRegistry.resetTimings()
    sample.foreach { q =>
      try tracer.op(s"setup:$q", traced = false)(
        catalog(q)(spark, sf).coalesce(1).write.mode("overwrite").parquet(s"$out/$q"))
      catch { case e: Exception => res.error(s"$q set-up: ${e.getClass.getSimpleName}: ${e.getMessage}") }
    }
    Main.note("set-up pass done")
    val builds = ArtifactRegistry.buildSeconds
    res.metric("setup_s", Main.uptimeS(), "s")

    // (query, pass, traced, construct_s, action_s)
    val runs = scala.collection.mutable.ArrayBuffer.empty[(String, Int, Boolean, Double, Double)]
    val t0 = System.nanoTime()
    val cpu0 = Main.cpuS()
    var pass = 0
    while (pass < MinPasses || (tracer.enabled && pass % 2 == 1) || (System.nanoTime() - t0) / 1e9 < seconds) {
      sample.zipWithIndex.foreach { case (q, i) =>
        val traced = tracer.enabled && (i + pass) % 2 == 0
        res.attempted += 1
        try {
          val (c, a) = exec(q, s"${if (traced) "t" else "u"}:$q:$pass", traced)
          runs += ((q, pass, traced, c, a))
        } catch { case e: Exception => res.fail(s"$q pass $pass: ${e.getClass.getSimpleName}: ${e.getMessage}") }
      }
      pass += 1
      Main.note(s"pass $pass done")
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = Main.cpuS() - cpu0
    val heap = Main.heapLiveMb()
    val timedBuilds = ArtifactRegistry.buildSeconds.keySet -- builds.keySet

    // per query, the median of its untraced executions
    val plain = runs.filter(r => !r._3).groupBy(_._1).values.map(rs => Stats.median(rs.map(r => (r._4 + r._5) * 1000))).toSeq
    res.metric("latency_p50_ms", Stats.median(plain), "ms", plain.size)
    res.metric("throughput_per_s", runs.count(!_._3) / (wall - runs.filter(_._3).map(r => r._4 + r._5).sum),
      "1/s", runs.count(!_._3))
    res.metric("cpu_ms_per_op", cpu * 1000 / runs.size, "ms", runs.size)
    res.metric("heap_live_mb", heap, "MB")
    res.info("passes") = pass
    res.info("sample") = sample
    res.info("artifact_builds") = builds.size
    res.info("pass_wall_s") = wall / pass
    res.info("query_s") = runs.groupBy(_._1).map { case (q, rs) => q -> Stats.median(rs.map(r => r._4 + r._5)) }

    if (tracer.enabled) {
      tracer.drain()
      val traced = runs.filter(_._3)
      val groups = traced.map(r => s"t:${r._1}:${r._2}")
      val n = traced.size.toDouble
      res.metric("queries.construct_s", traced.map(_._4).sum / n, "s", traced.size)
      res.metric("queries.action_s", traced.map(_._5).sum / n, "s", traced.size)
      res.metric("queries.construct_share", traced.map(_._4).sum / traced.map(r => r._4 + r._5).sum, "ratio", traced.size)
      Layers.spark(res, tracer, groups, traced.map(r => r._4 + r._5).sum)
      val jobs = groups.map(g => tracer.groupCounters.get(g).map(_.jobs.toDouble).getOrElse(0.0))
      res.info("jobs_per_query_median") = Stats.median(jobs)
      res.metric("core.artifact_builds", builds.size, "count")
      res.metric("core.build_s", builds.values.sum, "s")
      res.metric("core.timed_builds", timedBuilds.size, "count")
      val untraced = runs.filter(!_._3).map(r => (r._4 + r._5) * 1000)
      res.metric("trace.overhead_ms",
        Stats.median(traced.map(r => (r._4 + r._5) * 1000)) - Stats.median(untraced), "ms", traced.size)
      Layers.selfTimes(res, tracer, Seq("queries"), traced.size)
      res.info("construct_share_by_query") = traced.groupBy(_._1).map { case (q, rs) =>
        q -> rs.map(_._4).sum / rs.map(r => r._4 + r._5).sum }
    }

    val oracle = graft.SparkEntry.oracleSql.filter { case (k, _) => sample.contains(k) }
    new java.io.File(out).mkdirs()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/oracle_sql.json"),
      oracle.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString("{", ",", "}"))
    ()
  }
}
