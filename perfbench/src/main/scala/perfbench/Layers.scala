package perfbench

/** Spark-layer metrics for a set of traced operations (their job groups),
  * as means per operation. */
object Layers {

  def spark(res: Result, tracer: Tracer, groups: Iterable[String], opWallS: Double): Unit = {
    val cs = groups.flatMap(tracer.groupCounters.get)
    val n = math.max(1, groups.size).toDouble
    def per(f: GroupCounters => Double): Double = cs.map(f).sum / n
    val k = groups.size.toLong
    val cores = tracer.cores
    res.metric("spark.jobs", per(_.jobs.toDouble), "count", k)
    res.metric("spark.stages", per(_.stages.toDouble), "count", k)
    res.metric("spark.tasks", per(_.tasks.toDouble), "count", k)
    res.metric("spark.exchanges", per(_.exchanges.toDouble), "count", k)
    res.metric("spark.plan_s", per(_.planMs / 1e3), "s", k)
    res.metric("spark.task_core_s", per(_.runNs / 1e9), "s", k)
    res.metric("spark.core_util", cs.map(_.runNs / 1e9).sum / (opWallS * cores), "ratio", k)
    res.metric("spark.sched_delay_s", per(_.schedDelayMs / 1e3), "s", k)
    res.metric("spark.shuffle_read_mb", per(_.shuffleReadB / 1048576.0), "MB", k)
    res.metric("spark.shuffle_write_mb", per(_.shuffleWriteB / 1048576.0), "MB", k)
    res.metric("spark.spill_mb", per(_.spillB / 1048576.0), "MB", k)
    res.metric("spark.gc_s", per(_.gcMs / 1e3), "s", k)
    res.metric("spark.files_read", per(_.filesRead.toDouble), "count", k)
    res.metric("spark.bytes_read", per(_.bytesRead.toDouble), "B", k)
  }

  /** Self time per layer, as a mean over the `ops` traced operations. */
  def selfTimes(res: Result, tracer: Tracer, layers: Seq[String], ops: Int): Unit = {
    val self = tracer.selfSecondsByLayer()
    layers.foreach(l => res.metric(s"$l.self_s", self.getOrElse(l, 0.0) / math.max(1, ops), "s", ops))
    res.metric("trace.spans", tracer.allSpans.size, "count")
  }
}
