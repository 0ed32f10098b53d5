package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** One timed interval around a call into a layer. */
final case class Span(id: Long, parent: Long, request: String, layer: String,
    name: String, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** Spark-side counters for one job group (one benchmark operation). */
final class GroupCounters {
  var jobs = 0L; var stages = 0L; var tasks = 0L; var exchanges = 0L
  var runNs = 0L; var cpuNs = 0L; var gcMs = 0L; var schedDelayMs = 0L
  var shuffleReadB = 0L; var shuffleWriteB = 0L; var spillB = 0L
  var bytesRead = 0L; var filesRead = 0L; var planMs = 0L; var executions = 0L
}

/** Spans recorded from the benchmark's side of each layer call, plus a
  * SparkListener whose job, task and SQL-execution counters are attributed
  * to the operation that caused them through the job group.
  *
  * Tracing is switched per operation (`op(..., traced)`), so a traced run can
  * alternate traced and untraced operations and report the difference. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  val cores: Int = spark.sparkContext.defaultParallelism
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val nextId = new AtomicLong(1)
  private val ctx = new ThreadLocal[(String, List[Long])] // request, span stack
  private val groups = new ConcurrentHashMap[String, GroupCounters]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val stageSubmitMs = new ConcurrentHashMap[Int, java.lang.Long]()
  private val execGroup = new ConcurrentHashMap[Long, String]()
  private val pendingQe = new java.util.concurrent.ConcurrentLinkedQueue[(Long, QueryExecution)]()
  private val jobsStarted = new AtomicLong(0)
  private val jobsEnded = new AtomicLong(0)
  private val qesSeen = new AtomicLong(0)

  private def counters(g: String) = groups.computeIfAbsent(g, _ => new GroupCounters)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobsStarted.incrementAndGet()
      val props = Option(e.properties)
      val g = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).orNull
      if (g != null) {
        val c = counters(g)
        c.synchronized { c.jobs += 1; c.stages += e.stageIds.size }
        e.stageIds.foreach(s => stageGroup.put(s, g))
        props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .foreach(id => execGroup.put(id.toLong, g))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = { jobsEnded.incrementAndGet(); () }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      e.stageInfo.submissionTime.foreach(t =>
        stageSubmitMs.put(e.stageInfo.stageId, java.lang.Long.valueOf(t)))
    }
    // The executed plan of each SQL execution, with the id its jobs carry. A
    // QueryExecutionListener is fed from this same event but is not told the
    // id, and the event's `qe` is package-private, hence the reflective read.
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd =>
        Option(end.getClass.getMethod("qe").invoke(end)).foreach(qe =>
          pendingQe.add(end.executionId -> qe.asInstanceOf[QueryExecution]))
        qesSeen.incrementAndGet()
        ()
      case _ => ()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val g = stageGroup.get(e.stageId)
      if (g != null && e.taskMetrics != null) {
        val m = e.taskMetrics
        val c = counters(g)
        val submit = Option(stageSubmitMs.get(e.stageId)).map(_.longValue)
        c.synchronized {
          c.tasks += 1
          c.runNs += m.executorRunTime * 1000000L
          c.cpuNs += m.executorCpuTime
          c.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
          c.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
          c.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
          c.bytesRead += m.inputMetrics.bytesRead
          submit.foreach(s => c.schedDelayMs += math.max(0L, e.taskInfo.launchTime - s))
        }
      }
    }
  }

  if (enabled) spark.sparkContext.addSparkListener(listener)

  /** Run `body` as one benchmark operation: its Spark work is tagged with the
    * job group `group`; spans are recorded only when `traced`. */
  def op[T](group: String, traced: Boolean)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group, interruptOnCancel = false)
    val on = enabled && traced
    if (on) ctx.set((group, Nil))
    val gc0 = if (on) Tracer.gcMs() else 0L
    try body
    finally {
      if (on) {
        val c = counters(group)
        val d = Tracer.gcMs() - gc0
        c.synchronized { c.gcMs += d }
      }
      ctx.remove()
      sc.clearJobGroup()
    }
  }

  /** Whether the calling thread is inside a traced operation. */
  def inTracedOp: Boolean = ctx.get() != null

  /** Record a span around a call into `layer` when the current operation is traced. */
  def span[T](layer: String, name: String)(body: => T): T = {
    val c = ctx.get()
    if (c == null) body
    else {
      val (req, stack) = c
      val id = nextId.getAndIncrement()
      ctx.set((req, id :: stack))
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        ctx.set((req, stack))
        spans.add(Span(id, stack.headOption.getOrElse(0L), req, layer, name, t0, t1))
      }
    }
  }

  /** Wait until the listener bus has delivered every job end and the
    * execution-end stream has gone quiet, then attribute executed plans. */
  def drain(timeoutMs: Long = 20000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    def snapshot = (jobsEnded.get(), qesSeen.get())
    var last = (-1L, -1L)
    var now = snapshot
    while (System.currentTimeMillis() < deadline &&
        !(jobsEnded.get() >= jobsStarted.get() && now == last)) {
      Thread.sleep(200)
      last = now
      now = snapshot
    }
    var e = pendingQe.poll()
    while (e != null) {
      val (id, qe) = e
      Option(execGroup.get(id)).foreach { g =>
        val plan = finalPlan(qe.executedPlan)
        val c = counters(g)
        c.synchronized {
          c.executions += 1
          c.exchanges += plan.count(_.isInstanceOf[ShuffleExchangeLike])
          c.filesRead += plan.map(p => p.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum
          c.planMs += qe.tracker.phases.values.map(_.durationMs).sum
        }
      }
      e = pendingQe.poll()
    }
  }

  /** Every node of the executed plan, descending into adaptive and query-stage wrappers. */
  private def finalPlan(p: SparkPlan): Seq[SparkPlan] = {
    def walk(n: SparkPlan): Seq[SparkPlan] = n match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => s +: walk(s.plan)
      case other => other +: (other.children ++ other.subqueries).flatMap(walk)
    }
    walk(p)
  }

  def groupCounters: Map[String, GroupCounters] = groups.asScala.toMap

  def allSpans: Seq[Span] = spans.asScala.toSeq

  /** Self time per layer: each span's duration minus the part its children cover. */
  def selfSecondsByLayer(filter: Span => Boolean = _ => true): Map[String, Double] = {
    val all = allSpans
    val childNs = mutable.Map.empty[Long, Long].withDefaultValue(0L)
    all.foreach(s => if (s.parent != 0) childNs(s.parent) += s.durNs)
    all.filter(filter).groupBy(_.layer).map { case (l, ss) =>
      l -> ss.map(s => math.max(0L, s.durNs - childNs(s.id))).sum / 1e9
    }
  }

  /** Total (inclusive) seconds of spans named `name`. */
  def seconds(name: String): Double =
    allSpans.filter(_.name == name).map(_.durNs).sum / 1e9

  def writeSpans(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try allSpans.sortBy(_.startNs).foreach { s =>
      w.println(s"""{"id":${s.id},"parent":${s.parent},"request":${Json.str(s.request)},""" +
        s""""layer":${Json.str(s.layer)},"name":${Json.str(s.name)},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    } finally w.close()
  }
}

object Tracer {
  /** Collection time of every JVM collector so far, in ms. */
  def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
}
