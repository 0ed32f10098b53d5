package graft.core

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

/** Application-scoped memoization of build artifacts (persisted signature
  * tables, fitted clusterings, graph edge materializations, PQ codes …)
  * with per-tag build-time accounting.
  *
  * Two contracts:
  *
  * 1. **Nested builds are legal.** Several builds depend on other cached
  *    artifacts (d05's clusters read the 0.8-Jaccard pair table, LPA
  *    reads the doubled-edge frame, the sketch register table reads the
  *    month-key base). `ConcurrentHashMap.computeIfAbsent`'s mapping
  *    function must not update the same map — a nested absent key hashing
  *    into the outer key's bin throws IllegalStateException("Recursive
  *    update"). Here the pattern is get → per-key lock → re-check →
  *    build: the store itself is only touched by plain get/put, so a
  *    build may freely request other artifacts (dependencies are acyclic
  *    — jp08→d05a, und→lpa3, mkbase→mkregs — so the per-key locks cannot
  *    deadlock). A build that throws stores nothing; the next request
  *    for its key builds again.
  *
  * 2. **Auditable amortization.** "First query in a session pays the
  *    build" is the production posture, but a benchmark that warms up
  *    on the same session hides every build from every measured number.
  *    Each build's wall-clock is recorded per tag — SELF time only: a
  *    parent build's number excludes time spent inside nested `cached`
  *    builds, so the per-tag seconds sum to total build cost without
  *    double counting. [[graft.Bench]] snapshots [[buildSeconds]] after
  *    its warm-up pass and publishes the first-build ledger as
  *    `artifact:<tag>` items, `build_total_sec`, and
  *    `ratio_aggregate_with_builds` in BENCH_DETAIL.
  *
  * Lifetime: entries live in one map per application
  * (`spark.sparkContext.applicationId`); creating that map registers a
  * listener on the same SparkContext that drops the whole map when the
  * application ends, so a long-lived multi-session service can reuse
  * this as-is. `key` names the artifact within its application.
  */
object ArtifactRegistry {

  /** One application's artifacts and their per-key build locks. */
  private final class Scope {
    val store = new ConcurrentHashMap[Any, AnyRef]()
    val locks = new ConcurrentHashMap[Any, AnyRef]()
  }

  private val scopes = new ConcurrentHashMap[String, Scope]()
  // tag -> accumulated self-seconds across builds (Bench resets timings
  // at session start, so the snapshot it reads is exactly the builds its
  // own session paid for)
  private val buildSelf = new ConcurrentHashMap[String, java.lang.Double]()
  // per-thread stack of child-time accumulators for nested builds
  private val childTime = new ThreadLocal[java.util.ArrayDeque[Array[Double]]] {
    override def initialValue() = new java.util.ArrayDeque[Array[Double]]()
  }

  /** `spark`'s application scope; the first request creates it and
    * registers its eviction on that application's SparkContext. */
  private def scope(spark: SparkSession): Scope = {
    val sc = spark.sparkContext
    scopes.computeIfAbsent(sc.applicationId, appId => {
      sc.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
          evictApplication(appId)
      })
      new Scope
    })
  }

  /** Memoized `build` under `key` within `spark`'s application; `tag`
    * names the artifact in the bench accounting (stable across runs — no
    * appId/dir in the tag). */
  def cached[V <: AnyRef](spark: SparkSession, key: Any, tag: String)(build: => V): V = {
    val app = scope(spark)
    val k = (tag, key)
    val hit = app.store.get(k)
    if (hit != null) hit.asInstanceOf[V]
    else {
      val lock = app.locks.computeIfAbsent(k, _ => new Object)
      val w0 = System.nanoTime()
      lock.synchronized {
        val again = app.store.get(k)
        if (again != null) {
          // Lost the build race: another thread materialized this
          // artifact while we blocked on its lock. The builder's thread
          // already charged the build to the tag; credit OUR blocked
          // wall to the calling build's child accumulator so a parent's
          // SELF time excludes it — otherwise the same interval lands on
          // both tags and build_total_sec double-counts under the
          // concurrent pass. (A wait that ends WITHOUT the value present
          // — the builder failed — stays on the parent: rare, and
          // conservative in the right direction.)
          val parent = childTime.get().peek()
          if (parent != null) parent(0) += (System.nanoTime() - w0) / 1e9
          again.asInstanceOf[V]
        } else {
          val stack = childTime.get()
          stack.push(Array(0.0))
          val t0 = System.nanoTime()
          val v =
            try build
            finally {
              val elapsed = (System.nanoTime() - t0) / 1e9
              val nested = stack.pop()(0)
              val self = Double.box(math.max(0.0, elapsed - nested))
              buildSelf.merge(tag, self, (a, b) => Double.box(a + b))
              val parent = stack.peek()
              if (parent != null) parent(0) += elapsed
            }
          app.store.put(k, v)
          v
        }
      }
    }
  }

  /** Drop every artifact and lock of application `appId`. */
  private[graft] def evictApplication(appId: String): Unit = { scopes.remove(appId); () }

  /** Per-tag build self-seconds accumulated since the last
    * [[resetTimings]] (artifacts themselves stay cached). */
  def buildSeconds: Map[String, Double] = {
    val b = Map.newBuilder[String, Double]
    buildSelf.forEach((k, v) => b += (k -> v.doubleValue()))
    b.result()
  }

  def resetTimings(): Unit = buildSelf.clear()
}
