package graft.core

import java.util.concurrent.ConcurrentHashMap

/** Session-scoped memoization of build artifacts (persisted signature
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
  * Lifetime: entries are keyed by applicationId (callers include it in
  * `key`), and the first build in a session installs a listener that
  * EVICTS every entry (and its lock) mentioning that applicationId when
  * the application ends, so a long-lived multi-session service can reuse
  * this as-is.
  */
object ArtifactRegistry {

  private val store = new ConcurrentHashMap[Any, AnyRef]()
  private val locks = new ConcurrentHashMap[Any, AnyRef]()
  private val evictionRegistered = ConcurrentHashMap.newKeySet[String]()
  // tag -> accumulated self-seconds across builds (appId lives in the
  // store key, not here: Bench resets timings at session start, so the
  // snapshot it reads is exactly the builds its own session paid for)
  private val buildSelf = new ConcurrentHashMap[String, java.lang.Double]()
  // Measurement hygiene, opt-in ([[graft.Bench]] isolated pass only): a
  // build's recorded wall must measure the BUILD, not the previous
  // queries' garbage. Bench System.gc()s before every timed query, but
  // builds trigger lazily inside the (untimed) warm-up loop — without
  // the same discipline a major collection from 30 prior warm-up queries
  // lands inside whichever build runs next (measured: triangle_core read
  // 10.6 s inside a bench warm-up vs 3.3 s in a clean probe of the same
  // code, same host window). Off by default: production callers and the
  // bench's CONCURRENT pass (where a stop-the-world gc under 6 running
  // queries would distort the very wall being measured) want no gc
  // side effects from a cache.
  @volatile var gcBeforeBuild: Boolean = false
  // per-thread stack of child-time accumulators for nested builds
  private val childTime = new ThreadLocal[java.util.ArrayDeque[Array[Double]]] {
    override def initialValue() = new java.util.ArrayDeque[Array[Double]]()
  }

  /** Memoized `build` under `key`; `tag` names the artifact in the bench
    * accounting (stable across runs — no appId/dir in the tag). */
  def cached[V <: AnyRef](key: Any, tag: String)(build: => V): V = {
    val k = (tag, key)
    val hit = store.get(k)
    if (hit != null) hit.asInstanceOf[V]
    else {
      val lock = locks.computeIfAbsent(k, _ => new Object)
      val w0 = System.nanoTime()
      lock.synchronized {
        val again = store.get(k)
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
          autoRegisterEviction()
          // outside the timed window, and only for a genuine build
          if (gcBeforeBuild) System.gc()
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
          store.put(k, v)
          v
        }
      }
    }
  }

  /** Install (once per application) a listener that drops this
    * application's entries when it ends. Registered lazily from the
    * first build on a thread with an active session — call sites need no
    * wiring, and a registry used without any Spark session (unit tests
    * of the cache itself) simply skips it. */
  private def autoRegisterEviction(): Unit =
    org.apache.spark.sql.SparkSession.getActiveSession.foreach { s =>
      val appId = s.sparkContext.applicationId
      if (evictionRegistered.add(appId)) {
        s.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
          override def onApplicationEnd(
              e: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit = {
            evictApplication(appId)
            evictionRegistered.remove(appId)
            ()
          }
        })
      }
    }

  /** Drop every artifact AND its lock whose key mentions `appId`
    * anywhere in its (possibly nested) tuple structure — the convention
    * every call site follows is to embed the applicationId in `key`, so
    * this is exact, and an entry whose key does NOT name an application
    * (none exist today) is deliberately left alone. */
  private[graft] def evictApplication(appId: String): Unit = {
    def mentions(x: Any): Boolean = x match {
      case s: String => s == appId
      case p: Product => p.productIterator.exists(mentions)
      case _ => false
    }
    val dead = new java.util.ArrayList[Any]()
    store.keySet.forEach { k => if (mentions(k)) { dead.add(k); () } }
    dead.forEach { k => store.remove(k); locks.remove(k); () }
  }

  /** Per-tag build self-seconds accumulated since the last
    * [[resetTimings]] (artifacts themselves stay cached). */
  def buildSeconds: Map[String, Double] = {
    val b = Map.newBuilder[String, Double]
    buildSelf.forEach((k, v) => b += (k -> v.doubleValue()))
    b.result()
  }

  def resetTimings(): Unit = buildSelf.clear()
}
