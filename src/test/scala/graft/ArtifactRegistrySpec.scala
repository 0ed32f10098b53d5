package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.core.ArtifactRegistry

/** Pins the two contracts the registry exists for: nested builds are
  * legal (the computeIfAbsent recursion hazard), and per-tag build
  * accounting is SELF time (a parent's number excludes the child build it
  * triggered, so tags sum to total cost). Also pins memoization under
  * races, eviction, and that a failed build leaves no entry behind.
  */
class ArtifactRegistrySpec extends AnyFunSuite {

  test("nested cached builds are safe, memoized, and self-timed") {
    ArtifactRegistry.resetTimings()
    var innerBuilds = 0
    var outerBuilds = 0
    def inner: String =
      ArtifactRegistry.cached(("ars", "dep"), "spec_inner") {
        innerBuilds += 1; Thread.sleep(200); "I"
      }
    val outer =
      ArtifactRegistry.cached(("ars", "top"), "spec_outer") {
        outerBuilds += 1
        val i = inner // nested build of a DIFFERENT artifact mid-build
        Thread.sleep(20)
        i + "O"
      }
    assert(outer == "IO")
    // memoized: re-requesting either returns the cached value, no rebuild
    assert(inner == "I")
    assert(ArtifactRegistry.cached(("ars", "top"), "spec_outer")("X") == "IO")
    assert(innerBuilds == 1 && outerBuilds == 1)
    val t = ArtifactRegistry.buildSeconds
    assert(t("spec_inner") >= 0.15, s"inner self time: $t")
    // outer's self time must EXCLUDE the ~200 ms inner build it triggered
    assert(t("spec_outer") < 0.15, s"outer self time must exclude child: $t")
    ArtifactRegistry.resetTimings()
    assert(!ArtifactRegistry.buildSeconds.contains("spec_inner"))
    // values survive a timing reset (artifacts stay cached)
    assert(ArtifactRegistry.cached(("ars", "dep"), "spec_inner")("Y") == "I")
  }

  test("lost build race credits blocked wall to the parent, not the tag twice") {
    ArtifactRegistry.resetTimings()
    val gate = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    // thread A builds the shared dep slowly; thread B's PARENT build
    // blocks on that in-flight dep and must not charge the wait to its
    // own tag (the r13 double-count)
    val a = pool.submit(new java.util.concurrent.Callable[String] {
      def call(): String =
        ArtifactRegistry.cached(("ars", "shared"), "spec_shared") {
          gate.countDown(); Thread.sleep(300); "S"
        }
    })
    gate.await()
    Thread.sleep(30) // A is now mid-build
    val b = pool.submit(new java.util.concurrent.Callable[String] {
      def call(): String =
        ArtifactRegistry.cached(("ars", "parent"), "spec_parent") {
          ArtifactRegistry.cached(("ars", "shared"), "spec_shared")("X") + "P"
        }
    })
    assert(a.get() == "S" && b.get() == "SP")
    pool.shutdown()
    val t = ArtifactRegistry.buildSeconds
    assert(t("spec_shared") >= 0.25, s"builder's own time stands: $t")
    // parent blocked ~270 ms on the shared build; its SELF time must not
    // include that interval (tags must sum without double counting)
    assert(t("spec_parent") < 0.15, s"parent must exclude lock wait: $t")
    ArtifactRegistry.resetTimings()
  }

  test("application-end eviction drops exactly that application's keys") {
    def build(app: String, name: String): String =
      ArtifactRegistry.cached((app, name), "spec_evict") { s"$app/$name" }
    var rebuilds = 0
    assert(build("appA", "x") == "appA/x")
    assert(build("appA", "y") == "appA/y")
    assert(build("appB", "x") == "appB/x")
    ArtifactRegistry.evictApplication("appA")
    // appB untouched (cached), appA keys rebuild
    assert(ArtifactRegistry.cached(("appB", "x"), "spec_evict") {
      rebuilds += 1; "NEW"
    } == "appB/x" && rebuilds == 0)
    assert(ArtifactRegistry.cached(("appA", "x"), "spec_evict") {
      rebuilds += 1; "NEW"
    } == "NEW" && rebuilds == 1)
    ArtifactRegistry.resetTimings()
  }

  test("concurrent requests for one key build exactly once") {
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    val tasks = (1 to 16).map { _ =>
      pool.submit(new java.util.concurrent.Callable[String] {
        def call(): String =
          ArtifactRegistry.cached(("ars", "race"), "spec_race") {
            n.incrementAndGet(); Thread.sleep(50); "R"
          }
      })
    }
    val got = tasks.map(_.get())
    pool.shutdown()
    assert(got.forall(_ == "R"))
    assert(n.get() == 1)
  }

  test("a throwing build caches nothing; the next request builds, returns and charges") {
    ArtifactRegistry.resetTimings()
    var builds = 0
    def v: String = ArtifactRegistry.cached(("arsThrow", "x"), "spec_throw") {
      builds += 1
      if (builds == 1) throw new RuntimeException("cold failure")
      Thread.sleep(80); "OK"
    }
    try {
      intercept[RuntimeException](v)
      assert(builds == 1)
      // nothing was stored: the next request runs the build again
      assert(v == "OK" && builds == 2)
      assert(ArtifactRegistry.buildSeconds("spec_throw") >= 0.06,
        s"the successful build is charged to its tag: ${ArtifactRegistry.buildSeconds}")
      // and now it is memoized
      assert(v == "OK" && builds == 2)
    } finally {
      ArtifactRegistry.evictApplication("arsThrow")
      ArtifactRegistry.resetTimings()
    }
  }

  test("gc-before-build hygiene is OFF unless a bench opts in") {
    // production callers (and Bench's concurrent pass) must get no gc
    // side effects from a cache read or build — the flag exists solely
    // so the ISOLATED bench pass can time builds under the same
    // System.gc() discipline as its timed queries
    assert(!ArtifactRegistry.gcBeforeBuild)
  }
}
