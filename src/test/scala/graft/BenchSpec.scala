package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins Bench's pure helpers: the core-count-aware detail sidecar path and
  * the steal-time math behind the run's `steal_pct` context field. The
  * /proc/stat read itself is exercised by every Bench run on Linux. */
class BenchSpec extends AnyFunSuite {

  // A low-core scaling run must not overwrite the 32-core detail
  // artifact: 32 keeps the committed name, anything else gets a suffix.
  test("detail sidecar path: 32-core keeps the name of record, others suffix") {
    assert(Bench.detailPath(32) == "BENCH_DETAIL.json")
    assert(Bench.detailPath(8) == "BENCH_DETAIL_c8.json")
    assert(Bench.detailPath(16) == "BENCH_DETAIL_c16.json")
  }

  test("steal pct: fraction of the segment's jiffies that were stolen") {
    // 100 jiffies of steal out of 1000 total over the segment = 10 %
    assert(Bench.stealPct((500L, 10000L), (600L, 11000L)) == 10.0)
    assert(Bench.stealPct((0L, 0L), (0L, 1000L)) == 0.0)
  }

  test("steal pct sentinels: unreadable stat or empty segment = -1") {
    assert(Bench.stealPct((-1L, -1L), (600L, 11000L)) == -1.0)
    assert(Bench.stealPct((500L, 10000L), (-1L, -1L)) == -1.0)
    assert(Bench.stealPct((500L, 10000L), (500L, 10000L)) == -1.0) // no time passed
  }

  test("stealStat on this platform: sentinel pair or plausible counters") {
    val (st, tot) = Bench.stealStat()
    assert((st == -1L && tot == -1L) || (st >= 0L && tot > 0L && st <= tot))
  }
}
