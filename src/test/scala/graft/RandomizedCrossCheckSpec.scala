package graft

import graft.operators.ShortestPaths
import graft.queries.{AnalyticsQueries, CoreQueries}
import scala.util.Random

/** Seeded randomized cross-checks: each distributed operator vs a
  * brute-force driver-side reference on small random inputs (the
  * TrianglesSpec discipline). Fixed seeds — failures reproduce exactly.
  */
class RandomizedCrossCheckSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("xcheck").toString

  test("BFS hops == brute-force reference on random graphs (3 seeded trials)") {
    for (seed <- 1 to 3) {
      val rnd = new Random(seed)
      val n = 25
      val edges = (for {
        u <- 1 to n; v <- (u + 1) to n if rnd.nextDouble() < 0.1
      } yield (u.toLong, v.toLong)).toList
      val seeds = List(1L, 2L)
      val maxHops = 4
      // driver-side BFS
      val adj = (edges ++ edges.map(_.swap))
        .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSet }
      var dist = seeds.map(_ -> 0).toMap
      var frontier = seeds.toSet
      for (h <- 1 to maxHops) {
        val next = frontier.flatMap(adj.getOrElse(_, Set.empty)) -- dist.keySet
        dist ++= next.map(_ -> h)
        frontier = next
      }
      val got = ShortestPaths.hops(edges.toDF("u", "v"), seeds.toDF("node"), maxHops)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(got == dist.map { case (k, v) => (k, v) }, s"seed=$seed")
    }
  }

  test("interval coverage == brute-force island merge + sweep on random intervals (3 seeded trials)") {
    for (seed <- 1 to 3) {
      val rnd = new Random(400 + seed)
      // (event_id, ts_nanos, user_id, value-minutes) — includes zero-length
      // intervals (value = 0) and duplicate timestamps
      val evs = (1 to 150).map { i =>
        (i.toLong, rnd.nextInt(600).toLong * 1000000000L, rnd.nextInt(5).toLong,
          rnd.nextInt(6).toDouble / 2.0)
      }
      val dir = tmp()
      evs.toDF("event_id", "ts", "user_id", "value")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      // brute force, mirroring the declared semantics exactly
      val expect = evs.groupBy(_._3).map { case (user, rows) =>
        val iv = rows.map { case (id, ns, _, v) =>
          val s = ns / 1000; (s, s + math.floor(v * 60).toLong * 1000000L, id)
        }.sortBy(t => (t._1, t._2, t._3))
        var prevMax = Long.MinValue
        var islands = List.empty[(Long, Long)] // (minStart, maxEnd) per island
        iv.foreach { case (s, e, _) =>
          if (islands.isEmpty || s > prevMax) islands ::= (s, e)
          else islands = (islands.head._1, math.max(islands.head._2, e)) :: islands.tail
          prevMax = math.max(prevMax, e)
        }
        val covered = islands.map { case (s, e) => e - s }.sum
        val deltas = iv.flatMap { case (s, e, _) => Seq(s -> 1L, e -> -1L) }
          .groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq.sortBy(_._1)
        val maxConc = deltas.scanLeft(0L) { case (acc, (_, d)) => acc + d }.tail.max
        user -> (iv.size.toLong, islands.size.toLong, covered, maxConc)
      }
      val got = AnalyticsQueries.q61IntervalCoverage(spark, dir).collect().map { r =>
        r.getAs[Long]("user_id") -> (r.getAs[Long]("n_events"),
          r.getAs[Long]("n_islands"), r.getAs[Long]("covered_us"),
          r.getAs[Long]("max_concurrent"))
      }.toMap
      assert(got == expect, s"seed=$seed\n got=$got\n exp=$expect")
    }
  }

  test("bounded k-core peel over-approximates the TRUE fixpoint 3-core (3 seeded trials)") {
    for (seed <- 1 to 3) {
      val rnd = new Random(500 + seed)
      val rows = for {
        ok <- 1 to 30; _ <- 1 to (2 + rnd.nextInt(4))
      } yield (ok.toLong, (1 + rnd.nextInt(25)).toLong)
      val dir = tmp()
      rows.toDF("l_orderkey", "l_partkey")
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      // driver-side fixpoint peel = the true 3-core
      val byOrder = rows.groupBy(_._1).values.map(_.map(_._2).toSet)
      val edges = byOrder.flatMap(ps => for (u <- ps; v <- ps if u < v) yield (u, v)).toSet
      val adj = scala.collection.mutable.Map.empty[Long, Set[Long]].withDefaultValue(Set())
      edges.foreach { case (u, v) => adj(u) += v; adj(v) += u }
      var changed = true
      while (changed) {
        val drop = adj.keys.filter(v => adj(v).size < 3).toList
        changed = drop.nonEmpty
        drop.foreach { v => adj(v).foreach(w => adj(w) -= v); adj.remove(v) }
      }
      val core = adj.keySet
      val got = graft.queries.MiningQueries.g05Kcore(spark, dir).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      // peeling can never remove a core vertex, and core edges all survive
      core.foreach { v =>
        assert(got.contains(v), s"seed=$seed: core vertex $v peeled away")
        assert(got(v) >= 3, s"seed=$seed: core vertex $v lost core degree: ${got(v)}")
      }
    }
  }

  test("skyline sweep == brute-force dominance on random points (3 seeded trials)") {
    for (seed <- 1 to 3) {
      val rnd = new Random(100 + seed)
      val pts = (1 to 60).map(i =>
        (i.toLong, (rnd.nextInt(15) + 1).toDouble, rnd.nextInt(10) + 1))
      val dir = tmp()
      pts.toDF("p_partkey", "p_retailprice", "p_size")
        .write.mode("overwrite").parquet(s"$dir/part.parquet")
      def dominated(p: (Long, Double, Int)) = pts.exists { q =>
        q._2 <= p._2 && q._3 >= p._3 && (q._2 < p._2 || q._3 > p._3)
      }
      val expect = pts.filterNot(dominated).map(_._1).toSet
      val got = AnalyticsQueries.q49Skyline(spark, dir).collect().map(_.getLong(0)).toSet
      assert(got == expect, s"seed=$seed missing=${expect -- got} extra=${got -- expect}")
    }
  }

  test("pigeonhole-blocked linkage finds EVERY Hamming<=1 same-nation pair (random names)") {
    for (seed <- 1 to 3) {
      val rnd = new Random(200 + seed)
      // names over a tiny alphabet in the digit region => dense near-pairs;
      // q50's mask positions are chars 10..18, so build names shaped like
      // the fixture: 9-char prefix + 9 'digit' chars
      def name() = "Customer#" + (1 to 9).map(_ => ('0' + rnd.nextInt(3)).toChar).mkString
      val rows = (1 to 80).map(i => (i.toLong, name(), rnd.nextInt(3)))
      val dir = tmp()
      rows.toDF("c_custkey", "c_name", "c_nationkey")
        .write.mode("overwrite").parquet(s"$dir/customer.parquet")
      def ham(a: String, b: String) = a.zip(b).count { case (x, y) => x != y }
      val expect = (for {
        a <- rows; b <- rows
        if a._1 < b._1 && a._3 == b._3 && ham(a._2, b._2) <= 1
      } yield (a._1, b._1)).toSet
      val got = CoreQueries.q50FuzzyLink(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == expect, s"seed=$seed missing=${expect -- got} extra=${got -- expect}")
    }
  }

  test("EWMA fold == driver recurrence on random daily series (3 seeded trials)") {
    for (seed <- 1 to 3) {
      val rnd = new Random(300 + seed)
      val us = 86400L * 1000000
      val rows = for {
        u <- 1 to 10; day <- 0 to 20 if rnd.nextDouble() < 0.5
        k <- 1 to (rnd.nextInt(3) + 1)
      } yield (u * 10000L + day * 10 + k, day * us * 1000 + k, u.toLong)
      val dir = tmp()
      rows.toDF("event_id", "ts", "user_id")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      val expect = rows.groupBy(_._3).map { case (u, rs) =>
        val daily = rs.groupBy(_._2 / (us * 1000)).toSeq.sortBy(_._1)
          .map(_._2.size.toDouble)
        u -> daily.tail.foldLeft(daily.head)((acc, x) => 0.25 * x + 0.75 * acc)
      }
      val got = AnalyticsQueries.q48Ewma(spark, dir).collect()
        .map(r => r.getLong(0) -> r.getAs[Double]("ewma")).toMap
      assert(got.keySet == expect.keySet, s"seed=$seed")
      expect.foreach { case (u, e) =>
        assert(math.abs(got(u) - e) < 1e-9, s"seed=$seed user=$u got=${got(u)} want=$e")
      }
    }
  }

  test("CDC merge == last-op-wins reference on random changelogs (3 seeded trials)") {
    for (seed <- 1 to 3) {
      val rnd = new Random(400 + seed)
      val ops = Array("view", "click", "purchase", "error")
      val rows = (1 to 120).map(i =>
        (i.toLong, rnd.nextInt(40).toLong * 1000000L, // coarse ts => real ties
          rnd.nextInt(15).toLong + 1, ops(rnd.nextInt(4)), rnd.nextDouble()))
      val dir = tmp()
      rows.toDF("event_id", "ts", "user_id", "event_type", "value")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      val expect = rows.groupBy(_._3).flatMap { case (u, rs) =>
        val last = rs.maxBy(r => (r._2, r._1))
        if (last._4 == "error") None
        else Some(u -> (rs.size.toLong, last._4, last._5))
      }
      val got = AnalyticsQueries.q53CdcMerge(spark, dir).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getString(3), r.getDouble(4))).toMap
      assert(got == expect, s"seed=$seed")
    }
  }

  test("scaled-BIGINT PageRank == driver integer recurrence on random graphs") {
    import graft.queries.MiningQueries
    for (seed <- 1 to 2) {
      val rnd = new Random(500 + seed)
      // random co-purchase lineitem: 12 orders × 2-4 parts from a pool of 10
      val rows = (1 to 12).flatMap { ok =>
        rnd.shuffle((1 to 10).toList).take(2 + rnd.nextInt(3))
          .map(pk => (ok * 100L, pk.toLong))
      }
      val dir = tmp()
      rows.toDF("l_orderkey", "l_partkey")
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      // driver-side reference: same integer recurrence
      val und = rows.groupBy(_._1).values.toSeq
        .flatMap(g => for (a <- g.map(_._2); b <- g.map(_._2) if a < b) yield (a, b))
        .distinct
      val e = und ++ und.map(_.swap)
      val deg = e.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
      val n = deg.size
      val S = 1000000000000L
      var p = deg.keys.map(_ -> S / n).toMap
      for (_ <- 1 to 3) {
        val sums = e.groupBy(_._2).map { case (v, es) =>
          v -> es.map { case (u, _) => p(u) / deg(u) }.sum
        }
        p = sums.map { case (v, sum) => v -> ((15L * (S / n)) / 100 + (85L * sum) / 100) }
      }
      val got = MiningQueries.g04PageRank(spark, dir).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == p, s"seed=$seed\ngot    $got\nexpect $p")
    }
  }

  test("grouped median == sorted-middle reference on random groups") {
    val rnd = new Random(42)
    val rows = (1 to 200).map(i =>
      (i.toLong, s"P${rnd.nextInt(4)}", (rnd.nextInt(1000) + 1).toDouble))
    val dir = tmp()
    rows.toDF("o_orderkey", "o_orderpriority", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val expect = rows.groupBy(_._2).map { case (k, rs) =>
      val xs = rs.map(_._3).sorted
      k -> (if (xs.length % 2 == 1) xs(xs.length / 2)
            else (xs(xs.length / 2 - 1) + xs(xs.length / 2)) / 2.0)
    }
    val got = AnalyticsQueries.q47GroupedMedian(spark, dir).collect()
      .map(r => r.getString(0) -> r.getAs[Double]("median_price")).toMap
    assert(got == expect)
  }

  test("MAD outlier gate == brute-force reference on random groups (3 seeded trials)") {
    for (seed <- 1 to 3) {
      val rnd = new Random(200 + seed)
      val rows = (1 to 150).map(i =>
        (i.toLong, s"P${rnd.nextInt(3)}", (rnd.nextInt(500) + 1).toDouble))
      val dir = tmp()
      rows.toDF("o_orderkey", "o_orderpriority", "o_totalprice")
        .write.mode("overwrite").parquet(s"$dir/orders.parquet")
      def median(xs0: Seq[Double]): Double = {
        val xs = xs0.sorted
        if (xs.length % 2 == 1) xs(xs.length / 2)
        else (xs(xs.length / 2 - 1) + xs(xs.length / 2)) / 2.0
      }
      val expect = rows.groupBy(_._2).map { case (k, rs) =>
        val med = median(rs.map(_._3))
        val devs = rs.map(r => math.abs(r._3 - med))
        val mad = median(devs)
        k -> ((rs.size.toLong, med, mad, devs.count(_ > 3.0 * mad).toLong))
      }
      val got = AnalyticsQueries.q57MadOutliers(spark, dir).collect().map(r =>
        r.getString(0) -> ((r.getAs[Long]("n_orders"), r.getAs[Double]("median_price"),
          r.getAs[Double]("mad"), r.getAs[Long]("n_outliers")))).toMap
      assert(got == expect, s"seed=$seed")
    }
  }

  test("incremental merge == direct recompute on random event logs (3 seeded trials)") {
    for (seed <- 1 to 3) {
      val rnd = new Random(300 + seed)
      val rows = (1 to 400).map { _ =>
        val user = rnd.nextInt(10).toLong
        // nanos spanning several day buckets
        val ts = (rnd.nextInt(5) * 86400L * 1000000000L) +
          rnd.nextInt(1000000) * 1000L
        (user, ts, rnd.nextDouble() * 100.0)
      }
      val dir = tmp()
      rows.toDF("user_id", "ts", "value")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      val expect = rows.groupBy(_._1).map { case (u, rs) =>
        val us = rs.map(_._2 / 1000)
        u -> ((rs.size.toLong, us.min, us.max,
          rs.map(r => math.floor(r._3 * 100).toLong).sum))
      }
      val got = AnalyticsQueries.q58IncrementalMerge(spark, dir).collect().map(r =>
        r.getLong(0) -> ((r.getAs[Long]("n_events"), r.getAs[Long]("first_us"),
          r.getAs[Long]("last_us"), r.getAs[Long]("sum_cents")))).toMap
      assert(got == expect, s"seed=$seed")
    }
  }

  // ---- round-11 kernels ----

  private def md5h32(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(d.take(4).map(b => f"$b%02x").mkString, 16)
  }

  test("winnowing kernel == brute-force reference on random texts; MOSS guarantee on planted overlaps") {
    import org.apache.spark.sql.functions.col
    def winnowRef(text: String, k: Int = 8, w: Int = 4): Set[Long] = {
      if (text.length < k) return Set.empty
      val hs = (0 to text.length - k).map(i => md5h32(text.substring(i, i + k)))
      if (hs.length < w) return Set.empty
      (0 to hs.length - w).map { p =>
        val j = (0 until w).minBy(j => (hs(p + j), -(p + j)))
        hs(p + j) * 67108864L + (p + j + 1)
      }.toSet
    }
    for (seed <- 1 to 3) {
      val rnd = new Random(500 + seed)
      val alpha = "abcde " // tiny alphabet → many hash ties → tie-break exercised
      def randText(n: Int): String =
        (1 to n).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
      val core = randText(15) // planted shared run >= k+w-1 = 11
      val texts = Seq(
        randText(rnd.nextInt(200)),
        randText(40) + core + randText(40),
        randText(7),  // below one gram
        randText(10), // grams but below one window
        core + randText(25))
      val df = texts.toDF("text")
        .select(graft.queries.SelectionQueries.winnowFids(col("text")).as("f"))
      val got = df.collect().map(_.getSeq[Long](0).toSet)
      texts.zip(got).foreach { case (t, g) =>
        assert(g == winnowRef(t), s"seed=$seed text='${t.take(30)}…'")
      }
      val shared = got(1).map(_ >> 26).intersect(got(4).map(_ >> 26))
      assert(shared.nonEmpty, s"seed=$seed: planted 15-char overlap must share a fingerprint")
    }
  }

  test("fixed-point Lloyd == driver recurrence on random planted clusters (3 seeded trials)") {
    for (seed <- 1 to 3) {
      val rnd = new Random(600 + seed)
      val dim = 8; val n = 40
      val centers = Array.fill(3)(Array.fill(dim)(rnd.nextFloat() * 0.8f - 0.4f))
      val vecs = (0 until n).map { i =>
        val c = centers(i % 3)
        (i.toLong, c.map(x => x + (rnd.nextFloat() - 0.5f) * 0.1f).toSeq, i % 3)
      }
      val dir = tmp()
      vecs.toDF("vec_id", "embedding", "label")
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      // driver reference — the spec-local mirror of kmFit's arithmetic
      def away(x: Double) = if (x >= 0) math.floor(x + 0.5) else math.ceil(x - 0.5)
      val q = vecs.map { case (id, v, _) =>
        (id, v.map(x => (away(x.toDouble * 1024d) + 1024d).toLong).toArray)
      }.sortBy(_._1)
      var cents = q.take(10).map(_._2.clone()).toArray
      def assign() = q.map { case (id, qs) =>
        var bp = -1; var bd = Long.MaxValue
        cents.zipWithIndex.foreach { case (c, p) =>
          var dd = 0L; var i = 0
          while (i < qs.length) { val df0 = qs(i) - c(i); dd += df0 * df0; i += 1 }
          if (dd < bd) { bd = dd; bp = p }
        }
        (id, qs, bp, bd)
      }
      for (_ <- 1 to 3) {
        val a = assign()
        val next = cents.map(_.clone())
        a.groupBy(_._3).foreach { case (p, rows) =>
          (0 until dim).foreach { i =>
            next(p)(i) = rows.map(_._2(i)).sum / rows.length
          }
        }
        cents = next
      }
      val fin = assign()
      val expect = (0 until 10).map { p =>
        val rows = fin.filter(_._3 == p)
        (p.toLong, rows.length.toLong, rows.map(_._4).sum, cents(p).sum)
      }
      val got = graft.queries.SelectionQueries.s16KmeansRefine(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      assert(got == expect, s"seed=$seed")
    }
  }

  test("URL canonicalizer == java.net.URI reference on a random messy-URL grammar") {
    import org.apache.spark.sql.functions.col
    def canonRef(u: String): String = {
      val uri = java.net.URI.create(u)
      var host = uri.getHost.toLowerCase.stripPrefix("www.")
      val port = uri.getPort
      val hostPort = if (port == -1 || port == 80) host else s"$host:$port"
      val path0 = Option(uri.getRawPath).getOrElse("").replaceAll("/+$", "")
      val path = if (path0.isEmpty) "/" else path0
      val keep = Option(uri.getRawQuery).getOrElse("").split("&")
        .filter(p => p.nonEmpty && !p.startsWith("utm_")).sorted.mkString("&")
      s"${uri.getScheme.toLowerCase}://$hostPort$path" +
        (if (keep.nonEmpty) s"?$keep" else "")
    }
    for (seed <- 1 to 3) {
      val rnd = new Random(700 + seed)
      val urls = (1 to 60).map { _ =>
        val scheme = if (rnd.nextBoolean()) "http" else "HTTP"
        val www = if (rnd.nextBoolean()) "www." else ""
        val host = s"host${rnd.nextInt(5)}.example.com"
        val port = rnd.nextInt(3) match {
          case 0 => ""; case 1 => ":80"; case _ => ":8443"
        }
        val segs = (0 until rnd.nextInt(3)).map(_ => s"p${rnd.nextInt(9)}")
        val path = if (segs.isEmpty) "" else segs.mkString("/", "/", "")
        val slash = if (rnd.nextBoolean()) "/" else ""
        val params = rnd.shuffle(List("utm_source=x", s"id=${rnd.nextInt(3)}",
          "utm_medium=y", s"z=${rnd.nextInt(2)}").take(rnd.nextInt(5)))
        val query = if (params.isEmpty) "" else params.mkString("?", "&", "")
        val frag = if (rnd.nextBoolean()) "#sec" else ""
        s"$scheme://$www${if (rnd.nextBoolean()) host.toUpperCase else host}$port$path$slash$query$frag"
      }
      val got = graft.queries.SelectionQueries
        .withCanonicalUrl(urls.toDF("url")).select(col("canonical"))
        .collect().map(_.getString(0))
      urls.zip(got).foreach { case (u, g) =>
        assert(g == canonRef(u), s"seed=$seed url=$u")
      }
    }
  }

  test("fused simultaneous HITS == BigInt block-matrix model on random bipartite graphs (3 seeded trials)") {
    import graft.queries.ProfileQueries
    for (seed <- 1 to 3) {
      val rnd = new Random(800 + seed)
      val nc = 12; val np = 9
      val edges = (for {
        c <- 1 to nc; p <- 1 to np if rnd.nextDouble() < 0.25
      } yield (c.toLong, (100 + p).toLong)).distinct
      // driver model: simultaneous updates from all-ones seeds — aK from
      // h(K-1) AND hK from a(K-1), the g09 round-13 semantics
      val cs = edges.map(_._1).distinct
      val ps = edges.map(_._2).distinct
      var h = cs.map(_ -> BigInt(1)).toMap
      var a = ps.map(_ -> BigInt(1)).toMap
      for (_ <- 1 to 3) {
        val an = edges.groupBy(_._2).view.mapValues(_.map(e => h(e._1)).sum).toMap
        val hn = edges.groupBy(_._1).view.mapValues(_.map(e => a(e._2)).sum).toMap
        a = an; h = hn
      }
      val got = ProfileQueries.simultaneousHits(edges.toDF("c", "p"), rounds = 3)
        .collect().map(r => (r.getString(0), r.getLong(1), BigInt(r.getLong(2))))
      val gotH = got.filter(_._1 == "h").map(t => t._2 -> t._3).toMap
      val gotA = got.filter(_._1 == "a").map(t => t._2 -> t._3).toMap
      assert(gotH == h, s"seed=$seed hub side diverged from the model")
      assert(gotA == a, s"seed=$seed authority side diverged from the model")
    }
  }

  test("shingles tokenization == filtered-words reference under random whitespace mangling") {
    // the round-13 contract: Dedupe.shingles drops empty tokens, so its
    // shingle set equals trigrams over the FILTERED word list for ANY
    // whitespace shape (tabs, newlines, runs, leading/trailing mixes) —
    // the docShingles-equivalence the d09/d27/d28 truth sides rest on
    val words = Array("alpha", "beta", "gamma", "delta", "eps")
    val ws = Array(" ", "  ", "\t", "\n", " \t ", "\r\n")
    for (seed <- 1 to 3) {
      val rnd = new Random(900 + seed)
      val texts = (1 to 40).map { _ =>
        val n = rnd.nextInt(6)
        val body = (0 until n).map(_ => words(rnd.nextInt(words.length)))
          .mkString("", ws(rnd.nextInt(ws.length)), "")
        ws(rnd.nextInt(ws.length)) + body + ws(rnd.nextInt(ws.length))
      }
      def ref(t: String): Seq[String] = {
        val toks = t.trim.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
        if (toks.length < 3) Seq.empty
        else toks.sliding(3).map(_.mkString(" ")).toSeq
      }
      import org.apache.spark.sql.functions.col
      val got = texts.toDF("text")
        .select(graft.operators.Dedupe.shingles(col("text"), 3))
        .collect().map(_.getSeq[String](0).toSeq)
      texts.zip(got).foreach { case (t, g) =>
        assert(g == ref(t), s"seed=$seed text=${t.replace("\n", "\\n").replace("\t", "\\t")}")
      }
    }
  }

  test("ArtifactRegistry: concurrent dependent-chain builds run once each, no deadlock") {
    // the ADVICE-high regression scenario at full strength: 12 threads
    // race a 3-deep dependency chain (outer builds middle builds inner)
    // through the SAME registry — the old computeIfAbsent form could
    // throw IllegalStateException("Recursive update") or deadlock here
    import graft.core.ArtifactRegistry
    val builds = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Integer]()
    def bump(tag: String): Unit =
      builds.merge(tag, Int.box(1), (x, y) => Int.box(x + y))
    def chain(level: Int): String =
      ArtifactRegistry.cached(spark, ("xc-chain", level), s"xc_l$level") {
        bump(s"l$level")
        Thread.sleep(20)
        if (level == 0) "base" else chain(level - 1) + s"+l$level"
      }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(12)
    val res = (1 to 24).map { _ =>
      pool.submit(new java.util.concurrent.Callable[String] {
        def call(): String = chain(2)
      })
    }.map(_.get(30, java.util.concurrent.TimeUnit.SECONDS))
    pool.shutdown()
    assert(res.forall(_ == "base+l1+l2"))
    assert((0 to 2).forall(l => builds.get(s"l$l") == 1),
      s"some chain level built more than once: $builds")
  }
}
