package graft

import graft.operators.{Elbow, Similarity}
import graft.plans.VectorExpressions
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {

  test("vector kernels: dot, norm, l2, cosine on known values") {
    import spark.implicits._
    val df = Seq((Seq(1.0f, 2.0f, 2.0f), Seq(2.0f, 0.0f, 1.0f))).toDF("a", "b")
    val r = df.select(
      VectorExpressions.dotProduct(col("a"), col("b")),
      sqrt(VectorExpressions.dotProduct(col("a"), col("a"))),
      VectorExpressions.l2Dist(col("a"), col("b")),
      VectorExpressions.cosineSim(col("a"), col("a"))).collect()(0)
    assert(r.getDouble(0) == 4.0)
    assert(r.getDouble(1) == 3.0)
    assert(math.abs(r.getDouble(2) - math.sqrt(1 + 4 + 1)) < 1e-12)
    assert(math.abs(r.getDouble(3) - 1.0) < 1e-12)
  }

  test("topKByL2 returns ascending distances with id tie-break") {
    import spark.implicits._
    val corpus = Seq(
      (1L, Seq(0.0f, 0.0f)), (2L, Seq(1.0f, 0.0f)), (3L, Seq(3.0f, 4.0f)),
      (4L, Seq(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val q = Seq(Tuple1(Seq(0.0f, 0.0f))).toDF("qv")
    val out = Similarity.topKByL2(corpus, col("vec_id"), col("embedding"), q, 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(out.map(_._1) == Seq(1L, 2L, 4L))
    assert(out.map(_._2) == Seq(0.0, 1.0, 1.0))
  }

  test("batchTopKByCosine excludes self and ranks per query") {
    import spark.implicits._
    val corpus = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(0.9f, 0.1f)), (2L, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val qs = Seq((0L, Seq(1.0f, 0.0f))).toDF("qid", "qv")
    val out = Similarity.batchTopKByCosine(corpus, col("vec_id"), col("embedding"), qs, 2)
      .collect().map(r => (r.getLong(1), r.getInt(3))).toSeq
    assert(out == Seq((1L, 1), (2L, 2)))
  }

  test("approxTopKByCosine recall vs brute force on sf0.001 embeddings >= 0.4") {
    val emb = spark.read.parquet(sf() + "/embeddings.parquet")
    val qs = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val exact = Similarity.batchTopKByCosine(emb, col("vec_id"), col("embedding"), qs, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // 500 vectors: 2 planes x 6 tables — multi-table OR-amplification keeps
    // recall high even on near-random vectors at tiny scale.
    val approx = Similarity.approxTopKByCosine(emb, col("vec_id"), col("embedding"),
      qs, 5, dim = 64, nPlanes = 2, nTables = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"LSH recall too low: $recall")
  }

  test("SQ8: codes are integers in [0,255]; quantized-scan recall vs brute force >= 0.6") {
    val emb = spark.read.parquet(sf() + "/embeddings.parquet")
    val codes = Similarity.withSq8Codes(
      emb.select(col("vec_id"), col("embedding")), col("embedding"), "code")
      .select(explode(col("code")).as("c")).collect().map(_.getDouble(0))
    assert(codes.forall(c => c >= 0.0 && c <= 255.0 && c == math.floor(c)),
      "codes must be integers in [0,255]")
    val qs = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val exact = Similarity.batchTopKByCosine(emb, col("vec_id"), col("embedding"), qs, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sq8 = Similarity.sq8TopKByCosine(emb, col("vec_id"), col("embedding"),
      qs, 5, candidateK = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.intersect(sq8).size.toDouble / exact.size
    assert(recall >= 0.6, s"SQ8 recall too low: $recall")
  }

  test("PQ: decoded vectors have full dim; ADC-scan recall vs brute force >= 0.5") {
    val emb = spark.read.parquet(sf() + "/embeddings.parquet")
    val codebook = emb.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cid"), col("embedding").as("cv"))
    val qs = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val exact = Similarity.batchTopKByCosine(emb, col("vec_id"), col("embedding"), qs, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = Similarity.pqTopKByCosine(emb, col("vec_id"), col("embedding"),
      codebook, qs, m = 8, k = 5, candidateK = 40)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // 16 random seed centroids on near-random vectors is a coarse codebook;
    // the exact rerank of a generous candidate set is what restores quality
    val recall = exact.intersect(pq).size.toDouble / exact.size
    assert(recall >= 0.5, s"PQ recall too low: $recall")
  }

  test("IVF lifecycle: offline KMeans build, persisted index, fit-free search, recall >= 0.5") {
    val emb = spark.read.parquet(sf() + "/embeddings.parquet")
    val qs = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val exact = Similarity.batchTopKByCosine(emb, col("vec_id"), col("embedding"), qs, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // BUILD once, offline: training happens here and only here
    val (cent, assigned) = Similarity.buildIvfIndex(emb, col("vec_id"),
      col("embedding"), nPartitions = 8)
    val dir = java.nio.file.Files.createTempDirectory("ivf_index").toString
    cent.write.mode("overwrite").parquet(s"$dir/centroids")
    assigned.write.mode("overwrite").parquet(s"$dir/assigned")
    // SEARCH consumes only the persisted artifact — no KMeans anywhere
    val search = Similarity.searchIvf(
      spark.read.parquet(s"$dir/centroids"),
      spark.read.parquet(s"$dir/assigned"), qs, 5, nProbe = 4)
    val ivf = search.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.intersect(ivf).size.toDouble / exact.size
    assert(recall >= 0.5, s"IVF recall too low: $recall")
    // the search plan reads the index parquet (not the training lineage)
    val plan = search.queryExecution.executedPlan.toString
    assert(plan.contains("centroids") && plan.contains("assigned"),
      "search must scan the persisted index")
  }

  test("IVF-PQ: candidates come only from probed partitions; recall >= 0.4") {
    val emb = spark.read.parquet(sf() + "/embeddings.parquet")
    val cent = Similarity.seededCentroids(emb, col("vec_id"), col("embedding"), 8)
    val codebook = emb.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cid"), col("embedding").as("cv"))
    val qs = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val exact = Similarity.batchTopKByCosine(emb, col("vec_id"), col("embedding"), qs, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = Similarity.ivfPqTopKByCosine(emb, col("vec_id"), col("embedding"),
      cent, codebook, qs, m = 8, k = 5, nProbe = 3, candidateK = 40)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // coarse 8-part IVF over 16-centroid PQ — the compounded approximation;
    // the generous exact rerank restores the survivors' ordering
    val recall = exact.intersect(got).size.toDouble / exact.size
    assert(recall >= 0.4, s"IVF-PQ recall too low: $recall")
    // structural gate: every returned id lives in a partition its query probed
    val assigned = Similarity.assignToCentroids(emb, col("vec_id"),
      col("embedding"), cent).select(col("id"), col("part"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val probed = Similarity.seededCentroids(emb, col("vec_id"), col("embedding"), 8)
    val probeRows = qs.crossJoin(broadcast(probed))
      .select(col("qid"), col("part"),
        VectorExpressions.cosineSim(col("qv"), col("cvec")).as("c"))
      .collect().groupBy(_.getLong(0)).map { case (q, rows) =>
        q -> rows.sortBy(r => (-r.getDouble(2), r.getInt(1))).take(3).map(_.getInt(1)).toSet
      }
    for ((q, id) <- got) assert(probeRows(q).contains(assigned(id)),
      s"result $id for query $q outside probed partitions")
  }

  test("seededCentroids + assignToCentroids: deterministic parts, every vector assigned") {
    val emb = spark.read.parquet(sf() + "/embeddings.parquet")
    val cent = Similarity.seededCentroids(emb, col("vec_id"), col("embedding"), 8)
    assert(cent.select("part").collect().map(_.getInt(0)).sorted.toSeq == (0 until 8))
    val assigned = Similarity.assignToCentroids(emb, col("vec_id"), col("embedding"), cent)
    assert(assigned.count() == emb.count())
    // a centroid's own vector must land in its own partition (cosine = 1)
    val own = assigned.filter(col("id") < 8).collect()
      .map(r => (r.getLong(0), r.getInt(2))).toMap
    assert((0L until 8L).forall(i => own(i) == i.toInt))
  }

  test("elbow cut keeps prefix before the first big step") {
    import spark.implicits._
    val ranked = Seq(
      (1L, 0.10), (2L, 0.11), (3L, 0.12), (4L, 0.13), (5L, 0.90), (6L, 0.95))
      .toDF("vec_id", "dist")
    val out = Elbow.cut(ranked, col("dist"), col("vec_id"))
      .collect().map(_.getLong(0)).toSet
    assert(out == Set(1L, 2L, 3L, 4L))
  }

  test("elbow cut keeps everything when steps are uniform") {
    import spark.implicits._
    val ranked = (1 to 6).map(i => (i.toLong, 0.1 * i)).toDF("vec_id", "dist")
    val out = Elbow.cut(ranked, col("dist"), col("vec_id")).collect()
    assert(out.length == 6)
  }

  test("graph ANN (s06) recall@5 vs the exact scan — the d09-style audit") {
    // the contract a graph-index user cares about: how much of the TRUE
    // top-k the walk finds. Measured 1.0 at sf0.001 / 0.93 at sf0.01 and
    // sf0.1 on these near-random embeddings (the hardest ANN case);
    // pinned with margin so plane/param changes that damage recall fail.
    val exact = graft.queries.LlmQueries.s01AnnBruteForce(spark, sf())
      .collect().groupBy(_.getAs[Long]("qid"))
      .map { case (q, rows) => q -> rows.map(_.getAs[Long]("id")).toSet }
    val graph = graft.queries.LlmQueries.s06AnnGraph(spark, sf())
      .collect().groupBy(_.getAs[Long]("qid"))
      .map { case (q, rows) => q -> rows.map(_.getAs[Long]("id")).toSet }
    assert(exact.keySet == graph.keySet)
    val recalls = exact.map { case (q, t) =>
      val r = (t & graph(q)).size.toDouble / t.size
      assert(r >= 0.6, s"recall@5 for query $q collapsed to $r")
      r
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.8, s"mean recall@5 $mean below the pinned floor")
  }

  test("mmr: rerank demotes the near-duplicate of an already-picked result") {
    import spark.implicits._
    // relevance order is B > A > C, but B≈A (cos 0.994), so MMR picks
    // B, then C (diverse), then A — pure relevance would give B, A, C
    val corpus = Seq(
      (1L, Seq(1.0f, 0.0f)),   // A
      (2L, Seq(0.9f, 0.1f)),   // B — near-dup of A
      (3L, Seq(0.6f, 0.8f))    // C — diverse
    ).toDF("vec_id", "embedding")
    val q = Seq(Tuple1(Seq(1.0f, 0.3f))).toDF("qv")
    val rows = Similarity.mmrRerank(corpus, col("vec_id"), col("embedding"),
      q, k = 3, poolSize = 3).collect()
    assert(rows.map(_.getAs[Long]("step")).toSeq == Seq(1L, 2L, 3L))
    assert(rows.map(_.getAs[Long]("id")).toSeq == Seq(2L, 3L, 1L))
    // step-1 mmr is exactly half its relevance (empty-set max sim = 0)
    assert(rows.head.getAs[Double]("mmr") == 0.5 * rows.head.getAs[Double]("rel"))
    // every later mmr is penalized: strictly below half its relevance here
    rows.tail.foreach { r =>
      assert(r.getAs[Double]("mmr") < 0.5 * r.getAs[Double]("rel"))
    }
  }
}
