package graft.similarity

import graft.SparkSpec
import graft.streaming.StreamingOps
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {

  private lazy val embeddings =
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  test("IVF search recall vs brute force on testdata embeddings") {
    val queries = embeddings.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(embeddings, "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    val idx = IvfIndex.build(embeddings, "vec_id", "embedding", nlist = 8)
    val approx = IvfIndex.search(idx, queries, "vec_id", "embedding",
        k = 5, nprobe = 4)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"recall $recall too low (|exact|=${exact.size})")
    // full probe must equal brute force exactly
    val full = IvfIndex.search(idx, queries, "vec_id", "embedding",
        k = 5, nprobe = 8)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full == exact)
  }

  test("IVF build clamps nlist to a tiny corpus instead of throwing (r16)") {
    import spark.implicits._
    // ADVICE r15: the r15 driver-Lloyd flat tier threw
    // require(sample >= nlist); the pre-r15 ML KMeans accepted k > n.
    // A 5-vector corpus built at nlist=40 must build (clamped centroids)
    // and a full probe must still equal brute force exactly.
    val corpus = (0L until 5L).map { id =>
      (id, Array.tabulate(8)(d => math.sin(id * 3.0 + d).abs + 0.1))
    }.toDF("vec_id", "embedding")
    val idx = IvfIndex.build(corpus, "vec_id", "embedding", nlist = 40)
    assert(idx.centroids.length <= 5 && idx.centroids.nonEmpty)
    val queries = corpus.filter(col("vec_id") < 2)
    def topk(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = topk(Similarity.bruteForceTopK(corpus, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 3))
    val full = topk(IvfIndex.search(idx, queries, "vec_id", "embedding",
      k = 3, nprobe = 40))
    assert(full == exact, s"full probe $full != brute force $exact")
  }

  test("IVF partial probe: recall@10 >= 0.9 floor on a pinned clustered corpus") {
    import spark.implicits._
    // deterministic synthetic corpus: 40 compact topics x 50 vectors in
    // 16 dims (hash-noise, no RNG state) — the production operating
    // point nprobe << nlist must stay regression-proof, not just the
    // full-probe exactness the q58 gate pins
    def h(a: Long, b: Long): Double = {
      var s = a * 6364136223846793005L + b * 1442695040888963407L + 99L
      s ^= (s >>> 33); s *= 0xff51afd7ed558ccdL; s ^= (s >>> 33)
      ((s >>> 11) % 100000L).toDouble / 50000.0 - 1.0
    }
    val corpus = (0L until 2000L).map { id =>
      val t = id % 40
      (id, Array.tabulate(16)(d => h(t, d) + 0.05 * h(id, d + 100)))
    }.toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") < 20)
    def topk(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = topk(Similarity.bruteForceTopK(corpus, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 10))
    val idx = IvfIndex.build(corpus, "vec_id", "embedding", nlist = 40, seed = 42L)
    // nprobe = 4 of 40 cells — a 10x search-cost reduction
    val approx = topk(IvfIndex.search(idx, queries, "vec_id", "embedding",
      k = 10, nprobe = 4))
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.9, f"recall@10 $recall%.3f below the 0.9 floor " +
      s"(nlist=40, nprobe=4, seed=42, |exact|=${exact.size})")
  }

  test("IVF hier build tier: two-level assignment == flat argmin on a separable corpus") {
    import spark.implicits._
    // same pinned 40-topic corpus shape as the partial-probe test: on
    // well-separated data the two-level argmin (coarse cell, then fine
    // within it) must agree with the FLAT argmin over all k1*k2 fine
    // centroids — the differential VERDICT r10 task 2 asks for. The
    // hier tier is forced by hierThreshold = 0 (production only enters
    // it above nlist = 256).
    def h(a: Long, b: Long): Double = {
      var s = a * 6364136223846793005L + b * 1442695040888963407L + 99L
      s ^= (s >>> 33); s *= 0xff51afd7ed558ccdL; s ^= (s >>> 33)
      ((s >>> 11) % 100000L).toDouble / 50000.0 - 1.0
    }
    val corpus = (0L until 2000L).map { id =>
      val t = id % 40
      (id, Array.tabulate(16)(d => h(t, d) + 0.05 * h(id, d + 100)))
    }.toDF("vec_id", "embedding")
    val idx = IvfIndex.build(corpus, "vec_id", "embedding", nlist = 40,
      hierThreshold = 0, knownCount = Some(2000L))
    // effective cells = k1*k2 = 6*7 = 42, fine centroids in global-id order
    assert(idx.centroids.length == 42)
    // pin: stored cell == flat argmin over Index.centroids (strict <,
    // lowest id on ties — the HierArgminExpr contract)
    val rows = idx.assigned.select("id", "v", "cell").collect()
    assert(rows.length == 2000)
    rows.foreach { r =>
      val v = r.getSeq[Double](1).toArray
      var best = 0; var bestD = Double.MaxValue
      idx.centroids.zipWithIndex.foreach { case (c, j) =>
        var acc = 0.0; var i = 0
        while (i < v.length) { val d = v(i) - c(i); acc += d * d; i += 1 }
        if (acc < bestD) { bestD = acc; best = j }
      }
      assert(r.getInt(2) == best,
        s"id=${r.get(0)}: hier cell ${r.getInt(2)} != flat argmin $best")
    }
    // search invariants survive the tier: full probe == brute force
    // (every vector lives in exactly one cell), partial probe recall holds
    val queries = corpus.filter(col("vec_id") < 20)
    def topk(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = topk(Similarity.bruteForceTopK(corpus, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 10))
    val full = topk(IvfIndex.search(idx, queries, "vec_id", "embedding",
      k = 10, nprobe = 42))
    assert(full == exact, "full-probe hier search != brute force")
    val approx = topk(IvfIndex.search(idx, queries, "vec_id", "embedding",
      k = 10, nprobe = 6))
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.9, f"hier-tier recall@10 $recall%.3f below 0.9")
  }

  test("IVF lifecycle: one persisted build serves successive query batches (r6 task 5)") {
    val idx = IvfIndex.build(embeddings, "vec_id", "embedding", nlist = 8)
      .persist()
    try {
      // two successive batches against ONE handle
      val b1 = IvfIndex.search(idx, embeddings.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, nprobe = 8)
      val r1 = b1.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val b2 = IvfIndex.search(idx,
        embeddings.filter(col("vec_id") >= 10 && col("vec_id") < 20),
        "vec_id", "embedding", k = 5, nprobe = 8)
      val r2 = b2.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      // the batches really did reuse the materialized assignments: the
      // search plan reads the in-memory table, not the parquet corpus
      val plan = b2.queryExecution.executedPlan.toString
      assert(plan.contains("InMemoryTableScan") || plan.contains("TableCacheQueryStage"),
        s"second batch did not read the persisted index:\n$plan")
      // and the handle answers exactly like a fresh unpersisted build
      val fresh = IvfIndex.build(embeddings, "vec_id", "embedding", nlist = 8)
      def run(q: org.apache.spark.sql.DataFrame) =
        IvfIndex.search(fresh, q, "vec_id", "embedding", k = 5, nprobe = 8)
          .select("query_id", "neighbor_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(r1 == run(embeddings.filter(col("vec_id") < 10)))
      assert(r2 == run(embeddings.filter(col("vec_id") >= 10 && col("vec_id") < 20)))
    } finally idx.release()
  }

  test("cosineCandidates: triangle-pruned pairs == brute threshold graph, bit-for-bit") {
    import spark.implicits._
    val e = embeddings.select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", Similarity.norm(col("v")))
    val a = e.select(col("vec_id").as("id_a"), col("v").as("va"), col("nrm").as("na"))
    val b = e.select(col("vec_id").as("id_b"), col("v").as("vb"), col("nrm").as("nb"))
    def toSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    for (tau <- Seq(0.42, 0.45, 0.6)) {
      val brute = toSet(a.crossJoin(b).filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          Similarity.cosinePre(col("va"), col("vb"), col("na"), col("nb")).as("sim"))
        .filter(col("sim") >= tau))
      // completeness is geometric — it must hold for ANY nlist, including
      // a deliberately bad quantization (k=3 over ~40 real clusters);
      // driverThreshold=0 forces the distributed cell tier
      for (nlist <- Seq(3, 16)) {
        val pruned = toSet(Similarity.cosineCandidates(e, "vec_id", "v",
            threshold = tau, nlist = nlist, driverThreshold = 0L)
          .filter(col("sim") >= tau))
        assert(pruned == brute,
          s"tau=$tau nlist=$nlist: ${pruned.size} vs brute ${brute.size}")
      }
      // the adaptive driver micro-tier (default threshold engages at 500
      // rows) must produce the identical set, sims bit-for-bit
      val micro = toSet(Similarity.cosineCandidates(e, "vec_id", "v",
        threshold = tau).filter(col("sim") >= tau))
      assert(micro == brute, s"tau=$tau micro: ${micro.size} vs ${brute.size}")
    }
    // knownCount skips the tier-selecting count job; steering the tiny
    // corpus onto the distributed tier via an upper-bound count must
    // leave the kept set identical (the safe direction by design)
    val viaKnown = toSet(Similarity.cosineCandidates(e, "vec_id", "v",
        threshold = 0.42, nlist = 16, knownCount = Some(1000000L))
      .filter(col("sim") >= 0.42))
    val direct = toSet(Similarity.cosineCandidates(e, "vec_id", "v",
      threshold = 0.42).filter(col("sim") >= 0.42))
    assert(viaKnown == direct)
    // zero-norm vectors never pair (cosine defined 0 here), never NaN
    val withZero = e.select(col("vec_id"), col("v"))
      .union(Seq((9999L, Seq.fill(64)(0.0))).toDF("vec_id", "v"))
    val z = Similarity.cosineCandidates(withZero, "vec_id", "v", threshold = 0.42)
    assert(z.filter(col("id_a") === 9999L || col("id_b") === 9999L).count() == 0)
  }

  test("native dot expression matches the HOF twin bit-for-bit (differential)") {
    // dotHof is the pre-native zip_with/aggregate formulation, kept as the
    // independent oracle for the codegen'd VectorFunctions.dot expression:
    // both are sequential left folds, so results must be IDENTICAL doubles.
    val pairs = embeddings.limit(64)
      .select(col("embedding").cast("array<double>").as("a"))
      .crossJoin(broadcast(embeddings.limit(8)
        .select(col("embedding").cast("array<double>").as("b"))))
    val diff = pairs.select(
        Similarity.dot(col("a"), col("b")).as("native"),
        Similarity.dotHof(col("a"), col("b")).as("hof"))
      .filter(col("native") =!= col("hof"))
    assert(diff.count() == 0)
  }

  test("stateful running stats fold across micro-batches (flatMapGroupsWithState)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Double)]
    val out = StreamingOps.statefulRunningStats(
      mem.toDF().toDF("k", "v"), "k", "v")
    val query = out.writeStream.format("memory")
      .queryName("rs_test").outputMode("update").start()
    mem.addData((1L, 2.0), (1L, 4.0), (2L, 10.0))
    query.processAllAvailable()
    mem.addData((1L, 6.0)) // second batch: state must carry over
    query.processAllAvailable()
    val rows = spark.sql(
      "select key, n, mean, variance from rs_test where key = 1 order by n")
      .collect()
    query.stop()
    // after batch 1: n=2 mean=3; after batch 2: n=3 mean=4 var=8/3
    assert(rows.map(_.getLong(1)).toSeq == Seq(2L, 3L))
    assert(math.abs(rows.last.getDouble(2) - 4.0) < 1e-9)
    assert(math.abs(rows.last.getDouble(3) - 8.0 / 3) < 1e-9)
  }
}
