package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor primitives over an embedding column
  * (`array<float>`): brute-force cosine top-k as the correctness baseline,
  * and random-hyperplane LSH bucketing as the scale path.
  *
  * Scale design: the query side is always broadcast (queries ≪ corpus);
  * the corpus is scanned once, similarity is computed by codegen'd
  * higher-order functions (`zip_with` + `aggregate` — a fused dot product,
  * no UDF), and per-query top-k is a bounded window. With LSH, the corpus
  * is exploded into (bucket, id) rows and the join keys on bucket, so each
  * query probes only its own buckets — the cross product never happens.
  */
object Similarity {

  /** Dot product of two double-array columns (sequential fold, so results
    * are reproducible bit-for-bit across engines). Native single-loop
    * expression ([[graft.functions.VectorFunctions]]). */
  def dot(a: Column, b: Column): Column = graft.functions.VectorFunctions.dot(a, b)

  /** The HOF twin of [[dot]], kept for differential testing. */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = {
    val d = norm(a) * norm(b)
    when(d === 0.0, 0.0).otherwise(dot(a, b) / d)
  }

  /** Cosine from a precomputed per-side norm product — same arithmetic as
    * [[cosine]] (`sqrt(dot(x,x))` once per VECTOR instead of once per
    * pair), which cuts the pair loop from three dot products to one. The
    * norm columns are what FAISS-style indexes store alongside vectors. */
  def cosinePre(a: Column, b: Column, na: Column, nb: Column): Column = {
    val d = na * nb
    when(d === 0.0, 0.0).otherwise(dot(a, b) / d)
  }

  /** Brute-force cosine top-k: every query against every corpus row, ranked
    * per query. Correctness baseline — O(|Q|·|C|) with |Q| broadcast. */
  def bruteForceTopK(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int): DataFrame = {
    val q = broadcast(queries.select(
      col(queryId).as("query_id"), col(queryVec).cast("array<double>").as("qv"))
      .withColumn("qn", norm(col("qv"))))
    val c = corpus.select(
        col(corpusId).as("neighbor_id"), col(corpusVec).cast("array<double>").as("cv"))
      .withColumn("cn", norm(col("cv")))
    val scored = c.crossJoin(q)
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosinePre(col("qv"), col("cv"), col("qn"), col("cn")).as("sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Sign bits of `numPlanes` random-hyperplane projections packed into one
    * long bucket key — a single native expression node
    * ([[graft.functions.LshBucketExpr]]). Cosine-similar vectors collide
    * with high probability. `dim` is the (static) embedding width. */
  def lshBucket(vec: Column, numPlanes: Int, table: Int, dim: Int): Column =
    graft.functions.VectorFunctions.lshBucket(vec, numPlanes, table, dim)

  /** EXACT cosine-threshold candidate pairs without the corpus×corpus
    * cross join — the pair generator for embedding-tier dedup clustering
    * (threshold graph → [[graft.dedup.Dedup.connectedComponents]]).
    *
    * Completeness is geometric, not probabilistic: on unit vectors,
    * `cos(a,b) ≥ τ  ⇔  ‖û_a − û_b‖ ≤ √(2−2τ)`, so after coarse-quantizing
    * the unit sphere (seeded k-means, the [[IvfIndex]] machinery) the
    * triangle inequality bounds which CELL pairs can contain a qualifying
    * vector pair: `d(c_i,c_j) ≤ √(2−2τ) + r_i + r_j` (r = cell radius).
    * Every qualifying pair survives BY CONSTRUCTION — unlike hyperplane
    * LSH, whose per-pair recall at moderate τ (near-threshold similarities
    * ~0.4–0.5) cannot reach 1 at any subquadratic table count — so the
    * output is invariant to how k-means happens to cluster; clustering
    * quality only moves the candidate count between Θ(n²) (one blob) and
    * ~Σ|cell|² (separated clusters, the realistic near-dup regime).
    *
    * Scale shape: one seeded k-means job; the only cross join is
    * centroids×centroids (nlist² rows, broadcast-small by construction);
    * candidates come from an equi-join of the corpus against itself ON THE
    * CELL-PAIR LIST — a hash join keyed on cell ids, never a nested loop.
    *
    * `threshold` is used ONLY for pruning (a strict lower bound on what
    * the caller keeps): the emitted `sim` is exact cosine on the ORIGINAL
    * vectors (same fold as [[cosinePre]], bit-identical to the
    * brute-force baseline), so callers apply their own keep predicate —
    * pass `threshold` slightly below it if they round first (a caller
    * keeping `round(sim,4) ≥ 0.42` should prune at ≤ 0.41995). The cell
    * tier may emit candidates below `threshold` (cells prune by bound,
    * not value); the driver micro-tier emits only pairs at/above it —
    * both are supersets of every pair the caller keeps.
    *
    * `knownCount`: pass the corpus size when the caller already has it
    * (a pipeline that just counted or wrote the frame) to skip the
    * tier-selecting count job — the one extra pass over the corpus this
    * operator otherwise costs. An upper bound is safe (it can only
    * steer a small corpus onto the distributed tier, never the driver
    * tier onto too-large data).
    *
    * The edge set is localCheckpointed: the distributed tier runs
    * EAGERLY at call time, so iterating consumers (connectedComponents)
    * never replay the k-means + join. The internal scan and assignment
    * frames are lazy localCheckpoints, so the call computes each of them
    * at most once, and the ContextCleaner frees every block when the
    * plans are dropped — no unmanaged persist. The edges are
    * non-resilient to executor loss (checkpoint blocks don't recompute);
    * that is the price of not re-running the k-means pipeline. */
  def cosineCandidates(
      corpus: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nlist: Int = 64, seed: Long = 42L,
      maxIter: Int = 20, driverThreshold: Long = 5000L,
      knownCount: Option[Long] = None): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold in (0,1]: $threshold")
    val spark = corpus.sparkSession
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    // zero-norm vectors: cosine is defined 0 here (< any positive τ) —
    // they can never pair, so drop them before normalizing
    // lazy localCheckpoint: consumed by the tier-selecting count(), the
    // k-means fit/transform passes and the edge checkpoint — the first
    // consumer stores the blocks, the rest read them, and the
    // ContextCleaner frees them when the plan is dropped
    val base = corpus.select(col(idCol).as("id"),
        col(vecCol).cast("array<double>").as("v"))
      .withColumn("nrm", norm(col("v")))
      .filter(col("nrm") > 0.0)
      .localCheckpoint(false)

    // adaptive micro-tier (the connectedComponents union-find pattern):
    // the cell machinery below costs ~10 fixed Spark jobs (k-means fit,
    // radii, cell pairs, join) — pure overhead when the corpus fits the
    // driver. Below `driverThreshold` vectors, compute the pairs locally
    // with the SAME sequential-fold arithmetic as the native expressions
    // (bit-identical sims), emitting only pairs at/above the pruning
    // threshold (callers filter to their keep predicate either way).
    if (knownCount.getOrElse(base.count()) <= driverThreshold) {
      // micro-tier: ≤ driverThreshold rows of blocks; the ContextCleaner
      // frees them once `base` goes out of scope
      val rows = base.orderBy(col("id")).collect()
      val n = rows.length
      val vecs = Array.tabulate(n)(i => rows(i).getSeq[Double](1).toArray)
      val nrms = Array.tabulate(n)(i => rows(i).getDouble(2))
      def dotLoop(a: Array[Double], b: Array[Double]): Double = {
        val m = math.min(a.length, b.length)
        var acc = 0.0; var i = 0
        while (i < m) { acc += a(i) * b(i); i += 1 }
        acc
      }
      val out = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
      var i = 0
      while (i < n) {
        var j = i + 1
        while (j < n) {
          val sim = dotLoop(vecs(i), vecs(j)) / (nrms(i) * nrms(j))
          if (sim >= threshold)
            out += org.apache.spark.sql.Row(rows(i).get(0), rows(j).get(0), sim)
          j += 1
        }
        i += 1
      }
      val idType = base.schema("id").dataType
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id_a", idType),
        org.apache.spark.sql.types.StructField("id_b", idType),
        org.apache.spark.sql.types.StructField("sim",
          org.apache.spark.sql.types.DoubleType)))
      return spark.createDataFrame(
        spark.sparkContext.parallelize(out.toSeq, 1), schema)
    }

    val raw = base
      .withColumn("u", graft.functions.VectorFunctions.arrayDiv(col("v"), col("nrm")))
      .withColumn("features", array_to_vector(col("u")))
    // random init, not k-means||: init quality moves only the candidate
    // count (correctness is geometric, see above), and the parallel init
    // costs ~5 extra passes over the corpus
    val model = new KMeans().setK(nlist).setSeed(seed).setMaxIter(maxIter)
      .setInitMode("random")
      .setFeaturesCol("features").setPredictionCol("cell")
      .fit(raw)
    // lazy localCheckpoint, same rationale as `base`: radii + both join
    // sides read the blocks instead of replaying the k-means transform
    val assigned = model.transform(raw)
      .select(col("id"), col("v"), col("nrm"), col("u"), col("cell"))
      .localCheckpoint(false)

    val centRows = model.clusterCenters.zipWithIndex.map { case (c, i) =>
      org.apache.spark.sql.Row(i, c.toArray.toSeq) }
    val centSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("cell",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("cv",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType))))
    // LOCAL relation (no parallelize): the broadcast of this table then
    // ships rows straight from the driver with no RDD job behind it
    val centDf = spark.createDataFrame(
      java.util.Arrays.asList(centRows: _*), centSchema)
    def dist(a: Column, b: Column): Column =
      sqrt(graft.functions.VectorFunctions.l2sq(a, b))

    // Per-cell radius in unit space — ≤ nlist rows, COLLECTED, and the
    // qualifying cell-pair table is then built driver-side and broadcast
    // as a local relation. This is both the better plan (nlist² distance
    // checks beat a Spark cross-join stage over nlist-row frames) and a
    // DEADLOCK FIX: the earlier shape put `radii` — whose lineage
    // contains the lazy `assigned` checkpoint — under a broadcast
    // exchange, so the broadcast-exchange thread could run the
    // checkpoint's doCheckpoint (holding the global RDDCheckpointData$
    // lock) while the dag-scheduler computed partitions of the same RDD
    // graph for the probe side (holding the RDD monitor) — a lock-order
    // inversion observed as a hard JVM deadlock under the full test
    // suite. This collect is also deliberately the FIRST action over
    // `assigned`: its blocks materialize synchronously on the calling
    // thread before any concurrently-executing consumer exists.
    val radii: Map[Int, Double] = assigned.join(broadcast(centDf), "cell")
      .groupBy(col("cell"))
      .agg(max(dist(col("u"), col("cv"))).as("r"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    // qualifying cell pairs, BOTH orientations so the id_a < id_b filter
    // below sees each doc pair in exactly one of them; 1e-9 absorbs the
    // unit-space rounding of the normalize + distance folds. Same
    // sequential-fold distance arithmetic as the expression form (only
    // the pruning superset depends on it; completeness is geometric).
    val dCut = math.sqrt(math.max(0.0, 2.0 - 2.0 * threshold)) + 1e-9
    def distLoop(a: Array[Double], b: Array[Double]): Double = {
      val m = math.min(a.length, b.length)
      var acc = 0.0; var i = 0
      while (i < m) { val d = a(i) - b(i); acc += d * d; i += 1 }
      math.sqrt(acc)
    }
    val cents = model.clusterCenters.map(_.toArray)
    val livePairs = for {
      ca <- radii.keys.toSeq.sorted
      cb <- radii.keys.toSeq.sorted
      if distLoop(cents(ca), cents(cb)) <= dCut + radii(ca) + radii(cb)
    } yield org.apache.spark.sql.Row(ca, cb)
    val pairSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("cell_a",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("cell_b",
        org.apache.spark.sql.types.IntegerType)))
    val cpairs = broadcast(spark.createDataFrame(
      java.util.Arrays.asList(livePairs: _*), pairSchema))

    val a = assigned.select(col("cell").as("cell_a"), col("id").as("id_a"),
      col("v").as("va"), col("nrm").as("na"))
    val b = assigned.select(col("cell").as("cell_b"), col("id").as("id_b"),
      col("v").as("vb"), col("nrm").as("nb"))
    // materialize the candidate edges eagerly (localCheckpoint): the
    // canonical consumer (connectedComponents) iterates over them many
    // times and would otherwise replay the whole k-means+join per round,
    // and eager materialization is what lets the internal caches be
    // RELEASED here instead of leaking across calls (ADVICE r5). The edge
    // set is the operator's output — downstream reads it in full anyway.
    a.join(cpairs, "cell_a")
      .join(b, "cell_b")
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        cosinePre(col("va"), col("vb"), col("na"), col("nb")).as("sim"))
      .localCheckpoint(true)
  }

  /** LSH-bucketed ANN: multi-probe via `tables` independent bucket keys;
    * candidates are corpus rows sharing any bucket with the query, then
    * exact-rescored and top-k'd. Recall < 1 by construction; the bucket
    * join replaces the cross product. */
  def lshTopK(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int, numPlanes: Int = 12, tables: Int = 4): DataFrame = {
    // embedding width read once from the corpus head — the hyperplane
    // literals need a static dimension
    val dim = corpus.select(size(col(corpusVec))).head().getInt(0)
    def bucketed(df: DataFrame, id: String, vec: String, idOut: String,
        vecOut: String, nOut: String) = {
      val v = col(vec).cast("array<double>")
      val keys = array((0 until tables).map(t =>
        struct(lit(t).as("t"), lshBucket(v, numPlanes, t, dim).as("b"))): _*)
      df.select(col(id).as(idOut), v.as(vecOut), norm(v).as(nOut),
        explode(keys).as("bucket"))
    }
    val c = bucketed(corpus, corpusId, corpusVec, "neighbor_id", "cv", "cn")
    val q = broadcast(bucketed(queries, queryId, queryVec, "query_id", "qv", "qn"))
    val cand = c.join(q, "bucket")
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosinePre(col("qv"), col("cv"), col("qn"), col("cn")).as("sim"))
      .groupBy(col("query_id"), col("neighbor_id")).agg(first(col("sim")).as("sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    cand.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }
}
