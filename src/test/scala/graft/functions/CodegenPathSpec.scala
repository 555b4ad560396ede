package graft.functions

import graft.SparkSpec
import graft.agg.WeightedMeanSlotsExpr
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._

/** The custom expressions implement real `doGenCode` (static kernel
  * calls) rather than `CodegenFallback` — `CollapseCodegenStages`
  * refuses whole-stage codegen for ANY operator containing a fallback
  * expression, so the fallback forms evicted every corpus-scan
  * projection from its codegen span. Pins: (a) generated and
  * interpreted evaluation agree exactly on every expression, including
  * null inputs and the weighted-mean null contract; (b) a projection
  * built from these expressions actually plans inside
  * WholeStageCodegen. */
class CodegenPathSpec extends SparkSpec {

  /** Collect `df` under forced-interpreted and default (codegen)
    * expression evaluation and assert exact equality. */
  private def bothPaths(mk: => DataFrame): Unit = {
    val gen = mk.collect().map(_.toString).toSeq
    val conf = spark.conf
    val keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
    val saved = keys.map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.codegen.wholeStage", "false")
      conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      assert(mk.collect().map(_.toString).toSeq == gen)
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None)    => conf.unset(k)
    }
  }

  private def docs: DataFrame = {
    import spark.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "Wholly UNRELATED   text with   irregular    spacing"),
      (4L, "tiny"),
      (5L, null.asInstanceOf[String])
    ).toDF("id", "text")
  }

  test("text-hash expressions: codegen ≡ interpreted, incl. nulls") {
    val params = Seq((3L, 7L), (11L, 13L), (17L, 19L))
    def q = docs.select(
      col("id"),
      TextHash.polyHash(col("text")).as("ph"),
      TextHash.polyHash2(col("text")).as("ph2"),
      TextHash.shingleHashes(col("text"), 3).as("sh"),
      TextHash.shingleSpanHashes(col("text"), 3).as("ssh"),
      TextHash.ngramBuckets(col("text"), 2, 64).as("nb"),
      TextHash.tokenTf(col("text")).as("ttf"),
      TextHash.minhashSig(TextHash.shingleHashes(col("text"), 2), params).as("sig"),
      TextHash.simhashBits(TextHash.shingleHashes(col("text"), 2), 16).as("simh"))
    bothPaths(q)
  }

  test("vector expressions: codegen ≡ interpreted, incl. nulls") {
    import spark.implicits._
    def q = Seq(
      (1L, Array(1.0, 2.0, 3.0, 4.0), Array(0.5, -1.0, 2.0, 0.25)),
      (2L, Array(0.0, 0.0, 0.0, 0.0), Array(1.0, 1.0, 1.0, 1.0)),
      (3L, null.asInstanceOf[Array[Double]], Array(1.0, 1.0, 1.0, 1.0))
    ).toDF("id", "a", "b").select(
      col("id"),
      VectorFunctions.dot(col("a"), col("b")).as("dot"),
      VectorFunctions.lshBucket(col("a"), 8, table = 2, dim = 4).as("bucket"))
    bothPaths(q)
  }

  test("weighted-mean slots: codegen ≡ interpreted, null contract kept") {
    import spark.implicits._
    def q = Seq(
      (1L, Seq(Some(1.0), Some(2.0), Some(3.0))),
      (2L, Seq(Some(1.0), None, Some(3.0))),
      (3L, Seq(None, None, None)),  // all-null window → null result
      (4L, Seq(Some(5.0)))          // partial leading window
    ).toDF("id", "xs")
      .select(col("id"), transform(col("xs"), x => struct(x.as("v"))).as("slots"))
      .select(col("id"),
        WeightedMeanSlotsExpr(col("slots"), Seq(1.0, 2.0, 3.0)).as("wm"))
    bothPaths(q)
  }

  test("band keys / slot match / l2sq / arrayDiv: native ≡ HOF twin, codegen ≡ interpreted") {
    import graft.dedup.Dedup
    import spark.implicits._
    // array<int> signatures over the FULL slot domain (−2³¹, 2³¹−1]:
    // negative slots arise when a·h+b overflows Long for wide base hashes
    // ("%" takes the dividend's sign), and 2³¹−1 (= MinhashP =
    // Int.MaxValue) is the empty-set sentinel. Rows: distinct and equal
    // arrays, a short left side (truncated last band), the range ends,
    // and rows mixing them.
    val sentinel = Int.MaxValue
    assert(sentinel.toLong == TextHash.MinhashP)
    val negMin = -(sentinel - 1) // the most negative slot, −(2³¹−2)
    val sigs = Seq(
      (1L, (1 to 64).toArray, (1 to 64).map(x => if (x % 3 == 0) x else x + 1).toArray),
      (2L, Array.fill(64)(7), Array.fill(64)(7)),
      (3L, (1 to 60).toArray, (1 to 64).toArray), // short left side
      (4L, Array.fill(64)(sentinel), Array.fill(64)(sentinel)),
      (5L, Array.fill(64)(sentinel - 1), Array.fill(64)(sentinel - 1)),
      (6L, Array.fill(64)(negMin), Array.fill(64)(negMin)),
      (7L, Array.tabulate(64)(i => if (i % 2 == 0) negMin else sentinel),
        Array.tabulate(64)(i => if (i % 3 == 0) negMin else sentinel)),
      (8L, Array.tabulate(64)(i => Seq(negMin, -1, 0, 1, sentinel)(i % 5)),
        Array.tabulate(64)(i => Seq(negMin, 0, sentinel)(i % 3)))
    ).toDF("id", "sig_a", "sig_b")
    def native = sigs.select(col("id"),
      Dedup.lshBandKeys(col("sig_a"), 8, 8).as("bk"),
      graft.functions.TextHash.slotMatchCount(col("sig_a"), col("sig_b")).as("mc"))
    val hof = sigs.select(col("id"),
      HashTwins.lshBandKeysHof(col("sig_a"), 8, 8).as("bk"),
      (size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y),
        eq => eq))).as("mc"))
    assert(native.collect().map(_.toString).toSeq ==
      hof.collect().map(_.toString).toSeq)
    assert(native.schema("mc").dataType.typeName == "integer")
    bothPaths(native)

    // any other operand type fails ANALYSIS by name (not a silent
    // 4-byte misread of long slots): long, mixed int/long, string
    val wide = sigs.select(col("id"), col("sig_a"),
      col("sig_b").cast("array<bigint>").as("sig_l"))
    def analysisError(q: => org.apache.spark.sql.DataFrame): String =
      intercept[org.apache.spark.sql.AnalysisException](q.collect()).getMessage
        .toLowerCase
    val mixed = analysisError(wide.select(
      graft.functions.TextHash.slotMatchCount(col("sig_a"), col("sig_l"))))
    assert(mixed.contains("slotmatchcountexpr"), mixed)
    val longPair = analysisError(wide.select(
      graft.functions.TextHash.slotMatchCount(col("sig_l"), col("sig_l"))))
    assert(longPair.contains("slotmatchcountexpr"), longPair)
    val longBk = analysisError(wide.select(Dedup.lshBandKeys(col("sig_l"), 8, 8)))
    assert(longBk.contains("bandkeysexpr"), longBk)
    val badBk = analysisError(Seq((1L, Array("a", "b"))).toDF("id", "s")
      .select(Dedup.lshBandKeys(col("s"), 1, 2)))
    assert(badBk.contains("bandkeysexpr"), badBk)

    val vecs = Seq(
      (1L, Array(1.0, 2.0, 3.0), Array(0.5, -1.5, 2.0), 2.0),
      (2L, Array(0.1, 0.2, 0.3), Array(0.1, 0.2, 0.3), 0.374165738677394))
      .toDF("id", "a", "b", "nrm")
    def vNative = vecs.select(col("id"),
      graft.functions.VectorFunctions.l2sq(col("a"), col("b")).as("d2"),
      graft.functions.VectorFunctions.arrayDiv(col("a"), col("nrm")).as("u"))
    val vHof = vecs.select(col("id"),
      aggregate(zip_with(col("a"), col("b"), (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, x) => acc + x).as("d2"),
      transform(col("a"), _ / col("nrm")).as("u"))
    assert(vNative.collect().map(_.toString).toSeq ==
      vHof.collect().map(_.toString).toSeq)
    bothPaths(vNative)

    val hashes = Seq((1L, (1L to 64L).toArray), (2L, Array.fill(64)(7L)),
      (3L, Array(0L, 999999999L, 1000000006L))).toDF("id", "h")
    def wNative = hashes.select(col("id"),
      Dedup.widenHash62All(col("h")).as("w"))
    val wHof = hashes.select(col("id"),
      transform(col("h"), HashTwins.widenHash62(_)).as("w"))
    assert(wNative.collect().map(_.toString).toSeq ==
      wHof.collect().map(_.toString).toSeq)
    bothPaths(wNative)
  }

  test("tokens via array_remove ≡ the filter-lambda formulation") {
    import graft.text.TextFunctions
    import spark.implicits._
    val df = Seq("  leading and   trailing  ", "single", "", "a  b\tc\nd",
      null.asInstanceOf[String]).toDF("text")
    val both = df.select(
      TextFunctions.tokens(col("text")).as("t"),
      filter(split(col("text"), "\\s+"), t => t =!= "").as("t_hof"),
      TextFunctions.subwordCountEstimate(col("text")).as("sw"),
      size(filter(split(col("text"), "(?=[\\p{Punct}])|\\s+|(?<=[\\p{Punct}])"),
        t => t =!= "")).as("sw_hof")).collect()
    both.foreach { r =>
      assert(r.get(0) == r.get(1), r.toString)
      assert(r.get(2) == r.get(3), r.toString)
    }
  }

  test("hierArgmin: codegen ≡ interpreted ≡ flat argmin over the same centroids") {
    import spark.implicits._
    val dim = 4; val k1 = 3; val k2 = 2
    val rnd = new scala.util.Random(7L)
    val coarse = Array.fill(k1 * dim)(rnd.nextDouble())
    val fine = Array.fill(k1 * k2 * dim)(rnd.nextDouble())
    // deterministic per-id vectors: bothPaths builds the frame twice
    val df2 = (1L to 50L).map { i =>
      val r2 = new scala.util.Random(i)
      (i, Array.fill(dim)(r2.nextDouble()))
    }
    def q = df2.toDF("id", "v")
      .select(col("id"), col("v").cast("array<double>").as("v"))
      .select(col("id"), PqFunctions.hierArgmin(col("v"), dim, k1, k2, coarse, fine).as("c"))
    bothPaths(q)
    // reference: plain-Scala two-level argmin over the same arrays
    val got = df2.toDF("id", "v")
      .select(col("id"), col("v").cast("array<double>").as("v"))
      .select(col("id"), PqFunctions.hierArgmin(col("v"), dim, k1, k2, coarse, fine).as("c"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    def d2(v: Array[Double], flat: Array[Double], base: Int) =
      (0 until dim).map(i => (v(i) - flat(base + i)) * (v(i) - flat(base + i))).sum
    df2.foreach { case (id, v) =>
      val c = (0 until k1).minBy(j => d2(v, coarse, j * dim))
      val f = (0 until k2).minBy(j => d2(v, fine, (c * k2 + j) * dim))
      assert(got(id) == c * k2 + f, s"id $id")
    }
  }

  test("seeded-random differential: tokenTf ≡ exploded-token groupBy counts") {
    import graft.text.TextFunctions
    import spark.implicits._
    val rnd = new scala.util.Random(20260814L)
    val seps = Array(" ", "  ", "\t")
    def doc(): String = {
      val vocab = Array("alpha", "Beta", "GAMMA", "δδ", "x1", "x1", "the")
      (0 until rnd.nextInt(25)).map(_ => vocab(rnd.nextInt(vocab.length)))
        .mkString(seps(rnd.nextInt(seps.length)))
    }
    val docs = (1L to 200L).map(i =>
      (i, if (i % 31 == 0) null else doc())).toDF("id", "text")
    val viaExpr = docs.filter(col("text").isNotNull)
      .select(col("id"), explode(TextHash.tokenTf(col("text"))).as("e"))
      .select(col("id"), col("e.term"), col("e.tf"))
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val viaGroup = docs.filter(col("text").isNotNull)
      .select(col("id"), explode(TextFunctions.tokensLower(col("text"))).as("term"))
      .groupBy("id", "term").count()
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(viaExpr == viaGroup)
  }

  test("seeded-random differential: full native text pipeline ≡ HOF twins") {
    import graft.dedup.Dedup
    import graft.text.TextFunctions
    import spark.implicits._
    val rnd = new scala.util.Random(20260813L)
    val seps = Array(" ", "  ", "\t", "\n", "   ")
    def word(): String = {
      val alphabet = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZäöüßéñ中日0123456789.,;!?"
      (0 until (1 + rnd.nextInt(9))).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    }
    def doc(): String = {
      val n = rnd.nextInt(30)
      val body = (0 until n).map(_ => word()).mkString(seps(rnd.nextInt(seps.length)))
      // random leading/trailing whitespace
      (if (rnd.nextBoolean()) " " else "") + body + (if (rnd.nextBoolean()) "\t" else "")
    }
    val docs = (1L to 300L).map(i =>
      (i, if (i % 37 == 0) null else if (i % 23 == 0) "" else doc())).toDF("id", "text")
    val params = Dedup.minhashParams(16)
    val native = docs.select(col("id"),
      TextFunctions.tokens(col("text")).as("toks"),
      TextFunctions.shingleHashes(col("text"), 2).as("sh"),
      Dedup.widenHash62All(TextFunctions.shingleHashes(col("text"), 2)).as("wide"),
      Dedup.minhashSignature(TextFunctions.shingleHashes(col("text"), 2), params).as("sig"),
      Dedup.lshBandKeys(
        Dedup.minhashSignature(TextFunctions.shingleHashes(col("text"), 2), params),
        4, 4).as("bk"))
    val hof = docs.select(col("id"),
      filter(split(col("text"), "\\s+"), t => t =!= "").as("toks"),
      HashTwins.shingleHashesHof(col("text"), 2).as("sh"),
      transform(HashTwins.shingleHashesHof(col("text"), 2),
        HashTwins.widenHash62(_)).as("wide"),
      Dedup.minhashSignature(HashTwins.shingleHashesHof(col("text"), 2), params).as("sig"),
      HashTwins.lshBandKeysHof(
        Dedup.minhashSignature(HashTwins.shingleHashesHof(col("text"), 2), params),
        4, 4).as("bk"))
    // null text: the bk column DIVERGES by representation — native is
    // null (null-intolerant), the HOF twin is an array of nulls (its
    // outer transform iterates the non-null band sequence). Exploded
    // null buckets never equi-join, so the candidate-pair surface is
    // identical; pin the divergence explicitly, compare the rest exactly.
    val a = native.orderBy("id").collect()
    val b = hof.orderBy("id").collect()
    a.zip(b).foreach { case (x, y) =>
      if (x.isNullAt(5)) { // null text row
        assert(x.getLong(0) % 37 == 0, x.toString)
        (1 to 4).foreach(i => assert(x.isNullAt(i) && y.isNullAt(i), s"col $i\n$x\n$y"))
        assert(y.getSeq[Any](5) != null && y.getSeq[Any](5).forall(_ == null), y.toString)
      } else assert(x.toString == y.toString, s"\n$x\n$y")
    }
  }

  test("PQ expressions: codegen ≡ interpreted, incl. nulls; encode plans in codegen") {
    import graft.similarity.ProductQuantizer
    import spark.implicits._
    val base = (0L until 12L).map(i =>
      (i, Array.tabulate(8)(d => (((i * 13 + d) * 2654435761L) % 997L).toDouble / 500.0)))
      .toDF("id", "v")
    val cb = ProductQuantizer.fromRows(base, "id", "v", m = 2, ksub = 4)
    def q = (base.union(Seq((99L, null.asInstanceOf[Array[Double]])).toDF("id", "v")))
      .select(col("id"),
        ProductQuantizer.encode(col("v"), cb).as("code"),
        ProductQuantizer.lut(col("v"), cb).as("lut"),
        ProductQuantizer.adc(
          ProductQuantizer.lut(col("v"), cb),
          ProductQuantizer.encode(col("v"), cb), cb).as("adc"))
    bothPaths(q)

    // the encode projection must live inside a WholeStageCodegen span —
    // the vector is built from array(cast...) columns, NOT a transform()
    // HOF: higher-order functions are CodegenFallback and would evict the
    // collapsed projection regardless of the PQ expression
    val planQ = spark.range(64)
      .select(array((0 until 8).map(d =>
        (col("id") + d).cast("double")): _*).as("v"))
      .select(ProductQuantizer.encode(col("v"), cb).as("code"))
    val wsc = planQ.queryExecution.executedPlan.collect {
      case w: WholeStageCodegenExec => w.toString
    }
    assert(wsc.exists(s => s.contains("pqencode") && s.contains("Project")),
      planQ.queryExecution.executedPlan.toString.take(2000))
  }

  test("hash projection plans INSIDE WholeStageCodegen (fallback evicted it)") {
    // spark.range, not a local Seq: ConvertToLocalRelation evaluates
    // projections over LocalRelation at optimize time, leaving only a
    // LocalTableScan with no codegen stage to inspect
    val q = spark.range(100)
      .select(concat_ws(" ", lit("tok"), col("id"), lit("alpha beta gamma")).as("text"))
      .select(
      TextHash.shingleHashes(col("text"), 3).as("sh"),
      TextHash.simhashBits(TextHash.shingleSpanHashes(col("text"), 2), 16).as("simh"))
    val wsc = q.queryExecution.executedPlan.collect {
      case w: WholeStageCodegenExec => w.toString
    }
    assert(wsc.exists(s => s.contains("shinglehashes") && s.contains("Project")),
      q.queryExecution.executedPlan.toString.take(2000))
  }
}
