package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-probe harness — the adversarial-corpus runs PLANS_r{N} records:
  * `spanskew N` / `deconskew N` plant a boilerplate shingle in ~100% of an
  * N-doc corpus and measure per-stage TASK SKEW (max/median task duration)
  * on `removeRepeatedSpans`'s df pass + coverage join and
  * `decontaminate`'s df-cap + collision join; `clean N` runs the q72 E2E
  * corpus clean (minhash → CC → canonical keep → quality filter → split)
  * at probe scale. Corpora are generated DISTRIBUTED (spark.range +
  * column expressions — nothing driver-side), deterministic by id. */
object Probe {

  /** Collects per-stage task durations; reports the heaviest stages with
    * their max/median ratio — the straggler signal the ccSalt fix was
    * graded on. */
  final class SkewListener extends SparkListener {
    private val durs = scala.collection.mutable.Map[Int, scala.collection.mutable.ArrayBuffer[Long]]()
    private var shufWrite = 0L
    private val stageWrite = scala.collection.mutable.Map[Int, Long]()
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = synchronized {
      if (te.taskInfo != null && te.taskInfo.successful) {
        durs.getOrElseUpdate(te.stageId,
          scala.collection.mutable.ArrayBuffer.empty[Long]) += te.taskInfo.duration
        if (te.taskMetrics != null) {
          val w = te.taskMetrics.shuffleWriteMetrics.bytesWritten
          shufWrite += w
          if (w > 0) stageWrite(te.stageId) = stageWrite.getOrElse(te.stageId, 0L) + w
        }
      }
    }
    /** Top shuffle-writing stages — attributes a phase's shuffle bytes to
      * the stage that produced them (added r12: the 50M indexscreen
      * measured 10.67 GB/screen with no way to tell WHICH exchange). */
    def shuffleReport(top: Int = 8): String = synchronized {
      stageWrite.toSeq.sortBy(-_._2).take(top).map { case (sid, b) =>
        f"[probe]   shufstage $sid%5d: writeMB=${b / 1e6}%10.1f"
      }.mkString("\n")
    }
    /** Cumulative shuffle bytes written across all completed tasks —
      * snapshot before/after a phase to attribute shuffle volume to it.
      * Listener events are delivered async; give the bus a moment to
      * drain after the phase's action before reading. */
    def shuffleWriteBytes: Long = synchronized(shufWrite)
    def report(top: Int = 10): String = synchronized {
      val rows = durs.toSeq.map { case (sid, ds) =>
        val sorted = ds.toArray.sorted
        (sid, sorted.last, sorted(sorted.length / 2), sorted.length)
      }.sortBy(-_._2).take(top)
      rows.map { case (sid, mx, med, n) =>
        f"[probe]   stage $sid%5d: tasks=$n%5d max=${mx / 1000.0}%8.2fs " +
          f"median=${med / 1000.0}%8.2fs ratio=${mx.toDouble / math.max(1L, med)}%6.1fx"
      }.mkString("\n")
    }
    /** max/median over stages with enough tasks for a meaningful median
      * AND a non-trivial max duration — without the floor, a sub-second
      * stage whose median task is ~0ms (most tasks empty) reports a
      * huge ratio that is noise, not a straggler (the 20M clean probe
      * hit exactly that: 1.3s stage, 0.01s median, "187×"). */
    def worstRatio(minTasks: Int = 8, minMaxMs: Long = 5000L): Double = synchronized {
      val rs = durs.values.filter(_.size >= minTasks).map(_.toArray.sorted)
        .filter(_.last >= minMaxMs)
        .map(sorted => sorted.last.toDouble / math.max(1L, sorted(sorted.length / 2)))
      if (rs.isEmpty) 0.0 else rs.max
    }
  }

  /** N docs, EVERY one carrying the same leading boilerplate (every pure
    * boilerplate shingle has df = N — the worst-case hot key for any
    * df-keyed aggregate/join; `headerTokens` must be ≥ the consumer's
    * shingle width for the hot key to exist at all), ~25 unique filler
    * tokens, and a shared 20-token carrier span in 1% of docs (the
    * planted true positives). */
  private def boilerplateCorpus(spark: SparkSession, n: Long,
      headerTokens: Int = 5): DataFrame = {
    val header = (0 until headerTokens).map(i => s"boiler$i").mkString("", " ", " ")
    val filler = concat_ws(" ", (0 until 25).map(i =>
      concat(lit("u"), pmod(hash(col("id") * 31 + lit(i)), lit(1000000000)))): _*)
    val carrier = "carrier alpha beta gamma delta epsilon zeta eta theta " +
      "iota kappa lambda mu nu xi omicron pi rho sigma tau"
    spark.range(n).select(col("id"),
      concat(
        lit(header), filler,
        when(col("id") % 100 === 0, lit(" " + carrier)).otherwise(lit(""))
      ).as("text"))
  }

  /** Mostly-unique corpus with planted near-dup clusters of 3 (ids
    * {300k, 300k+1, 300k+2} share a base text, one filler token varies)
    * and a deterministic low-quality stratum — the q72 shape at scale. */
  private def cleanCorpus(spark: SparkSession, n: Long): DataFrame = {
    val inCluster = col("id") % 300 < 3
    val base = when(inCluster, col("id") - (col("id") % 300)).otherwise(col("id"))
    // alphabetic pseudo-words (digits → letters) so the synthetic corpus
    // PASSES the quality heuristics (token length 3–10, alpha ratio) —
    // digit-heavy tokens made an earlier cut fail ~100% of the filter and
    // the probe measured an empty tail
    val filler = concat_ws(" ", (0 until 30).map(i =>
      translate(concat(lit("w"), pmod(hash(base * 37 + lit(i)), lit(1000000))),
        "0123456789", "abcdefghij")): _*)
    val variant = when(inCluster,
      concat(lit(" extra"), translate(col("id") % 300, "0123456789", "abcdefghij")))
      .otherwise(lit(""))
    // ~2% of docs degenerate to a short low-quality stub the filter drops
    val text = when(col("id") % 50 === 7, lit("x x x x"))
      .otherwise(concat(lit("the document begins here "), filler, variant))
    spark.range(n).select(col("id").as("doc_id"), text.as("text"))
  }

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("spanskew")
    val n = args.lift(1).map(_.toLong).getOrElse(2000000L)
    val parts = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "128")
    val spark = LocalSession.builder()
      .config("spark.sql.shuffle.partitions", parts)
      // probe-harness only: a single-JVM local run at the node's memory
      // edge can stall >120 s in one GC/IO squall, and the heartbeat
      // "executor removal" that follows kills an otherwise-finishing
      // run (hit at 50M indexscreen, r11). In local mode the heartbeat
      // protects nothing — driver and executor share the process.
      .config("spark.network.timeout", "600s")
      .config("spark.executor.heartbeatInterval", "120s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val listener = new SkewListener
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    // driver peak heap = max of INSTANTANEOUS totals, sampled by a daemon
    // thread (r13). The previous metric summed per-POOL G1 peaks, which
    // are captured at different instants — Eden's peak and Old's peak
    // cannot coexist, so it reported 112 GB "peak" under a 96 GiB Xmx
    // (the r12 accounting footnote). 200 ms sampling can miss a
    // sub-sample spike, but every reading is a real heap state and the
    // max is ≤ Xmx by construction.
    val peakHeapSampled = new java.util.concurrent.atomic.AtomicLong(0L)
    val heapSampler = new Thread(() => {
      val mem = java.lang.management.ManagementFactory.getMemoryMXBean
      while (true) {
        val used = mem.getHeapMemoryUsage.getUsed
        peakHeapSampled.updateAndGet(p => math.max(p, used))
        Thread.sleep(200L)
      }
    }, "probe-heap-sampler")
    heapSampler.setDaemon(true)
    heapSampler.start()

    mode match {
      case "spanskew" =>
        val docs = boilerplateCorpus(spark, n)
        val out = graft.dedup.Dedup.removeRepeatedSpans(docs, "id", "text",
          n = 5, minDf = 2)
        val agg = out.agg(sum("n_removed"), count(lit(1))).head()
        println(s"[probe] spanskew n=$n removed_tokens=${agg.getLong(0)} docs=${agg.getLong(1)}")
      case "layout" =>
        // the two rank-assigning layout ops (shuffleShards striping,
        // selectByBudget cut) at scale: both are one range sort + a
        // P-scalar totals job + a scan — the probe confirms wall tracks
        // the sort, shuffle tracks the corpus ONCE, and the budget cut's
        // past-the-cut partitions are actually skipped
        val docs = spark.range(n).select(col("id").as("doc_id"),
          concat(lit("document payload body number "), col("id")).as("text"),
          (pmod(hash(col("id")), lit(95)) + 5).cast("long").as("tok"),
          pmod(hash(col("id") * 31), lit(1000000)).cast("long").as("score"))
        def phase(tag: String)(f: => String): Unit = {
          Thread.sleep(1000)
          val b0 = listener.shuffleWriteBytes; val s0 = System.nanoTime()
          val msg = f
          Thread.sleep(1000)
          println(f"[probe] layout n=$n $tag $msg " +
            f"wall=${(System.nanoTime() - s0) / 1e9}%.1fs " +
            f"shuffleWriteMB=${(listener.shuffleWriteBytes - b0) / 1e6}%.1f")
        }
        phase("shards") {
          val sh = graft.pipeline.Sampling.shuffleShards(docs, "doc_id", 1024)
          val bal = sh.groupBy("shard").count()
            .agg(min("count"), max("count"), count(lit(1))).head()
          require(bal.getLong(2) == 1024L && bal.getLong(1) - bal.getLong(0) <= 1,
            s"shards unbalanced: $bal")
          s"shards=1024 minPerShard=${bal.getLong(0)} maxPerShard=${bal.getLong(1)}"
        }
        // mean tok ≈ 54.5 ⇒ a 10% budget cuts ~90% of the corpus after
        // the sort; the skip means the emit scan touches only ~10%
        val budget = n * 545L / 100L
        phase("budget") {
          val cut = graft.pipeline.Sampling.selectByBudget(
            docs, "doc_id", "tok", "score", budget)
          val agg = cut.agg(count(lit(1)), max("cum_before")).head()
          require(agg.getLong(0) > 0 && agg.getLong(1) < budget,
            s"cut wrong: $agg budget=$budget")
          s"kept=${agg.getLong(0)} of $n maxCumBefore=${agg.getLong(1)}"
        }
        println(listener.report())
        println(f"[probe] layout worstTask=${listener.worstRatio()}%.1f")
      case "clfscore" =>
        // QualityClassifier.score at scale: a 2^18-bucket weight vector
        // (2 MB broadcast) against n docs — the claim is ONE codegen'd
        // projection, zero shuffle, flat tasks
        val docs = spark.range(n).select(col("id").as("doc_id"),
          concat_ws(" ", (0 until 30).map(i =>
            translate(concat(lit("w"), pmod(hash(col("id") * 37 + lit(i)),
              lit(1000000))), "0123456789", "abcdefghij")): _*).as("text"))
        val b = 1 << 18
        val w = Array.tabulate(b)(j => ((j * 97) % 4001 - 2000) / 1000.0)
        val model = graft.pipeline.QualityClassifier.Model(b, 0.1, w)
        Thread.sleep(1000)
        val bq0 = listener.shuffleWriteBytes; val sq0 = System.nanoTime()
        val kept = graft.pipeline.QualityClassifier.score(docs, "text", model)
          .filter(col("keep")).count()
        Thread.sleep(1000)
        println(f"[probe] clfscore n=$n buckets=$b kept=$kept " +
          f"wall=${(System.nanoTime() - sq0) / 1e9}%.1fs " +
          f"shuffleWriteMB=${(listener.shuffleWriteBytes - bq0) / 1e6}%.1f " +
          f"worstTask=${listener.worstRatio()}%.1f")
      case "webclean" =>
        // the q124 web front half at scale: page construction + extract +
        // normalize + quality verdict are ALL scan-stage (one projection
        // chain, no exchange until the split count) — the probe confirms
        // pure-scan wall and zero shuffle on the extraction itself
        import graft.text.TextFunctions
        val pages = spark.range(n).select(col("id").as("doc_id"), concat(
          lit("<html><head><style>a{b:c}</style><script>var x=1;</script>"),
          lit("</head><body><!-- nav --><h1>Doc "), col("id").cast("string"),
          lit("</h1><p>"),
          concat_ws(" ", (0 until 25).map(i =>
            translate(concat(lit("w"), pmod(hash(col("id") * 37 + lit(i)),
              lit(1000000))), "0123456789", "abcdefghij")): _*),
          lit(" &amp; tail</p></body></html>")).as("html"))
        // NOT checkpointed: a cheap-to-recompute generator behind
        // localCheckpoint starves downstream execution memory at 20M —
        // the r9 session-2 lesson, re-confirmed here (12 GB of pages
        // spilled for minutes before the first scan); the wall below
        // includes construction, which is itself scan-stage
        Thread.sleep(1000)
        val b0 = listener.shuffleWriteBytes; val s1 = System.nanoTime()
        val extracted = pages.select(col("doc_id"),
          TextFunctions.normalizeText(
            TextFunctions.extractHtmlText(col("html"))).as("text_main"))
        val verdicts = TextFunctions.qualityFilter(extracted, "doc_id", "text_main")
        val keptN = verdicts.filter(col("keep")).count()
        Thread.sleep(1000)
        println(f"[probe] webclean n=$n kept=$keptN " +
          f"wall=${(System.nanoTime() - s1) / 1e9}%.1fs " +
          f"shuffleWriteMB=${(listener.shuffleWriteBytes - b0) / 1e6}%.1f " +
          f"worstTask=${listener.worstRatio()}%.1f")
        require(keptN == n, s"constructed pages all pass quality: $keptN")
      case "bloomdecon" =>
        // decontaminateBloom vs the exact broadcast-set prefilter on the
        // deconskew corpus: identical flagged pairs, and the bloom tier's
        // shuffle must track the eval-matching sliver exactly as the
        // exact tier's does (the win is the BROADCAST size — bitmap vs
        // 8 B/shingle set — which local mode can't surface in bytes, so
        // the probe prints the filter's bitmap size instead)
        val train = boilerplateCorpus(spark, n, headerTokens = 12)
        val evalFiller = concat_ws(" ", (0 until 25).map(i => concat(lit("u"),
          pmod(hash(col("id") * 3 * 31 + lit(i)), lit(1000000000)))): _*)
        val evalUnique = concat_ws(" ", (0 until 25).map(i => concat(lit("q"),
          pmod(hash((col("id") + 5000000L) * 131 + lit(i)), lit(1000000000)))): _*)
        val header12 = (0 until 12).map(i => s"boiler$i").mkString("", " ", " ")
        val evalDf = spark.range(200L).select(
          (col("id") + 5000000L).as("id"),
          concat(lit(header12),
            when(col("id") % 2 === 0, evalFiller).otherwise(evalUnique)).as("text"))
        def phase2(tag: String)(f: => Long): Long = {
          Thread.sleep(1000)
          val b0 = listener.shuffleWriteBytes; val s0 = System.nanoTime()
          val cnt = f
          Thread.sleep(1000)
          println(f"[probe] bloomdecon n=$n $tag flagged_pairs=$cnt " +
            f"wall=${(System.nanoTime() - s0) / 1e9}%.1fs " +
            f"shuffleWriteMB=${(listener.shuffleWriteBytes - b0) / 1e6}%.1f")
          cnt
        }
        val cExact = phase2("exact") {
          graft.dedup.Dedup.decontaminate(
            train, evalDf, "id", "text", n = 8, minShared = 3).count()
        }
        val cBloom = phase2("bloom") {
          graft.dedup.Dedup.decontaminateBloom(
            train, evalDf, "id", "text", n = 8, minShared = 3,
            expectedShingles = 20000L).count()
        }
        require(cExact == cBloom, s"bloom/exact diverge: $cBloom vs $cExact")
        println(listener.report())
        println(f"[probe] bloomdecon worstTask=${listener.worstRatio()}%.1f")
      case "deconskew" =>
        // 12-token header so pure-boilerplate 8-gram shingles EXIST with
        // df = n: the hottest key the df-cap window can see (the cap then
        // drops them before the collision join — the designed guard)
        val train = boilerplateCorpus(spark, n, headerTokens = 12)
        // eval: 200 docs; even ids copy train doc 3·id's filler (planted
        // contamination), odd ids are boilerplate + UNIQUE filler (their
        // ids ≥ 5M never collide with train filler) — only the shared
        // header links them, and the df cap must keep it out
        val evalFiller = concat_ws(" ", (0 until 25).map(i => concat(lit("u"),
          pmod(hash(col("id") * 3 * 31 + lit(i)), lit(1000000000)))): _*)
        val evalUnique = concat_ws(" ", (0 until 25).map(i => concat(lit("q"),
          pmod(hash((col("id") + 5000000L) * 131 + lit(i)), lit(1000000000)))): _*)
        val header12 = (0 until 12).map(i => s"boiler$i").mkString("", " ", " ")
        val evalDf = spark.range(200L).select(
          (col("id") + 5000000L).as("id"),
          concat(lit(header12),
            when(col("id") % 2 === 0, evalFiller).otherwise(evalUnique)).as("text"))
        // both join shapes at probe scale: the r7 broadcast eval screen
        // (default) vs the symmetric shuffle path — wall + shuffle bytes
        // quantify "the shuffles move the eval-matching sliver, not every
        // train shingle" (same flagged_pairs is the correctness check;
        // the differential spec pins exact equality at unit scale)
        def phase(tag: String, pf: Boolean): Long = {
          Thread.sleep(1000) // let the async listener bus drain
          val b0 = listener.shuffleWriteBytes; val s0 = System.nanoTime()
          val cnt = graft.dedup.Dedup.decontaminate(
            train, evalDf, "id", "text", n = 8, minShared = 3, prefilter = pf).count()
          Thread.sleep(1000) // drain before the post-phase snapshot
          println(f"[probe] deconskew n=$n $tag flagged_pairs=$cnt " +
            f"wall=${(System.nanoTime() - s0) / 1e9}%.1fs " +
            f"shuffleWriteMB=${(listener.shuffleWriteBytes - b0) / 1e6}%.1f")
          cnt
        }
        val cPre = phase("prefilter", pf = true)
        val cSym = phase("symmetric", pf = false)
        require(cPre == cSym, s"prefilter/symmetric diverge: $cPre vs $cSym")
      case "clean" =>
        // the q72 text-pipeline spine at scale, PHASE-TIMED (VERDICT r8
        // task 6): each stage is force-materialized behind an eager
        // barrier so a phase's wall/shuffle numbers measure that phase
        // alone, not its upstream lineage replay. The barrier is a
        // COLUMNAR persist + count, NOT localCheckpoint (VERDICT r11
        // task 4): checkpointed deserialized row objects cost ~650 B/row
        // and were the 111.9 GB peak-heap source at 100M — the SQL cache
        // stores the same frames compressed-columnar at ~1/3 the
        // footprint and spills to disk instead of dying
        import graft.dedup.Dedup
        import graft.pipeline.Sampling
        import graft.text.TextFunctions
        import org.apache.spark.storage.StorageLevel
        def pin(df: DataFrame): DataFrame = {
          df.persist(StorageLevel.MEMORY_AND_DISK); df
        }
        def phase(tag: String)(f: => Long): Unit = {
          Thread.sleep(1000)
          val b0 = listener.shuffleWriteBytes; val s0 = System.nanoTime()
          val rows = f
          Thread.sleep(1000)
          println(f"[probe] clean n=$n $tag rows=$rows " +
            f"wall=${(System.nanoTime() - s0) / 1e9}%.1fs " +
            f"shuffleWriteMB=${(listener.shuffleWriteBytes - b0) / 1e6}%.1f")
        }
        var docs: DataFrame = null
        phase("corpus_materialize") {
          docs = pin(cleanCorpus(spark, n)); docs.count()
        }
        var pairs: DataFrame = null
        phase("minhash_pairs") {
          pairs = pin(Dedup.minhashCandidates(docs, "doc_id", "text",
              shingleHashesOf = TextFunctions.shingleHashes(_, 3),
              numHashes = 64, bands = 8)
            .filter(col("est_jaccard") >= 0.5))
          pairs.count()
        }
        var clusters: DataFrame = null
        phase("connected_components") {
          clusters = pin(Dedup.connectedComponents(pairs)
            .select(col("id").as("doc_id"), col("component")))
          val nc = clusters.count()
          pairs.unpersist()
          nc
        }
        var kept: DataFrame = null
        phase("canonical_quality") {
          val canonical = docs.join(clusters, Seq("doc_id"), "left")
            .filter(col("component").isNull || col("component") === col("doc_id"))
          kept = pin(TextFunctions.qualityFilter(canonical, "doc_id", "text")
            .filter(col("keep")))
          val nk = kept.count()
          docs.unpersist(); clusters.unpersist()
          nk
        }
        phase("split") {
          val out = Sampling.deterministicSplit(kept,
            "doc_id", Seq("train" -> 204, "val" -> 26, "test" -> 26))
          val counts = out.groupBy("split").count().collect()
            .map(r => s"${r.getString(0)}=${r.getLong(1)}").sorted.mkString(" ")
          println(s"[probe] clean n=$n survivors: $counts")
          counts.length.toLong
        }
      case "gridfill" =>
        // the r9 §2.7 per-series fill spine at scale: n rows of 67-row
        // series (the gate shape) with the q108 quadratic field and
        // planted interior gaps in 2 of 4 columns. Times the ONE-shuffle
        // SeriesGather.fillSeries path end-to-end for griddata-cubic
        // (Delaunay + HCT per series) and the 1-D not-a-knot spline.
        // Correctness invariant: the fully-known border makes the hull
        // the whole rectangle, so every planted gap must be filled.
        import graft.core.TimeseriesFrame
        import graft.ops.{CubicSpline, Interpolate}
        val len = 67
        val base = spark.range(n).select(
          (col("id") / len).cast("long").as("series"),
          (col("id") % len + 1).cast("double").as("t"))
        val i0 = col("t") - 1.0
        val p = (col("series") % 3 + 1).cast("double")
        val q = (col("series") % 5 + 1).cast("double")
        def vAt(j: Int) =
          p * i0 * i0 / 64.0 + i0 * lit(j) / 16.0 + lit(j * j) / 4.0 +
            q * i0 / 8.0 + lit(j) / 2.0 + lit(20.0)
        def gapAt(j: Int) =
          col("t") > 1 && col("t") < len && (col("t") + lit(3 * j)) % 4 === 1
        val df = (0 until 4).foldLeft(base) { (d, j) =>
          val v = if (j == 0 || j == 3) vAt(j)
          else when(gapAt(j), lit(null).cast("double")).otherwise(vAt(j))
          d.withColumn(s"c$j", v)
        }.localCheckpoint(true)
        val nRows = df.count()
        val gaps = df.filter(col("c1").isNull || col("c2").isNull).count()
        val tsf = TimeseriesFrame(df, Some("t"), Nil, Seq("series"))
        def phase(tag: String)(f: => Long): Unit = {
          Thread.sleep(1000)
          val b0 = listener.shuffleWriteBytes; val s0 = System.nanoTime()
          val rows = f
          Thread.sleep(1000)
          println(f"[probe] gridfill n=$n $tag rows=$rows " +
            f"wall=${(System.nanoTime() - s0) / 1e9}%.1fs " +
            f"shuffleWriteMB=${(listener.shuffleWriteBytes - b0) / 1e6}%.1f")
        }
        println(s"[probe] gridfill n=$n series=${nRows / len} planted_gaps=$gaps")
        phase("griddata_cubic_pass1") {
          val out = Interpolate.multivariateByKey(tsf, Seq("c0", "c1", "c2", "c3"), "cubic")
          val left = out.filter(col("c1").isNull || col("c2").isNull).count()
          require(left == 0, s"$left unfilled cells survived the cubic fill")
          nRows
        }
        phase("griddata_cubic_pass2") {
          Interpolate.multivariateByKey(tsf, Seq("c0", "c1", "c2", "c3"), "cubic").count()
        }
        phase("spline_1d") {
          val out = CubicSpline.interpolateByKey(tsf.copy(df =
            df.withColumn("v", when(gapAt(1), lit(null).cast("double"))
              .otherwise(vAt(1)))), "v")
          val left = out.filter(col("v").isNull).count()
          require(left == 0, s"$left unfilled rows survived the spline fill")
          nRows
        }
      case "paradedup" =>
        // dedupParagraphs at scale with a WORST-CASE hot key: one header
        // paragraph shared by EVERY page (n copies of one fingerprint) +
        // a %3 promo block + a unique line + an exempt blank. The
        // groupBy-min winner must map-side-combine the hot key and the
        // join-back must absorb it (AQE skew split); survivor counts are
        // exact by construction.
        import graft.dedup.Dedup
        val pages = spark.range(n).select(col("id").as("doc_id"), concat_ws("\n",
          lit("shared boilerplate header for every page"),
          concat(lit("unique u"), col("id"), lit(" filler content line one")),
          when(col("id") % 3 === 0, lit("recurring promo block"))
            .otherwise(concat(lit("unique v"), col("id"), lit(" second line"))),
          lit("")).as("text")).localCheckpoint(true)
        pages.count()
        Thread.sleep(1000)
        val b0 = listener.shuffleWriteBytes; val s0 = System.nanoTime()
        val agg = Dedup.dedupParagraphs(pages, "doc_id", "text")
          .agg(sum("n_paragraphs"), sum("n_removed")).head()
        Thread.sleep(1000)
        val nPromo = (n + 2) / 3 // ids 0, 3, 6, …
        val expectRemoved = (n - 1) + (nPromo - 1)
        println(f"[probe] paradedup n=$n paragraphs=${agg.getLong(0)} " +
          f"removed=${agg.getLong(1)} (expect $expectRemoved) " +
          f"wall=${(System.nanoTime() - s0) / 1e9}%.1fs " +
          f"shuffleWriteMB=${(listener.shuffleWriteBytes - b0) / 1e6}%.1f")
        require(agg.getLong(0) == 4 * n, s"paragraph count ${agg.getLong(0)} != ${4 * n}")
        require(agg.getLong(1) == expectRemoved,
          s"removed ${agg.getLong(1)} != $expectRemoved")
      case "bpe" =>
        // BPE at scale: train on the n-doc corpus (one distributed word
        // count + in-memory merges over the distinct-word table), then
        // measure the encode scan — the reference-object codegen kernel —
        // as corpus-wide token totals. Fixed ~200k-word vocabulary: real
        // corpora have Zipf vocabularies that grow sub-linearly in corpus
        // size, which is exactly why the word table is the driver-sized
        // sufficient statistic (cleanCorpus's unique-per-doc words would
        // grow the vocab linearly — a tokenizer-training antipattern).
        import graft.text.Bpe
        // no checkpoint: the generator is a cheap deterministic projection
        // and pinning 20M docs in block memory starves the shuffle
        val docs = spark.range(n).select(col("id"), concat_ws(" ",
          (0 until 30).map(i => translate(
            concat(lit("w"), pmod(hash(col("id") * 31 + lit(i)), lit(200000))),
            "0123456789", "abcdefghij")): _*).as("text"))
        docs.count()
        val t0 = System.nanoTime()
        val model = Bpe.train(docs, "text", numMerges = 1000,
          maxWords = 100L * 1000 * 1000)
        val tTrain = (System.nanoTime() - t0) / 1e9
        def encodePass(tag: String): Unit = {
          val s0 = System.nanoTime()
          val tot = docs.select(Bpe.tokenCount(col("text"), model).as("k"))
            .agg(sum("k")).head().getLong(0)
          println(f"[probe] bpe n=$n $tag total_tokens=$tot " +
            f"wall=${(System.nanoTime() - s0) / 1e9}%.1fs")
        }
        println(f"[probe] bpe n=$n merges=${model.merges.size} train=$tTrain%.1fs")
        encodePass("encode_pass1")
        encodePass("encode_pass2")
      case "bpetail" =>
        // the web-scale vocab ceiling (VERDICT r11 task 6): a 200k-word
        // head vocabulary PLUS one unique count-1 garbage word per doc —
        // at n >= 10M the distinct-word table exceeds the default
        // maxWords=10M driver bound, so training only completes because
        // minCount=2 prunes the tail INSIDE the distributed count pass.
        // The tail words use disjoint symbols (k-t vs the head's a-j),
        // so the merge list must equal a head-only train bit-for-bit —
        // asserted, not assumed.
        import graft.text.Bpe
        val headText = concat_ws(" ", (0 until 20).map(i => translate(
          concat(lit("w"), pmod(hash(col("id") * 31 + lit(i)), lit(200000))),
          "0123456789", "abcdefghij")): _*)
        val docs = spark.range(n).select(col("id"),
          concat(headText, lit(" "), translate(concat(lit("k"), col("id")),
            "0123456789", "klmnopqrst")).as("text"))
        val nDistinctTail = n // one unique garbage word per doc
        println(s"[probe] bpetail n=$n distinct_words ~= ${nDistinctTail + 200000}")
        val t0 = System.nanoTime()
        val model = Bpe.train(docs, "text", numMerges = 200, minCount = 2L)
        val tTrain = (System.nanoTime() - t0) / 1e9
        val headDocs = spark.range(n).select(col("id"), headText.as("text"))
        val t1 = System.nanoTime()
        val headModel = Bpe.train(headDocs, "text", numMerges = 200)
        val tHead = (System.nanoTime() - t1) / 1e9
        require(model.merges == headModel.merges,
          "pruned-tail merges diverged from the head-only train")
        println(f"[probe] bpetail n=$n merges=${model.merges.size} " +
          f"train=$tTrain%.1fs head_only=$tHead%.1fs merges_equal=true")
      case "cleanv2" =>
        // the q114 spine at scale: paragraph dedup (hot header on every
        // page) → C4 rules over the deduped text (scan-stage) → split.
        // Phase-timed behind eager barriers, same methodology as "clean".
        import graft.dedup.Dedup
        import graft.text.TextFunctions
        import graft.pipeline.Sampling
        val pages = spark.range(n).select(col("id").as("doc_id"), concat_ws("\n",
          lit("shared boilerplate header for every page."),
          concat(lit("unique u"), col("id"), lit(" filler content line one.")),
          when(col("id") % 3 === 0, lit("recurring promo block today."))
            .otherwise(concat(lit("unique v"), col("id"), lit(" second line."))),
          concat(lit("unique w"), col("id"), lit(" third good sentence here.")),
          concat(lit("unique x"), col("id"), lit(" fourth good sentence too."))
        ).as("text"))
        def phase(tag: String)(f: => Long): Unit = {
          Thread.sleep(1000)
          val b0 = listener.shuffleWriteBytes; val s0 = System.nanoTime()
          val rows = f
          Thread.sleep(1000)
          println(f"[probe] cleanv2 n=$n $tag rows=$rows " +
            f"wall=${(System.nanoTime() - s0) / 1e9}%.1fs " +
            f"shuffleWriteMB=${(listener.shuffleWriteBytes - b0) / 1e6}%.1f")
        }
        var pd: DataFrame = null
        phase("paragraph_dedup") {
          // columnar persist, NOT localCheckpoint (VERDICT r11 task 4):
          // the row-object checkpoint of this frame was the 111.9 GB
          // peak-heap source of the 100M run — compressed-columnar cache
          // is ~1/3 the bytes and spills instead of filling the heap
          pd = Dedup.dedupParagraphs(pages, "doc_id", "text")
          pd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          pd.count()
        }
        phase("c4_split") {
          val c4 = TextFunctions.c4Rules(pd, "doc_id", "text_dedup",
            minSentences = 4L, passThrough = Seq("n_removed"))
          val out = Sampling.deterministicSplit(c4.filter(col("keep")),
            "doc_id", Seq("train" -> 204, "val" -> 26, "test" -> 26))
          val counts = out.groupBy("split").count().collect()
            .map(r => s"${r.getString(0)}=${r.getLong(1)}").sorted.mkString(" ")
          println(s"[probe] cleanv2 n=$n survivors: $counts")
          counts.length.toLong
        }
      case "indexscreen" =>
        // MinhashIndex lifecycle at scale: one persisted build over the
        // n-doc reference corpus, then repeated batch screens of n/10
        // arriving docs — the incremental-crawl shape. Perturbed batch
        // docs (%3, tail-appended copies of a ref doc) MUST find their
        // source; the identical low-quality stubs (%50==7 in cleanCorpus)
        // form an over-cap bucket that the build-time flood guard drops,
        // so a perturbed stub finds nothing — both behaviors asserted.
        import graft.dedup.Dedup
        // NO checkpoint on the reference corpus: it is a cheap
        // deterministic generator (column exprs over range — the
        // documented "checkpoint only what is expensive to rebuild"
        // rule), and pinning 100M rows of text alongside the persisted
        // sig/band stores filled the sandbox disk (r11 100M attempt:
        // "No space left on device" during index persist)
        val ref = cleanCorpus(spark, n)
        // optional 3rd arg: batch size (default n/10) — lets the
        // batch-bound-shuffle claim be tested with m fixed as n grows
        val m = args.lift(2).map(_.toLong).getOrElse(n / 10)
        // optional 4th arg: a second rescore broadcast cap — when given,
        // the run screens TWICE over the SAME build, reusing salts 1/2
        // (baseline screens at the default 64 MB cap, override screens
        // at the given cap over byte-identical batches), an A/B of the
        // size-conditional broadcast at identical batch size.
        // Pass 0 to force the shuffle attach-join as the B side. NOTE a
        // cap above ~1 GB overruns spark.driver.maxResultSize when the
        // candidate set is large (measured: 20M/2M-batch ref sigs
        // collect ~1.1 GB and the job dies) — the default cap is the
        // guard that keeps the broadcast path driver-safe; A/B at a
        // batch size where the DEFAULT cap engages instead.
        // "-" skips the A/B (so the 5th positional arg is reachable alone)
        val altCap = args.lift(3).filter(_ != "-").map(_.toLong)
        // optional 5th arg: maxDocsPerScreen — every screen below runs in
        // minhashSearch's chunked mode (VERDICT r14: sub-batch the
        // arriving docs so per-screen shuffle scratch is bounded by one
        // slice; pass 0/omit for the one-shot screen). Recall asserts are
        // chunk-invariant (chunked ≡ unchunked is spec-pinned).
        val chunkDocs = args.lift(4).map(_.toLong).getOrElse(0L)
        val mSel = math.max(1L, n / math.max(1L, m)) * 3 // ids % (3·n/m)
        def batchOf(salt: Int): org.apache.spark.sql.DataFrame = {
          // single appended token: J ≈ 0.97, and with 16 bands of 4 the
          // per-doc band-miss probability is ~(1-0.97⁴)¹⁶ ≈ 1e-18 — the
          // screen's recall floor below is arithmetic, not hope
          val perturbed = ref.filter(col("doc_id") % mSel === salt)
            .select((col("doc_id") + n).as("doc_id"),
              concat(col("text"), lit(" tailtok")).as("text"))
          val fresh = spark.range(m - m / 3).select(
            (col("id") + 10 * n + salt * 100 * n).as("doc_id"),
            concat_ws(" ", (0 until 30).map(i =>
              translate(concat(lit("z"), pmod(hash(col("id") * (53 + salt) + lit(i)),
                lit(1000000))), "0123456789", "klmnopqrst")): _*).as("text"))
          perturbed.unionByName(fresh).localCheckpoint(true)
        }
        val s0 = System.nanoTime()
        // single-writer build → reclaim the build shuffles once the
        // layout is pinned (r14: at 100M the repartition/agg shuffle
        // files are ~40 GB of dead disk next to the 61 GB cache — the
        // probe died ENOSPC before the first screen without this)
        val idx = Dedup.minhashIndex(ref, "doc_id", "text",
          numHashes = 64, bands = 16).persist(reclaimBuildShuffles = true)
        val tBuild = (System.nanoTime() - s0) / 1e9
        // pinned index footprint (mem + spilled-to-disk blocks of the
        // banded/counts caches) — the number the array<int> signature
        // migration is supposed to halve vs the r12 array<long> store
        val rddInfos = spark.sparkContext.getRDDStorageInfo
        val cacheGB = rddInfos.map(i => i.memSize + i.diskSize).sum / 1e9
        // scratch-disk headroom (spark.local.dir volume — ADVICE r14:
        // java.io.tmpdir diverges from the real shuffle volume whenever
        // spark.local.dir points elsewhere, exactly where the reclaim/
        // chunking levers matter; a multi-dir config reports the
        // tightest volume): the number the build-shuffle reclaim and
        // the chunked screens exist to protect
        def diskFreeGB = spark.sparkContext.getConf
          .get("spark.local.dir", System.getProperty("java.io.tmpdir"))
          .split(',').map(d => new java.io.File(d.trim).getUsableSpace)
          .min / 1e9
        println(f"[probe] indexscreen indexCacheGB=$cacheGB%.2f " +
          f"diskFreeGB=$diskFreeGB%.1f")
        rddInfos.sortBy(i => -(i.memSize + i.diskSize)).take(6).foreach { i =>
          println(f"[probe]   cached ${(i.memSize + i.diskSize) / 1e9}%7.2fGB " +
            f"(mem=${i.memSize / 1e9}%.2f disk=${i.diskSize / 1e9}%.2f) " +
            i.name.replace('\n', ' ').take(120))
        }
        def screen(tag: String, salt: Int,
            bcastCap: Long = 64L << 20): Unit = {
          val batch = batchOf(salt)
          batch.count()
          val b0 = listener.shuffleWriteBytes; val t1 = System.nanoTime()
          val hits = Dedup.minhashSearch(idx, batch, "doc_id", "text",
              broadcastRefSigsMaxBytes = bcastCap,
              maxDocsPerScreen = chunkDocs)
            .filter(col("est_jaccard") >= 0.5)
          val agged = hits.agg(count(lit(1)), count_distinct(col("id_new")))
          val stats = agged.head()
          // executed join/exchange shape (post-AQE): proves whether the
          // size-conditional broadcast of the pruned ref sigs actually
          // engaged at this batch size, rather than inferring it from
          // shuffle deltas
          val nodes = org.apache.spark.sql.graftbridge.Bridge
            .allExecutedNodes(agged.queryExecution.executedPlan)
          val bhj = nodes.count(_.isInstanceOf[
            org.apache.spark.sql.execution.joins.BroadcastHashJoinExec])
          val smj = nodes.count(_.isInstanceOf[
            org.apache.spark.sql.execution.joins.SortMergeJoinExec])
          val shj = nodes.count(_.isInstanceOf[
            org.apache.spark.sql.execution.joins.ShuffledHashJoinExec])
          val exch = nodes.count(_.isInstanceOf[
            org.apache.spark.sql.execution.exchange.ShuffleExchangeLike])
          println(f"[probe] indexscreen n=$n m=$m chunk=$chunkDocs $tag " +
            f"pairs=${stats.getLong(0)} " +
            f"matched_new=${stats.getLong(1)} " +
            f"wall=${(System.nanoTime() - t1) / 1e9}%.1fs " +
            f"shuffleWriteMB=${(listener.shuffleWriteBytes - b0) / 1e6}%.1f " +
            f"worstTask=${listener.worstRatio()}%.1f " +
            f"plan[bhj=$bhj smj=$smj shj=$shj exch=$exch] " +
            f"diskFreeGB=$diskFreeGB%.1f")
          // every non-stub perturbed doc finds its source (up to the
          // ~1e-18/doc band-miss floor); stubs cannot — their bucket was
          // capped away at build; fresh docs share no shingles with
          // anything, so matched_new cannot exceed the perturbed count
          val nPerturbed = ref.filter(col("doc_id") % mSel === salt).count()
          val nStub = ref.filter(col("doc_id") % mSel === salt &&
            col("doc_id") % 50 === 7).count()
          val expect = nPerturbed - nStub
          require(stats.getLong(1) <= expect &&
            stats.getLong(1) >= expect - expect / 1000,
            s"matched ${stats.getLong(1)} outside [${expect - expect / 1000}, $expect]")
        }
        screen("cold", 1)
        screen("steady", 2)
        // SAME salts as the baseline screens → byte-identical batches,
        // so the cap A/B isolates the plan shape (the only residual
        // asymmetry is page-cache warmth, which the cold/steady split
        // already brackets)
        altCap.foreach { cap =>
          screen(s"altcap-cold(cap=$cap)", 1, cap)
          screen(s"altcap-steady(cap=$cap)", 2, cap)
        }
        println(f"[probe] indexscreen build+persist=$tBuild%.1fs")
        idx.release()
      case "indexlife" =>
        // append/remove vs rebuild at scale: the lifecycle claim is that
        // an append is BATCH-bound (plus one O(index) recount the first
        // time, amortized thereafter) and a remove is delete-bound —
        // never a rebuild. Rebuild wall over the union is the yardstick.
        import graft.dedup.Dedup
        val ref = cleanCorpus(spark, n).localCheckpoint(true)
        val m = args.lift(2).map(_.toLong).getOrElse(n / 10)
        val batch = spark.range(m).select((col("id") + 10 * n).as("doc_id"),
          concat_ws(" ", (0 until 30).map(i =>
            translate(concat(lit("z"), pmod(hash(col("id") * 53 + lit(i)),
              lit(1000000))), "0123456789", "klmnopqrst")): _*).as("text"))
          .localCheckpoint(true)
        def timed[T](tag: String)(f: => T): T = {
          Thread.sleep(1000)
          val b0 = listener.shuffleWriteBytes; val t1 = System.nanoTime()
          val r = f
          Thread.sleep(1000)
          println(f"[probe] indexlife n=$n m=$m $tag " +
            f"wall=${(System.nanoTime() - t1) / 1e9}%.1fs " +
            f"shuffleWriteMB=${(listener.shuffleWriteBytes - b0) / 1e6}%.1f")
          r
        }
        // the documented lifecycle: persist each generation, release the
        // previous — appends/removes are then delta-cost over cache scans
        val idx = timed("build+persist") {
          Dedup.minhashIndex(ref, "doc_id", "text",
            numHashes = 64, bands = 16).persist()
        }
        val a1 = timed("append1+persist") {
          val a = idx.append(batch, "doc_id", "text").persist()
          idx.release(); a
        }
        val batch2 = batch.select((col("doc_id") + 20 * n).as("doc_id"),
          col("text")).localCheckpoint(true)
        val a2 = timed("append2+persist") {
          val a = a1.append(batch2, "doc_id", "text").persist()
          a1.release(); a
        }
        val afterRm = timed("remove+persist") {
          val r = a2.remove(batch.select(col("doc_id")), "doc_id").persist()
          a2.release(); r
        }
        timed("rebuild_yardstick") {
          Dedup.minhashIndex(
            ref.select(col("doc_id"), col("text"))
              .unionByName(batch2.select(col("doc_id"), col("text"))),
            "doc_id", "text", numHashes = 64, bands = 16).banded.count()
        }
        val nFinal = afterRm.sigs.count()
        require(nFinal == ref.count() + m, s"final sigs $nFinal")
        println(f"[probe] indexlife done worstTask=${listener.worstRatio()}%.1f")
      case "banding" =>
        // native BandKeysExpr vs the interpreted HOF twin over the same
        // signatures: the banding projection is a per-document scan stage,
        // so the delta is pure expression-evaluation cost (plus the
        // whole-stage codegen span the fallback form evicts)
        import graft.dedup.Dedup
        import graft.text.TextFunctions
        val docs = cleanCorpus(spark, n)
        val sigs = docs.select(col("doc_id"),
          Dedup.minhashSignature(
            TextFunctions.shingleHashes(col("text"), 3),
            Dedup.minhashParams(64)).as("sig"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        sigs.count() // materialize: time only the banding projection below
        def phase(tag: String, keys: org.apache.spark.sql.Column): Unit = {
          val s0 = System.nanoTime()
          val nb = sigs.select(explode(keys).as("b")).agg(count(lit(1))).head().getLong(0)
          println(f"[probe] banding n=$n $tag keys=$nb " +
            f"wall=${(System.nanoTime() - s0) / 1e9}%.1fs")
        }
        phase("native", Dedup.lshBandKeys(col("sig"), 8, 8))
        phase("hof", Dedup.lshBandKeysHof(col("sig"), 8, 8))
        phase("native2", Dedup.lshBandKeys(col("sig"), 8, 8))
        sigs.unpersist()
      case "ivf" =>
        // index lifecycle delta (VERDICT r6 task 5): one persisted build,
        // successive query batches pay search-only cost. `n` is unused;
        // reads the sf0.1 embeddings.
        import graft.similarity.IvfIndex
        val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
        val e = spark.read.parquet(s"$dir/embeddings.parquet")
        def timed[A](f: => A): (A, Double) = {
          val s = System.nanoTime(); val a = f; (a, (System.nanoTime() - s) / 1e9)
        }
        val (idx, tBuild) = timed {
          IvfIndex.build(e, "vec_id", "embedding", nlist = 64).persist()
        }
        def batch(lo: Long, hi: Long): Long =
          IvfIndex.search(idx, e.filter(col("vec_id") >= lo && col("vec_id") < hi),
            "vec_id", "embedding", k = 10, nprobe = 8).count()
        val (n1, t1) = timed(batch(0, 100))
        val (n2, t2) = timed(batch(100, 200))
        val (n3, t3) = timed(batch(200, 300))
        idx.release()
        println(f"[probe] ivf build+persist=$tBuild%.2fs batch1=$t1%.2fs ($n1 rows) " +
          f"batch2=$t2%.2fs ($n2 rows) batch3=$t3%.2fs ($n3 rows)")
      case "pq" =>
        // IVF-PQ at generated scale: n vectors × 64 dims (deterministic,
        // clustered — 512 centers + id-hash jitter so both the coarse
        // quantizer and the codebooks have real structure), k-means
        // codebooks from a bounded sample, encoded index persisted, then
        // ADC-only and refine query batches + recall@10 vs exact.
        import graft.similarity.{IvfIndex, ProductQuantizer, Similarity}
        val dim = 64
        def timed[A](f: => A): (A, Double) = {
          val s = System.nanoTime(); val a = f; (a, (System.nanoTime() - s) / 1e9)
        }
        // Fixture notes from the r10 20M runs (both classes of failure
        // were REAL and are fixed here):
        //  - columnar persist, NOT localCheckpoint: the checkpointed
        //    deserialized row objects (~650 B/row) filled the 64 GB
        //    driver heap alongside the columnar assigned/encoded caches
        //    and the full-GC storm starved the executor heartbeat thread
        //    until the context shut itself down. The SQL cache stores
        //    the vectors compressed-columnar at ~1/3 the footprint.
        //  - array() of per-dimension expressions, NOT a transform()
        //    lambda: Catalyst higher-order functions are CodegenFallback,
        //    so the 20M x 64 generation ran INTERPRETED with per-element
        //    boxing — an 833 s single stage that buried every phase the
        //    probe exists to measure (the r9 q114 hotspot class, again).
        //  - recall at probe scale is TOPIC recall (neighbors share the
        //    query's generating center), not exact-top-10 recall: with
        //    tens of thousands of same-center vectors whose fine ranking
        //    differs by hashed jitter BELOW the 8-byte PQ quantization
        //    error, exact-top-10 membership is unrecoverable by
        //    construction and the old fixture's "recall" was ~0.03 at
        //    EVERY scale — it measured the fixture, not the index (fine-
        //    rank recall ≥ 0.95 is spec-pinned on the pinned separable
        //    corpus in ProductQuantizerSpec, where it is meaningful).
        //    Topic recall is the scale-stable production question — does
        //    the IVF probe + ADC surface the right cell of a 20M corpus —
        //    and carries a hard floor here.
        //  - centers are HASH-uniform directions, not sin phases: the old
        //    sin((id%512)*0.7 + …) centers alias with period 2π/0.7 ≈ 9,
        //    so centers 9 apart were nearly identical (inter-center
        //    distance ~0.1) while within-center jitter was ~1.7 — the
        //    "topics" were not separable by ANY index. Hash-uniform
        //    components give inter-center ≈ 6.5 vs jitter ≈ 0.2.
        val corpus = spark.range(n).select(col("id"),
          array((0 until dim).map { d =>
            pmod(xxhash64(col("id") % 512, lit(d)), lit(2000))
              .cast("double") / 1000.0 - 1.0 +
              pmod(xxhash64(col("id"), lit(d), lit(7)), lit(100))
                .cast("double") / 1000.0
          }: _*).as("embedding"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        //  - nlist SCALES with n (~n/20k, capped): a fixed nlist=64 at
        //    20M means 312k-row cells and ~2.5M candidates PER QUERY —
        //    a 2.5B-row ADC window per 1000-query batch whose execution
        //    memory drove the second driver-GC freeze. IVF only works
        //    when cells stay ~10-100k rows (FAISS guideline nlist≈4√n).
        val nlist = math.max(64, math.min(1024, (n / 20000).toInt))
        val (idx, tBuild) = timed(
          IvfIndex.build(corpus, "id", "embedding", nlist = nlist,
            knownCount = Some(n)).persist())
        val nv = idx.assigned.withColumn("nv",
          graft.functions.VectorFunctions.arrayDiv(col("v"), col("nrm")))
        val (cb, tTrain) = timed(ProductQuantizer.trainKMeans(
          nv, "id", "nv", m = 8, ksub = 256, sampleN = 20000))
        val (enc, tEnc) = timed {
          val e = ProductQuantizer.encodeIndex(idx, cb)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          e.count(); e
        }
        def qs(lo: Long, hi: Long) =
          corpus.filter(col("id") >= lo && col("id") < hi)
        def batch(lo: Long, hi: Long, refine: Int): Long = {
          // the batch-serving shape: unpin each batch's refine shortlist
          // after consuming it, so storage never accumulates across batches
          val (res, cleanup) = ProductQuantizer.searchManaged(idx, enc,
            qs(lo, hi), "id", "embedding", cb, k = 10, nprobe = 8,
            refine = refine)
          try res.count() finally cleanup()
        }
        val (r1, tA1) = timed(batch(0, 100, 0))
        val (r2, tA2) = timed(batch(100, 200, 0))
        val (r3, tR1) = timed(batch(200, 300, 2))
        val (r4, tR2) = timed(batch(300, 400, 2))
        // topic recall: a returned neighbor is RIGHT when it comes from
        // the query's generating center (id ≡ query mod 512); hard floor
        // so a probe/ADC regression at scale fails the run, not just a
        // printed number (the old exact-top-10 recall was fixture-
        // meaningless — see the fixture note)
        val pairs = ProductQuantizer.search(idx, enc, qs(0, 50), "id",
            "embedding", cb, k = 10, nprobe = 8, refine = 2)
          .select("query_id", "neighbor_id").collect()
          .map(r => (r.getLong(0), r.getLong(1)))
        val topicRecall = pairs.count(p => p._1 % 512 == p._2 % 512)
          .toDouble / pairs.length
        enc.unpersist(); idx.release()
        println(f"[probe] pq n=$n build=$tBuild%.1fs train=$tTrain%.1fs " +
          f"encode=$tEnc%.1fs adc_batches=$tA1%.2f/$tA2%.2fs " +
          f"refine_batches=$tR1%.2f/$tR2%.2fs rows=$r1/$r2/$r3/$r4 " +
          f"topic_recall@10(refine2,nprobe8)=$topicRecall%.3f")
        require(pairs.length >= 450 && topicRecall >= 0.9,
          f"pq topic recall $topicRecall%.3f < 0.9 over ${pairs.length} pairs")
      case "timeseries" =>
        // the events-family scale path: seriesKeys-partitioned windows.
        // Gate data tops out at ~600k rows / 1 series; this drives the
        // SAME operators over n rows spread across k independent series
        // (the 100 TB shape — horizontal parallelism comes from keys, the
        // per-series order from the keyed window), generated DISTRIBUTED
        // and deterministic by id. Reports per-operator wall + shuffle
        // bytes + the straggler ratio.
        import graft.core.TimeseriesFrame
        import graft.ops.{Interpolate, MovingTransform, Resample}
        import graft.spectral.Correlation
        val k = args.lift(2).map(_.toInt).getOrElse(2000)
        val events = spark.range(n).select(
          (col("id") % k).as("series"),
          col("id").as("event_id"),
          // one row per series per simulated minute, ±ms jitter by series
          timestamp_micros(lit(1704067200000000L) +
            expr(s"id div $k") * 60000000L + (col("id") % k) * 1234L).as("ts"),
          when(col("id") % 37 === 0, lit(null).cast("double"))
            .otherwise(round(sin(col("id") % 997 / 100.0) * 5000 + 5000) / 100.0)
            .as("value"))
          .withColumn("value_cents", round(col("value") * 100))
          .localCheckpoint(false)
        val tsf = TimeseriesFrame(events, Some("ts"),
          tieBreak = Seq("event_id"), seriesKeys = Seq("series"))
        def phase(tag: String)(f: => Long): Unit = {
          Thread.sleep(1000)
          val b0 = listener.shuffleWriteBytes; val s0 = System.nanoTime()
          val rows = f
          Thread.sleep(1000)
          println(f"[probe] timeseries n=$n k=$k $tag rows=$rows " +
            f"wall=${(System.nanoTime() - s0) / 1e9}%.1fs " +
            f"shuffleWriteMB=${(listener.shuffleWriteBytes - b0) / 1e6}%.1f")
        }
        phase("materialize")(events.count())
        phase("strided_w24_s12")(MovingTransform.strided(tsf,
          Seq("value" -> "mean", "value" -> "max", "value" -> "std"),
          width = 24, shift = 12).count())
        phase("interpolate_linear")(
          Interpolate(tsf, Seq("value"), "linear")
            .agg(count(col("value"))).head().getLong(0))
        phase("resample_5min")(Resample.meanGrid(tsf, "value_cents",
          everySeconds = 300L).count())
        phase("acf_by_key_24")(Correlation.acfByKey(tsf, "value", 24).count())
        // full-lag ACF (the reference default nlags = 0.9·m) per series:
        // at m = n/k rows/series the windowed-lag form is O(m²·0.9) work
        // per series — infeasible; the gathered Wiener–Khinchin FFT pays
        // one gather shuffle + m log m per series
        phase("acf_full_lag_fft_by_key")(
          Correlation.acfByKeyFft(tsf, "value").count())
        // grouped seasonal decomposition (period 24 on the minute grid):
        // centered-MA trend + phase means per series, all keyed windows
        phase("seasonal_decompose_by_key")(
          graft.ops.SeasonalDecompose(tsf, Seq("value"), period = 24,
            model = "additive").agg(count(lit(1))).head().getLong(0))
        // grouped PACF at the reference default depth m/2−1: FFT ACF +
        // executor-side Levinson–Durbin (the LD recursion is O(nl²) per
        // series — the quadratic lives in the tiny per-series solve, not
        // in any shuffle)
        phase("pacf_default_depth_by_key")(
          Correlation.pacfByKeyFft(tsf, "value").count())
        // per-series spectrum at n/k rows per series: the gathered-FFT
        // scale path (the explode-DFT twin is O(m²) per series — at
        // m=25k/series it would push ~m/2 grid rows per input row through
        // the hash aggregate; the FFT pays one gather shuffle + m log m)
        phase("periodogram_fft_by_key")(
          graft.spectral.Periodogram.spectrumByKeyFft(
            tsf, "value", "diff").count())
        // millions-of-models shape at fixed size: k full MLE ARIMA(1,1,0)
        // fits, each on its own 1000-point series, entirely executor-side
        // (collect_list gather + narrow flatMap — one shuffle of the
        // grouped values, zero driver math). Deliberately decoupled from
        // n so the per-fit cost stays constant while k carries the scale.
        val mEvents = spark.range(k.toLong * 1000).select(
          (col("id") % k).as("series"),
          col("id").as("event_id"),
          timestamp_micros(lit(1704067200000000L) +
            expr(s"id div $k") * 60000000L).as("ts"),
          (round(sin(col("id") % 997 / 100.0) * 5000 + 5000) / 100.0
            + (col("id") % 13)).as("value"))
        val mTsf = TimeseriesFrame(mEvents, Some("ts"),
          tieBreak = Seq("event_id"), seriesKeys = Seq("series"))
        phase(s"arima_mle_${k}_series_x1000")(
          graft.models.PerSeries.arimaForecastByKey(
            mTsf, "value", p = 1, d = 1, q = 0, steps = 3).count())
        // fixed-parameter model fan-outs on the same k×1000 frame: the
        // gather dominates (the per-series predict is closed-form), so
        // these measure the millions-of-models floor without MLE cost
        phase(s"arimax_fixed_${k}_series_x1000")(
          graft.models.PerSeries.arimaxTimeRegForecastFixedByKey(
            mTsf, "value", beta = 0.02, phi = 0.5, mu = 50.0, steps = 3)
            .count())
        val mBi = mEvents.withColumn("value2",
          round(cos(col("event_id") % 883 / 70.0) * 300 + 700) / 100.0)
        val mBiTsf = graft.core.TimeseriesFrame(mBi, Some("ts"),
          tieBreak = Seq("event_id"), seriesKeys = Seq("series"))
        phase(s"var_fixed_${k}_series_x1000")(
          graft.models.PerSeries.varForecastFixedByKey(mBiTsf,
            Seq("value", "value2"),
            breeze.linalg.DenseMatrix((0.5, 0.01), (0.1, 0.3)),
            Array(20.0, 5.0), steps = 3).count())
      case "curation" =>
        // the r8 curation trio at scale: DSIR scoring (one exploded pass
        // for weights, broadcast weight join for scores, sketch-quantile
        // selection — corpus never globally ordered), BM25 (postings
        // build + a broadcast 100-query batch), SemDeDup (trained m=1
        // codebook assignment + cluster-local pair pruning).
        import graft.pipeline.Dsir
        import graft.text.Bm25
        // EAGER checkpoint: DSIR's weight totals broadcast with the docs
        // scan in their lineage — an unmaterialized lazy checkpoint under
        // a broadcast exchange is the documented deadlock inversion
        val docs = cleanCorpus(spark, n).localCheckpoint(true)
        // dev knobs: SPARK_GRAFT_PHASES=semdedup,… runs a substring-matched
        // subset; args(2) overrides SemDeDup's cluster count (the k-with-N
        // scaling rule: constant per-cluster pair work needs k ∝ N)
        val phasesOnly = sys.env.get("SPARK_GRAFT_PHASES").map(_.split(",").toSet)
        val semK = args.lift(2).map(_.toInt).getOrElse(4096)
        def phase(tag: String)(f: => Long): Unit = {
          if (!phasesOnly.forall(_.exists(tag.contains))) return
          Thread.sleep(1000)
          val b0 = listener.shuffleWriteBytes; val s0 = System.nanoTime()
          val rows = f
          Thread.sleep(1000)
          println(f"[probe] curation n=$n $tag rows=$rows " +
            f"wall=${(System.nanoTime() - s0) / 1e9}%.1fs " +
            f"shuffleWriteMB=${(listener.shuffleWriteBytes - b0) / 1e6}%.1f")
        }
        val buckets = 65536
        phase("dsir_weights_score_select") {
          // target = the 2%-spaced clean stratum (a predicate, so the
          // single-pass flagged weights path applies)
          val w = Dsir.bucketWeightsWhere(docs, col("doc_id") % 50 === 3,
            "text", buckets)
          val scored = Dsir.score(docs, "doc_id", "text", w, buckets)
            .withColumn("dsir_logw", round(col("dsir_logw"), 6))
          Dsir.keepAboveQuantile(scored, "dsir_logw", 0.2)
            .filter(col("keep")).count()
        }
        // index lifecycle split (the IvfIndex probe shape): one persisted
        // build — O(vocab) df rollup dominates; this corpus's vocabulary
        // is pathologically per-doc-unique (~30 terms/doc · n docs), the
        // worst case for an inverted index; Zipfian real text is far
        // smaller — then per-batch search cost on the warm index
        val bmIdx = Bm25.build(docs, "doc_id", "text").persist()
        phase("bm25_build_persist") {
          bmIdx.postings.count() + bmIdx.dfs.count() + bmIdx.stats.count()
        }
        // 100 bag-of-3 queries drawn from every n/100-th document's own
        // filler vocabulary (guaranteed postings hits)
        def bmQueries(off: Long) = docs.filter(col("doc_id") % (n / 100) === off)
          .select(col("doc_id").as("query_id"),
            explode(slice(graft.text.TextFunctions.tokensLower(col("text")),
              3, 3)).as("term"))
        // batch1 carries two corpus-wide tokens per query ("begins"/
        // "here" from the fixed prefix) → Σ df ≈ 10⁸ (query, doc) pairs,
        // the inherent stopword bound; batch2 runs the same queries under
        // the df cut, which drops exactly those two terms
        phase("bm25_100q_stopword_bound")(
          Bm25.search(bmIdx, bmQueries(1), "query_id", "term", k = 10).count())
        phase("bm25_100q_dfcut")(
          Bm25.search(bmIdx, bmQueries(1), "query_id", "term", k = 10,
            maxDfFrac = 0.001).count())
        // on-storage serving: postings partitioned by term-hash bucket;
        // a batch's scan prunes to its terms' buckets at planning time
        val idxDir = java.nio.file.Files.createTempDirectory("bm25idx").toString
        phase("bm25_write_disk_index") {
          Bm25.writeIndex(bmIdx, idxDir, buckets = 256)
          spark.read.parquet(s"$idxDir/postings").count()
        }
        bmIdx.release()
        // depends on the write phase above — a SPARK_GRAFT_PHASES subset
        // must include both or neither
        phase("bm25_100q_disk_pruned") {
          val dIdx = Bm25.readIndex(spark, idxDir)
          Bm25.search(dIdx, bmQueries(1), "query_id", "term", k = 10,
            maxDfFrac = 0.001).count()
        }
        // SemDeDup over generated clustered embeddings: 16384 modes so a
        // 4096-centroid quantizer has real structure; avg cluster ~n/4096
        // keeps the cluster-local quadratic affordable by design
        val dim = 64
        val vecs = spark.range(n).select(col("id"),
          expr(s"""transform(sequence(0, ${dim - 1}), d ->
            sin((id % 16384) * 0.37 + d * 0.29) +
            cast((id * 2654435761 + d * 40503) % 1000 as double) / 4000.0)""")
            .as("v"))
          .localCheckpoint(true)
        // args(3) = "hier" switches to the two-level clusterer (k1=128,
        // k2=semK/128) — the large-k path where flat O(n·k·d) assignment
        // dominates
        val semHier = args.lift(3).contains("hier")
        phase(s"semdedup_train_assign_prune_k$semK" +
            (if (semHier) "_hier" else "")) {
          if (semHier) {
            val k1 = 128
            val hcb = graft.dedup.SemDedup.centroidsKMeansHier(vecs, "id", "v",
              k1 = k1, k2 = semK / k1, sampleN = 65536, maxIter = 5)
            graft.dedup.SemDedup.dedupHier(vecs, "id", "v", hcb,
                threshold = 0.995)
              .filter(!col("kept")).count()
          } else {
            val cb = graft.dedup.SemDedup.centroidsKMeans(vecs, "id", "v",
              k = semK, sampleN = 65536, maxIter = 5)
            graft.dedup.SemDedup.dedup(vecs, "id", "v", cb, threshold = 0.995)
              .filter(!col("kept")).count()
          }
        }
      case m => sys.error(s"unknown probe mode: $m (spanskew|deconskew|clean|banding|ivf|pq|timeseries|curation)")
    }

    // driver peak heap (the r10 pq probe's first 20M attempt DIED of a
    // full-GC storm that no per-phase number exposed — record the
    // high-water mark in every probe artifact). Max of instantaneous
    // totals from the sampler thread above; one final sample so a probe
    // shorter than the sampling period still reports a real reading.
    val peakHeap = math.max(peakHeapSampled.get,
      java.lang.management.ManagementFactory.getMemoryMXBean
        .getHeapMemoryUsage.getUsed)
    println(f"[probe] wall=${(System.nanoTime() - t0) / 1e9}%.1fs " +
      f"worstRatio=${listener.worstRatio()}%.1fx peakHeapGB=${peakHeap / 1e9}%.2f")
    println(listener.report())
    println(listener.shuffleReport())
    spark.stop()
  }
}
