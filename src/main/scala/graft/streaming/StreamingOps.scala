package graft.streaming

import graft.models.ArmaKalman
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming analogues of the batch operators (SURVEY §2.11:
  * the reference is batch-only; these are the natural streaming modes of
  * its aggregation shells — Time Slice playback ≈ a sliding event-time
  * window, time-period aggregation ≈ a tumbling window, sessionization ≈
  * `session_window`). Each takes a streaming DataFrame (`readStream`) and
  * returns a transformed streaming DataFrame for `writeStream`; the same
  * plans also run in batch mode (Spark's unified semantics), which is how
  * they are tested.
  */
object StreamingOps {

  /** Sliding event-time window aggregation with late-data watermark —
    * the streaming Time Slice playback (`owtimeslice.py:343-378`). */
  def slidingWindowAgg(
      stream: DataFrame,
      timeCol: String,
      valueCol: String,
      windowDuration: String,
      slideDuration: String,
      watermark: String = "1 hour"): DataFrame =
    stream
      .withWatermark(timeCol, watermark)
      .groupBy(window(col(timeCol), windowDuration, slideDuration))
      .agg(count(lit(1)).as("n"), avg(col(valueCol)).as("mean"),
        min(col(valueCol)).as("min"), max(col(valueCol)).as("max"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("n"), col("mean"), col("min"), col("max"))

  /** Tumbling calendar-period aggregation — streaming time-period
    * aggregation (`owmovingtransform.py:500-534`). */
  def tumblingPeriodAgg(
      stream: DataFrame,
      timeCol: String,
      valueCol: String,
      period: String,
      watermark: String = "1 hour"): DataFrame =
    slidingWindowAgg(stream, timeCol, valueCol, period, period, watermark)

  /** Event-time session windows per key with an inactivity gap —
    * the streaming form of the batch sessionize query. */
  def sessionAgg(
      stream: DataFrame,
      timeCol: String,
      keyCol: String,
      gap: String,
      watermark: String = "1 hour"): DataFrame =
    stream
      .withWatermark(timeCol, watermark)
      .groupBy(col(keyCol), session_window(col(timeCol), gap))
      .agg(count(lit(1)).as("n_events"))
      .select(col(keyCol),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"), col("n_events"))

  /** Streaming exact deduplication: keep the first document per content
    * digest inside the watermark horizon — `dropDuplicates` backed by the
    * streaming state store, the streaming form of `Dedup.exact`. State is
    * bounded by the watermark (`dropDuplicatesWithinWatermark` expires
    * digests once they age out), which is what makes this viable on an
    * unbounded corpus. */
  def streamingDedupExact(
      stream: DataFrame,
      timeCol: String,
      textCol: String,
      watermark: String = "1 hour"): DataFrame =
    stream
      .withColumn("__digest", md5(col(textCol).cast("binary")))
      .withWatermark(timeCol, watermark)
      .dropDuplicatesWithinWatermark("__digest")
      .drop("__digest")

  /** Streaming near-dedup: first document per SimHash signature within the
    * watermark — the deterministic 62-bit signature from the batch
    * pipeline ([[graft.dedup.Dedup.simhashFromHashes]]) as a streaming
    * duplicate key. Exact-signature collision is the cheapest streaming
    * tier of near-dup detection; [[streamingMinhashCandidates]] is the
    * band-key tier above it (true near-dups, not just identical
    * signatures). */
  def streamingDedupSimhash(
      stream: DataFrame,
      timeCol: String,
      textCol: String,
      watermark: String = "1 hour"): DataFrame = {
    import graft.dedup.Dedup
    import graft.text.TextFunctions
    stream
      .withColumn("__sig",
        Dedup.simhashFromHashes(
          Dedup.widenHash62All(TextFunctions.shingleHashes(col(textCol), 2))))
      .withWatermark(timeCol, watermark)
      .dropDuplicatesWithinWatermark("__sig")
      .drop("__sig")
  }

  /** Streaming corpus-wide paragraph dedup — the incremental form of
    * [[graft.dedup.Dedup.dedupParagraphs]]: pages explode into
    * paragraphs, each paragraph's ~60-bit fingerprint keys a one-bit
    * "seen" state, and the FIRST occurrence ever (earliest micro-batch;
    * (doc, pos) order within a batch, matching the batch operator's
    * min-struct winner) keeps — every later copy, in the same batch or
    * any later one, is flagged removed. Emits one verdict row per
    * paragraph (idCol, pos, paragraph, keep); page reassembly is a
    * per-batch stateless groupBy downstream of the sink, exactly like
    * the batch operator's tail. Space-trimmed paragraphs under
    * `minChars` bypass state and always keep (the batch exemption rule).
    * State is one boolean per distinct paragraph fingerprint — the same
    * asymptotic footprint as the batch winners table, with no timeout
    * because paragraph identity must not expire for first-wins to hold
    * corpus-wide.
    *
    * Arrival-order contract (spec-pinned): "first occurrence" means
    * first ARRIVAL — earliest micro-batch, then min (doc, pos) within
    * the batch. There is no event-time column and no watermark, so
    * shuffled or late arrival can move the WINNER relative to the batch
    * operator's global min-(doc, pos) rule, but the dedup invariant —
    * exactly one keeper per distinct adjudicated paragraph, under any
    * arrival order — always holds. Feed doc-ordered micro-batches when
    * winner parity with the batch operator matters. */
  final case class ParaVerdict(id: Long, pos: Int, p: String, keep: Boolean)

  def streamingDedupParagraphs(
      stream: DataFrame,
      idCol: String,
      textCol: String,
      sep: String = "\n",
      minChars: Int = 1): Dataset[ParaVerdict] = {
    import graft.text.TextFunctions
    require(sep.nonEmpty, "sep must be non-empty")
    val parts = stream.select(col(idCol).cast("long").as("id"),
      posexplode(split(coalesce(col(textCol), lit("")),
        java.util.regex.Pattern.quote(sep))).as(Seq("pos", "p")))
    val exempt = parts.filter(length(trim(col("p"))) < minChars)
      .select(col("id"), col("pos"), col("p"), lit(true).as("keep"))
      .as(Encoders.product[ParaVerdict])
    val adjudicated = parts.filter(length(trim(col("p"))) >= minChars)
      .select(TextFunctions.fingerprint(col("p")).as("k"),
        col("id"), col("pos"), col("p"))
      .as(Encoders.product[(Long, Long, Int, String)])
      .groupByKey(_._1)(Encoders.scalaLong)
      .flatMapGroupsWithState(
        OutputMode.Append(), GroupStateTimeout.NoTimeout)(
        (_: Long, rows: Iterator[(Long, Long, Int, String)],
         state: GroupState[Boolean]) => {
          val seen = state.exists
          if (!seen) state.update(true)
          val sorted = rows.toVector.sortBy(t => (t._2, t._3))
          sorted.iterator.zipWithIndex.map { case ((_, id, pos, p), i) =>
            ParaVerdict(id, pos, p, !seen && i == 0)
          }
        })(Encoders.scalaBoolean, Encoders.product[ParaVerdict])
    adjudicated.unionByName(exempt)
  }

  /** Streaming MinHash band-key near-duplicate detection — the tier above
    * exact-signature collision that the batch `Dedup.minhashCandidates`
    * bucket join provides offline. Each document's minhash signature is
    * split into the same deterministic LSH band keys as the batch path,
    * and candidate pairing is a watermarked stream-stream SELF-JOIN on the
    * band bucket with a time-range condition — the Spark-native form of
    * "pair me with every doc that shared a band inside the horizon": the
    * engine keeps both sides' state, expires it by watermark, and a
    * near-dup arriving in a LATER micro-batch still pairs with its
    * original from join state. Signature agreement is scored inline
    * (`zip_with`, codegen — no custom state), pairs below `threshold` are
    * dropped before the exchange, and the trailing
    * `dropDuplicatesWithinWatermark` (stream-stream join → dedup is a
    * supported stateful chain) emits each pair once, mirroring the batch
    * path's pair `distinct()` before scoring. */
  def streamingMinhashCandidates(
      stream: DataFrame,
      timeCol: String,
      idCol: String,
      textCol: String,
      numHashes: Int = 64,
      bands: Int = 8,
      threshold: Double = 0.5,
      watermark: String = "1 hour"): DataFrame = {
    import graft.dedup.Dedup
    import graft.text.TextFunctions
    require(bands >= 1 && bands <= numHashes && numHashes % bands == 0,
      s"bands must divide numHashes (got numHashes=$numHashes, bands=$bands)" +
        " — silent truncation would drop signature slots")
    val rowsPerBand = numHashes / bands
    val params = Dedup.minhashParams(numHashes)
    // the one signature format, array<int> (4 B per slot): each side's
    // signature rides in the join state for the full watermark horizon
    def side(sfx: String): DataFrame = stream
      .withColumn("__sig", Dedup.minhashSignature(
        TextFunctions.shingleHashes(col(textCol), 3), params))
      .select(explode(Dedup.lshBandKeys(col("__sig"), bands, rowsPerBand))
          .as(s"bucket$sfx"),
        col(idCol).cast("long").as(s"id$sfx"), col("__sig").as(s"sig$sfx"),
        col(timeCol).cast("timestamp").as(s"ts$sfx"))
      .withWatermark(s"ts$sfx", watermark) // AFTER the projection — selecting
      // a cast mints a new attribute and would drop the watermark tag
    val est = graft.functions.TextHash.slotMatchCount(col("sig_a"), col("sig_b"))
      .cast("double") / numHashes
    side("_a").join(side("_b"),
      col("bucket_a") === col("bucket_b") && col("id_a") < col("id_b") &&
        col("ts_b") >= col("ts_a") - expr(s"INTERVAL $watermark") &&
        col("ts_b") <= col("ts_a") + expr(s"INTERVAL $watermark"))
      .withColumn("est_jaccard", est)
      .filter(col("est_jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("est_jaccard"), col("ts_b"))
      .dropDuplicatesWithinWatermark("id_a", "id_b")
  }

  /** Streaming screen of arriving documents against a STATIC
    * [[graft.dedup.Dedup.MinhashIndex]] — the stream-static form of
    * [[graft.dedup.Dedup.minhashSearch]] and the production shape for
    * deduping a live crawl against an indexed corpus: each arriving
    * doc's signature and band keys are scan-stage expressions, candidate
    * pairing is a STATELESS stream-static equi-join on the band bucket
    * (no join state at all — the static side is the index), rescoring is
    * a second stream-static join to the index's sig table, and the
    * trailing `dropDuplicatesWithinWatermark` emits each (new, ref) pair
    * once (a doc sharing several bands with its match would otherwise
    * emit per band). Persist the index ([[graft.dedup.Dedup.MinhashIndex.persist]])
    * so every micro-batch joins against in-memory tables.
    *
    * Late-data contract (spec-pinned): arrival order does NOT matter
    * within the watermark horizon — the joins are stateless per row, so
    * an out-of-order doc still screens, and a re-arrival of the same
    * (new, ref) pair inside the horizon is suppressed. A row whose event
    * time has fallen BEYOND the watermark is dropped by the stateful
    * dedup before the sink; docs that can arrive later than the horizon
    * (backfills, takedown re-crawls) go through the batch
    * [[graft.dedup.Dedup.minhashSearch]] instead. */
  def streamingMinhashIndexScreen(
      stream: DataFrame,
      timeCol: String,
      idCol: String,
      textCol: String,
      index: graft.dedup.Dedup.MinhashIndex,
      threshold: Double = 0.5,
      watermark: String = "1 hour"): DataFrame = {
    import graft.dedup.Dedup
    val params = Dedup.minhashParams(index.numHashes)
    // the stream side signs into the index's one format, array<int>
    // (SlotMatchCountExpr rejects any other operand type at analysis)
    val banded = stream
      .withColumn("__sig", Dedup.minhashSignature(
        index.shingleHashesOf(col(textCol)), params))
      .select(
        explode(Dedup.lshBandKeys(col("__sig"), index.bands,
          index.numHashes / index.bands)).as("bucket"),
        col(idCol).cast("long").as("id_new"), col("__sig").as("sig_n"),
        col(timeCol).cast("timestamp").as("__ts"))
      .withWatermark("__ts", watermark)
    val est = graft.functions.TextHash.slotMatchCount(col("sig_n"), col("sig_r"))
      .cast("double") / index.numHashes
    banded
      .join(index.banded.select(col("bucket"), col("id").as("id_ref")),
        Seq("bucket"))
      .join(index.sigs.select(col("id").as("id_ref"), col("sig").as("sig_r")),
        Seq("id_ref"))
      .withColumn("est_jaccard", est)
      .filter(col("est_jaccard") >= threshold)
      .select(col("id_new"), col("id_ref"), col("est_jaccard"), col("__ts"))
      .dropDuplicatesWithinWatermark("id_new", "id_ref")
  }

  /** Streaming cluster keep-decision — the tier the batch pipeline gets
    * from `connectedComponents` + canonical keep (survivor = smallest id
    * per near-dup cluster): a watermark-bounded MIN-ID CARRY per LSH band
    * bucket. Every arriving document lands in its `bands` deterministic
    * band buckets (the same keys as [[streamingMinhashCandidates]] and
    * the batch bucket join); each bucket's state is one long — the
    * smallest id seen inside the event-time horizon — updated by
    * `flatMapGroupsWithState` and expired by an event-time timeout, so
    * state stays bounded on an unbounded corpus. A new canonical is
    * emitted only when a bucket's min changes (Update mode), so the
    * FINAL canonical of a bucket is the MIN over its emissions, and the
    * survivor set is the distinct final canonicals — for a cluster whose
    * members share a band bucket (near-dups share most bands by
    * construction), that is exactly the batch rule: the smallest id
    * survives, regardless of arrival order.
    *
    * Documented approximation vs batch: clusters connected only through
    * CHAINS of pairwise-band-disjoint members (A~B, B~C, A and C sharing
    * no bucket) can keep one survivor per sub-cluster — transitive
    * closure needs the offline `connectedComponents` pass; this tier
    * covers the common case (members of a near-dup cluster share
    * buckets) incrementally. [[compactKeepDecisions]] is that offline
    * pass, packaged: run it periodically over the accumulated candidate
    * pair store and the divergence closes (spec pins the two-band split
    * case on both tiers). */
  final case class KeepState(minId: Long)
  final case class BucketCanonical(bucket: Long, canonicalId: Long)

  def streamingCanonicalKeep(
      stream: DataFrame,
      timeCol: String,
      idCol: String,
      textCol: String,
      numHashes: Int = 64,
      bands: Int = 8,
      watermark: String = "1 hour"): Dataset[BucketCanonical] = {
    import graft.dedup.Dedup
    import graft.text.TextFunctions
    require(bands >= 1 && bands <= numHashes && numHashes % bands == 0,
      s"bands must divide numHashes (got numHashes=$numHashes, bands=$bands)" +
        " — silent truncation would drop signature slots")
    val rowsPerBand = numHashes / bands
    val params = Dedup.minhashParams(numHashes)
    val banded = stream
      .withColumn("__sig", Dedup.minhashSignature(
        TextFunctions.shingleHashes(col(textCol), 3), params))
      .select(col(timeCol).cast("timestamp").as("ts"),
        col(idCol).cast("long").as("id"),
        explode(Dedup.lshBandKeys(col("__sig"), bands, rowsPerBand)).as("bucket"))
      .withWatermark("ts", watermark) // after the projection (see above)
      .as(Encoders.product[(java.sql.Timestamp, Long, Long)])
    banded
      .groupByKey(_._3)(Encoders.scalaLong)
      .flatMapGroupsWithState(
        OutputMode.Update(), GroupStateTimeout.EventTimeTimeout)(
        (bucket: Long, rows: Iterator[(java.sql.Timestamp, Long, Long)],
         state: GroupState[KeepState]) => {
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val prev = state.getOption.map(_.minId)
            var mn = prev.getOrElse(Long.MaxValue)
            rows.foreach { case (_, id, _) => if (id < mn) mn = id }
            state.update(KeepState(mn))
            // expire the bucket once the watermark passes its horizon
            state.setTimeoutTimestamp(
              state.getCurrentWatermarkMs() + 1, watermark)
            if (prev.contains(mn)) Iterator.empty
            else Iterator.single(BucketCanonical(bucket, mn))
          }
        })(Encoders.product[KeepState], Encoders.product[BucketCanonical])
  }

  /** Periodic COMPACTION for the streaming keep tier: batch transitive
    * closure over the accumulated candidate-pair store (the sink of
    * [[streamingMinhashCandidates]]) → (id, component, keep). This is
    * the pass that closes [[streamingCanonicalKeep]]'s documented
    * divergence: a cluster connected only through chains of
    * band-disjoint members (A~B, B~C, A∩C buckets = ∅) collapses to ONE
    * survivor under the batch min-id rule. Run it offline every N
    * micro-batches (or at horizon expiry) over however much pair history
    * the policy retains; between compactions the incremental tier's
    * per-bucket decision stands. Scale shape is inherited from
    * [[graft.dedup.Dedup.connectedComponents]] (salted min-label
    * propagation + pointer jumping). */
  def compactKeepDecisions(
      pairs: DataFrame,
      idACol: String = "id_a",
      idBCol: String = "id_b"): DataFrame = {
    graft.dedup.Dedup.connectedComponents(pairs, idACol, idBCol)
      .withColumn("keep", col("id") === col("component"))
  }

  /** The incremental-tier + periodic-compaction loop, WIRED (VERDICT r6
    * task 6): a `foreachBatch` sink for the [[streamingMinhashCandidates]]
    * pair stream that appends each micro-batch to the accumulated pair
    * store (a parquet directory — replace with a table in production) and
    * re-runs [[compactKeepDecisions]] over the WHOLE store every
    * `compactEvery` micro-batches, handing the corrected
    * (id, component, keep) frame to `onCompaction` (publish it to the
    * serving layer there; it supersedes the per-bucket incremental
    * decisions until the next tick). Between ticks the incremental tier
    * stands — the standard incremental + periodic-compaction design.
    * Start the returned writer with `.start()` and stop it like any
    * streaming query. */
  def compactingPairSink(
      pairs: DataFrame,
      storePath: String,
      compactEvery: Int,
      onCompaction: DataFrame => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    require(compactEvery >= 1, s"compactEvery must be positive: $compactEvery")
    pairs.writeStream.outputMode("append").foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        batch.select("id_a", "id_b").write.mode("append").parquet(storePath)
        if ((batchId + 1) % compactEvery == 0) {
          val store = batch.sparkSession.read.parquet(storePath)
          onCompaction(compactKeepDecisions(store))
        }
    }
  }

  /** Streaming sequence packing — the incremental form of
    * [[graft.pipeline.Packing.packSequences]]: per shard, an O(1) state
    * (the running token offset) lays each arriving document's tokens
    * end-to-end and emits its (seq_id, doc_offset, seq_offset, n_tokens)
    * spans as they become known, so fixed-size training sequences stream
    * out while the corpus is still arriving. Documents are packed in
    * doc-id order WITHIN each micro-batch (sorted before folding) and in
    * arrival order across batches; sequence ids are per-shard. Zero-token
    * documents emit nothing, exactly like the batch path. */
  final case class PackState(nextStart: Long)
  final case class PackedSpan(shard: Long, docId: Long, seqId: Long,
      docOffset: Long, seqOffset: Long, nTokens: Long)

  def streamingPackSequences(
      stream: DataFrame,
      shardCol: String,
      idCol: String,
      tokCol: String,
      budget: Long): Dataset[PackedSpan] = {
    require(budget > 0, s"budget must be positive, got $budget")
    val typed = stream.select(
      col(shardCol).cast("long").as("shard"),
      col(idCol).cast("long").as("docId"),
      col(tokCol).cast("long").as("tok"))
      .as(Encoders.product[(Long, Long, Long)])
    typed
      .groupByKey(_._1)(Encoders.scalaLong)
      .flatMapGroupsWithState(
        OutputMode.Append(), GroupStateTimeout.NoTimeout)(
        (shard: Long, rows: Iterator[(Long, Long, Long)],
         state: GroupState[PackState]) => {
          var start = state.getOption.map(_.nextStart).getOrElse(0L)
          val out = rows.toSeq.sortBy(_._2).iterator
            .filter(_._3 > 0)
            .flatMap { case (_, id, tok) =>
              val docStart = start
              start += tok
              graft.pipeline.Packing.spanTuples(tok, docStart, budget)
                .map { case (s, dOff, sOff, n) =>
                  PackedSpan(shard, id, s, dOff, sOff, n)
                }
            }.toVector
          state.update(PackState(start))
          out.iterator
        })(Encoders.product[PackState], Encoders.product[PackedSpan])
  }

  /** Per-key incremental running statistics via arbitrary stateful
    * processing (`flatMapGroupsWithState` — the brief's custom-state
    * primitive): Welford count/mean/variance folded across micro-batches.
    * Emits one updated row per key per batch; the state is O(1) per key
    * regardless of stream length. */
  final case class RunningState(n: Long, mean: Double, m2: Double)
  final case class RunningStats(key: Long, n: Long, mean: Double, variance: Double)

  def statefulRunningStats(
      stream: DataFrame,
      keyCol: String,
      valueCol: String): Dataset[RunningStats] = {
    val typed = stream.select(
      col(keyCol).cast("long").as("key"), col(valueCol).cast("double").as("v"))
      .as(Encoders.product[(Long, Double)])
    typed
      .groupByKey(_._1)(Encoders.scalaLong)
      .flatMapGroupsWithState(
        OutputMode.Update(), GroupStateTimeout.NoTimeout)(
        (key: Long, rows: Iterator[(Long, Double)],
         state: GroupState[RunningState]) => {
          var st = state.getOption.getOrElse(RunningState(0L, 0.0, 0.0))
          rows.foreach { case (_, v) =>
            val n1 = st.n + 1
            val delta = v - st.mean
            val mean1 = st.mean + delta / n1
            st = RunningState(n1, mean1, st.m2 + delta * (v - mean1))
          }
          state.update(st)
          Iterator.single(RunningStats(key, st.n, st.mean,
            if (st.n == 0) Double.NaN else st.m2 / st.n))
        })(Encoders.product[RunningState], Encoders.product[RunningStats])
  }

  /** Per-key incremental fixed-parameter ARMA forecasting — the streaming
    * twin of [[graft.models.PerSeries.armaForecastFixedByKey]] (the q52
    * fan-out). It folds the one ARMA Kalman filter behind
    * `Arima.fitFixed`, [[graft.models.ArmaKalman]], across micro-batches
    * via `flatMapGroupsWithState` with NO refit per batch: the per-key
    * state is O(m²) — (a, P, Σv²/F, n) plus the last p observations and
    * the last q innovations. The state space (T, R·Rᵀ, the stationary P₀)
    * is built once on the driver; executors run only the filter's plain
    * scalar loops (no BLAS — the q87 FMA determinism rule). An observation
    * whose F is not positive is skipped. After each batch every touched
    * key emits its `steps`-ahead forecast/CI from the post-batch state by
    * `ArmaKalman.forecast` and `forecastSe`, as `Arima.predict` does,
    * matching a from-scratch batch `fitFixed` on the accumulated prefix
    * (differential spec, 1e-9). d = 0, the q52 surface. */
  final case class ArmaKfState(a: Array[Double], pMat: Array[Double],
      sumV2F: Double, n: Long, lastW: Array[Double], lastE: Array[Double])
  final case class ArmaForecastRow(key: Long, n: Long, step: Int,
      forecast: Double, ciLow: Double, ciHigh: Double)

  def streamingArmaForecastFixed(
      stream: DataFrame,
      keyCol: String, timeCol: String, valueCol: String,
      phi: Array[Double], theta: Array[Double], mu: Double,
      steps: Int, alpha: Double = 0.05): Dataset[ArmaForecastRow] = {
    val p = phi.length; val q = theta.length
    val space = new ArmaKalman(phi, theta)
    val z = new org.apache.commons.math3.distribution.NormalDistribution(0, 1)
      .inverseCumulativeProbability(1 - alpha / 2)
    // newest-first ring of the last k values
    def push(ring: Array[Double], k: Int, x: Double): Unit = if (k > 0) {
      System.arraycopy(ring, 0, ring, 1, k - 1)
      ring(0) = x
    }

    val typed = stream.select(
      col(keyCol).cast("long").as("key"),
      col(timeCol).cast("double").as("t"),
      col(valueCol).cast("double").as("v"))
      .as(Encoders.product[(Long, Double, Double)])
    typed
      .groupByKey(_._1)(Encoders.scalaLong)
      .flatMapGroupsWithState(
        OutputMode.Update(), GroupStateTimeout.NoTimeout)(
        (key: Long, rows: Iterator[(Long, Double, Double)],
         state: GroupState[ArmaKfState]) => {
          val old = state.getOption.getOrElse {
            val kf = space.start()
            ArmaKfState(kf.a, kf.pMat, 0.0, 0L,
              new Array[Double](math.max(p, 1)), new Array[Double](math.max(q, 1)))
          }
          val kf = space.resume(old.a.clone(), old.pMat.clone())
          val (lastW, lastE) = (old.lastW.clone(), old.lastE.clone())
          var sumV2F = old.sumV2F
          var n = old.n
          rows.toSeq.sortBy(_._2).foreach { case (_, _, raw) =>
            val x = raw - mu
            val f = kf.f
            if (f > 0 && !f.isNaN) {
              val v = kf.step(x)
              push(lastW, p, x)
              push(lastE, q, v)
              sumV2F += v * v / f
              n += 1
            }
          }
          state.update(ArmaKfState(kf.a, kf.pMat, sumV2F, n, lastW, lastE))
          if (n == 0) Iterator.empty
          else {
            def history(ring: Array[Double], k: Int) =
              ring.take(math.min(n, k.toLong).toInt).reverse
            val fw = ArmaKalman.forecast(phi, theta, history(lastW, p), history(lastE, q), steps)
            val se = space.forecastSe(kf.pMat, sumV2F / n, steps, 0)
            Iterator.tabulate(steps) { h =>
              val f = fw(h) + mu
              ArmaForecastRow(key, n, h + 1, f, f - z * se(h), f + z * se(h))
            }
          }
        })(Encoders.product[ArmaKfState], Encoders.product[ArmaForecastRow])
  }

  final case class DsirScoredRow(id: Long, ts: java.sql.Timestamp,
      n_feats: Long, dsir_logw: Double, keep: Boolean)

  /** Streaming DSIR quality gate: score each ARRIVING document against a
    * STATIC weight table trained offline ([[graft.pipeline.Dsir
    * .bucketWeightsWhere]]) and emit a keep/drop verdict — the live
    * twin of the batch importance-resampling selection, for filtering an
    * ingest stream before it lands.
    *
    * The weight table is ≤ buckets+1 rows by construction, so it is
    * collected ONCE and broadcast; scoring is then a stateless scan-side
    * fold over the document's hashed n-gram features (the same
    * [[graft.functions.TextHash.ngramBucketsRow]] kernel as the batch
    * feature map) — no stream aggregation state, no watermark, no
    * shuffle; the per-document sum never crosses rows. Buckets the
    * training corpora never saw take the out-of-vocabulary weight (the
    * `bucket = -1` row) — the batch scorer never needs it because raw
    * docs' buckets are in the raw counts by construction, but a stream
    * scores UNSEEN documents. Documents with no features (null/empty
    * text) emit `keep = false`. */
  def streamingDsirScore(stream: DataFrame, idCol: String, timeCol: String,
      textCol: String, weights: DataFrame, buckets: Int,
      keepAbove: Double): DataFrame = {
    val spark = stream.sparkSession
    import spark.implicits._
    val wMap = weights.collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val oov = wMap.getOrElse(-1L, 0.0)
    val bc = spark.sparkContext.broadcast(wMap)
    stream.select(col(idCol).cast("long").as("id"),
        col(timeCol).cast("timestamp").as("ts"),
        coalesce(col(textCol), lit("")).as("text"))
      .as[(Long, java.sql.Timestamp, String)]
      .mapPartitions { it =>
        val m = bc.value
        it.map { case (id, ts, text) =>
          val u = org.apache.spark.unsafe.types.UTF8String.fromString(text)
          var s = 0.0
          var n = 0L
          var g = 1
          while (g <= 2) {
            val arr = graft.functions.TextHash.ngramBucketsRow(u, g, buckets)
            var i = 0
            while (i < arr.numElements()) {
              s += m.getOrElse(arr.getLong(i), oov)
              n += 1
              i += 1
            }
            g += 1
          }
          DsirScoredRow(id, ts, n, s, n > 0 && s >= keepAbove)
        }
      }.toDF()
  }
}
