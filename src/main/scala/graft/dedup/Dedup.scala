package graft.dedup

import graft.text.TextFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import scala.util.DynamicVariable

/** Deduplication operators for large-scale document corpora: exact,
  * MinHash+LSH, SimHash, and n-gram Jaccard. Designed for the 100 TB
  * regime:
  *
  *  - exact dedup is a hash aggregate on a digest — map-side partials, one
  *    shuffle of (digest, id) pairs only, never the document bodies;
  *  - MinHash/LSH shuffles only (band-signature, id) pairs; candidate pairs
  *    are generated per bucket, so the quadratic step is confined to
  *    bucket-local data (the classic shingle → minhash → band → bucket-join
  *    pipeline);
  *  - the minhash/simhash hashing is deterministic integer arithmetic
  *    evaluated by native single-loop Catalyst expressions
  *    ([[graft.functions.TextHash]]) — no UDFs, engine-portable (the
  *    DuckDB oracle replays the exact same recurrences).
  */
object Dedup {

  /** Exact duplicate groups keyed by content digest. Output: one row per
    * distinct content with the canonical (minimum) id and the duplicate
    * count. Never shuffles the text itself at scale — group on the digest,
    * carry only ids. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol).cast("binary")).as("digest"))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("n_dups"))

  /** Normalized-key dedup: digest of the first `nTokens` lowercased tokens —
    * catches near-boilerplate duplicates that differ only in a suffix. */
  def normalizedKey(textCol: Column, nTokens: Int): Column =
    concat_ws(" ", slice(TextFunctions.tokensLower(textCol), 1, nTokens))

  /** Seeded affine-permutation params (a_j, b_j) — generated once on the
    * driver so BOTH engines (Spark expressions and the SQL oracle) use the
    * identical constants. */
  def minhashParams(numHashes: Int, seed: Long = 909090L): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(numHashes)((1L + rnd.nextInt(Int.MaxValue - 1).toLong,
      rnd.nextInt(Int.MaxValue).toLong))
  }

  /** MinHash signature, `array<int>`: slot j = min over the document's
    * shingle-hash set of `(a_j·h + b_j) mod P` — classic affine universal
    * hashing over the [[graft.text.TextFunctions.shingleHashes]] base
    * hashes. Pure integer expressions (cross-engine deterministic),
    * evaluated in the scan stage. The one signature format: each slot is
    * computed in long and lies in (−2³¹, 2³¹−1] (the sentinel P is
    * `Int.MaxValue`), so the int store is exact, and the band keys, the
    * index store, the rescore exchanges and the streaming pair joins all
    * read it directly, at 4 B per slot.
    *
    * Single fold over the shingles: the shingle subtree is evaluated ONCE
    * per row. The dual formulation — per-slot `array_min(transform(...))` —
    * embeds the shingle expression inside the slot lambda, and Spark's
    * higher-order functions re-evaluate lambda subtrees per element
    * (CollapseProject re-inlines any pre-projection), which made the
    * tokenizer pipeline run `numHashes` times per row: ~70× slower. */
  def minhashSignature(shingleHashes: Column, params: Seq[(Long, Long)]): Column =
    graft.functions.TextHash.minhashSig(shingleHashes, params)

  /** LSH band keys: the signature split into `bands` bands of `rowsPerBand`
    * slots, each band folded to one bucket key
    * (`key = fold(acc·31 + slot) mod P`, seeded with the band index). Docs
    * sharing any band key are candidate near-duplicates. Native
    * single-loop expression ([[graft.functions.BandKeysExpr]]).
    *
    * NULL signature → null result (null-intolerant, like every hash
    * expression here). The HOF twin instead yields an ARRAY of `bands`
    * nulls (its outer `transform` iterates the non-null band sequence) —
    * a representational difference only: exploded null buckets never
    * match an equi-join, so both forms produce ZERO candidate pairs for
    * a null signature (spec-pinned). */
  def lshBandKeys(signature: Column, bands: Int, rowsPerBand: Int): Column =
    graft.functions.TextHash.bandKeys(signature, bands, rowsPerBand)

  /** MinHash+LSH candidate pairs: explode band keys, self-join per bucket.
    * Returns (id_a, id_b, est_jaccard) with id_a < id_b; `est_jaccard` is
    * the signature agreement fraction. The bucket join shuffles only
    * (bucket, id, signature) — documents never move.
    *
    * `maxBucket` caps the per-band bucket size: a corpus that is mostly
    * COPIES of few documents puts thousands of identical signatures in
    * the same buckets, and the pair join goes quadratic in the copy
    * count (measured: a 2M-row corpus with ~1k distinct texts emits
    * ~2·10⁹ candidate pairs and spills the cluster). Buckets above the
    * cap are dropped — their members are near-identical by construction
    * and the EXACT-dedup tier ([[exact]]/[[normalizedKey]], which is
    * linear) already groups them; banding is for the near-dup tail.
    *
    * SIZE THE CAP IN PAIRS, NOT MEMBERS: a bucket of m members emits
    * m(m−1)/2 pairs, so the join cost a cap admits is quadratic in it —
    * the original 100000 default let one just-under-cap bucket emit
    * 5·10⁹ pairs (r8 measured: a 2M-doc corpus whose 2% identical-stub
    * stratum formed 40k-member buckets — UNDER that cap — wrote >50 GB
    * of shuffle before dying; the same corpus at 20M docs sailed past
    * because 400k-member buckets were over it). The 2000 default bounds
    * any bucket to ≤2·10⁶ pairs; raise it only with a matching pair
    * budget: maxBucket ≈ sqrt(2 × affordable_pairs_per_bucket).
    *
    * The RESULT is lazy: every gate caller consumes the pairs once
    * ([[connectedComponents]] or a filter), and a caller that iterates
    * them can `localCheckpoint` the frame itself. The internal signature
    * frame is an EAGER localCheckpoint (see the deadlock note at the call
    * site), so the scan+hash pipeline runs exactly once (all three
    * internal consumers read the blocks) and the blocks are released by
    * the ContextCleaner when the plan is dropped — no unmanaged persist.
    * The pairs are non-resilient to executor loss (checkpoint blocks
    * don't recompute); that is the price of not re-running the signature
    * scan. */
  def minhashCandidates(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleHashesOf: Column => Column = TextFunctions.shingleHashes(_, 3),
      numHashes: Int = 64,
      bands: Int = 8,
      maxBucket: Long = 2000L): DataFrame = {
    require(bands >= 1 && bands <= numHashes && numHashes % bands == 0,
      s"bands must divide numHashes (got numHashes=$numHashes, bands=$bands)" +
        " — silent truncation would drop signature slots")
    val rowsPerBand = numHashes / bands
    val params = minhashParams(numHashes)
    // materialize the shingle array once per row — inlining it into the
    // signature expression would re-evaluate the whole tokenize/distinct
    // pipeline for every one of the `numHashes` slots
    // EAGER localCheckpoint: the signature frame is consumed three times
    // (banding + both sides of the pair-scoring join); the blocks store
    // once and the ContextCleaner frees them when the plan is dropped —
    // the r6 version used an unmanaged persist here (fast but leaked
    // until LRU), the first r7 fix unpersisted at build time (cache never
    // live, a 3x signature recompute). Eager rather than lazy because a
    // LAZY checkpoint consumed under AQE is a deadlock hazard: a
    // broadcast-exchange thread materializing a small join side whose
    // lineage contains the unmaterialized checkpoint runs doCheckpoint
    // (global RDDCheckpointData$ lock) while the dag-scheduler computes
    // partitions of the same RDDs (RDD monitor) — the lock-order
    // inversion observed as a hard JVM deadlock in cosineCandidates'
    // equivalent shape. Eager costs one synchronous job at build time;
    // the signature scan itself still runs exactly once either way.
    val sigs = df
      .select(col(idCol).as("id"),
        minhashSignature(shingleHashesOf(col(textCol)), params).as("sig"))
      .localCheckpoint(true)
    val banded0 = sigs.select(col("id"),
      explode(lshBandKeys(col("sig"), bands, rowsPerBand)).as("bucket"))
    // flood cap before the self-join (see dropOverCapBuckets for shape)
    val banded = dropOverCapBuckets(banded0, Seq("bucket"), maxBucket)
    val a = banded.select(col("bucket"), col("id").as("id_a"))
    val b = banded.select(col("bucket"), col("id").as("id_b"))
    // dedupe pairs BEFORE scoring: docs sharing many bands would otherwise
    // be scored once per shared band (the quadratic-ish step must touch
    // each candidate pair exactly once)
    val pairs = a.join(b, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    val sa = sigs.select(col("id").as("id_a"), col("sig").as("sig_a"))
    val sb = sigs.select(col("id").as("id_b"), col("sig").as("sig_b"))
    pairs.join(sa, "id_a").join(sb, "id_b")
      .select(col("id_a"), col("id_b"),
        (graft.functions.TextHash.slotMatchCount(col("sig_a"), col("sig_b"))
          .cast("double") / numHashes).as("est_jaccard"))
  }

  /** Drop every row of band buckets holding more than `maxBucket` members
    * — the flood cap shared by the minhash/simhash candidate generators.
    * Shape matters at scale: a groupBy count (map-side combine absorbs a
    * 10⁹-member boilerplate bucket to one partial per task) plus a
    * left-anti join against the tiny over-cap list, which AQE broadcasts
    * when small and skew-splits otherwise. The previous window-count
    * formulation sorted the ENTIRE hot bucket in one partition — windows
    * get no AQE skew mitigation, and the 20M indexscreen probe measured
    * its build stage at a 7× max/median straggler. */
  private def dropOverCapBuckets(banded: DataFrame, keyCols: Seq[String],
      maxBucket: Long): DataFrame = {
    val over = banded.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("__bn"))
      .filter(col("__bn") > maxBucket)
      .select(keyCols.map(col): _*)
    banded.join(over, keyCols, "left_anti")
  }

  /** A built MinHash near-dup index over a reference corpus — the
    * incremental-ingestion tier of [[minhashCandidates]]: build once over
    * the existing corpus, then screen each ARRIVING batch against it
    * without ever re-hashing or re-banding the reference side (the batch
    * twin of [[graft.streaming.StreamingOps.streamingMinhashCandidates]],
    * which holds the same banded state in a stream checkpoint).
    *
    * Production lifecycle (the [[graft.similarity.IvfIndex.Index]]
    * contract): [[persist]] pins and materializes both frames, after
    * which every [[minhashSearch]] plans in-memory table scans on the
    * reference side — per-batch cost is the batch scan plus the band
    * join. [[release]] retires it. Unpersisted handles stay valid (the
    * gate query keeps end-to-end build+search semantics).
    *
    * Scale shape: the index is (bucket, id) + (id, sig) — ~32 B and
    * ~270 B per reference doc respectively, never the document bodies.
    * The band join shuffles the BATCH side by bucket; the reference side
    * is already bucket-keyed, and over-cap buckets (boilerplate floods)
    * were dropped at build time, so a hot bucket cannot quadratic-blow a
    * batch screen. */
  final case class MinhashIndex(
      numHashes: Int, bands: Int, maxBucket: Long,
      shingleHashesOf: Column => Column,
      sigs: DataFrame, banded: DataFrame, counts: DataFrame) {
    /** Pin + materialize the banded and counts frames (`sigs` is already
      * materialized checkpoint blocks from build time); returns a NEW
      * handle whose `banded` is the pinned bucket-laid frame — the
      * returned handle MUST replace this one. Discarding the result
      * leaves the laid frame pinned with no handle able to unpin it
      * (`release()` on the pre-persist handle only reaches the original
      * frames), so the call shape is always
      * `idx = idx.persist()` / … / `idx.release()`.
      * This is also what AMORTIZES the incremental lifecycle:
      * [[append]]/[[remove]] build their outputs as (old frame) ∪
      * (batch-bound delta), so when the old frames are pinned, producing
      * and consuming the next index costs the delta plus cache scans —
      * persist the appended index and [[release]] the old one when
      * cutting over. An unpersisted chain stays correct but recomputes
      * its lineage per consumption. */
    def persist(): MinhashIndex = {
      // pin the banded store HASH-PARTITIONED ON ITS JOIN KEY: the
      // cached layout's outputPartitioning satisfies the screen join's
      // required distribution, so [[minhashSearch]] plans NO exchange on
      // the index side — only the arriving batch shuffles. Without this
      // the r11 50M probe measured 10.7 GB of shuffle PER SCREEN at a
      // 2M-doc batch (the full 800M-row banded store re-exchanged every
      // batch — index-bound, growing with the corpus); the one
      // build-time repartition amortizes across every screen the index
      // serves. Same content, physical layout only.
      val laid = banded.repartition(col("bucket"))
      laid.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      counts.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      laid.count()
      counts.count()
      copy(banded = laid)
    }
    /** Drop the pinned frames (no-op if never persisted). */
    def release(): Unit = { banded.unpersist(); counts.unpersist(); () }

    /** Fold a new batch into the index WITHOUT rebuilding — the write
      * half of the incremental-ingestion lifecycle (screen the batch via
      * [[minhashSearch]], then `append` the survivors; the next screen
      * sees them as reference docs). Returns a NEW index; `persist()` it
      * and `release()` this one when cutting over.
      *
      * Exactly rebuild-equivalent (spec-pinned): the over-cap rule is
      * "drop buckets whose COMBINED count exceeds `maxBucket`", and
      * per-bucket counts add across appends, so a bucket that crosses
      * the cap because of this batch is evicted from the OLD banded rows
      * too (`newlyOver` below) — `banded` stays identical to a from-
      * scratch build over the union, and a boilerplate flood arriving
      * incrementally is capped exactly as if it had arrived at build.
      *
      * Cost shape: the batch is hashed/banded once (scan-stage over the
      * arriving docs), and every join is keyed on the TOUCHED buckets —
      * a new row can only land in a bucket the batch banded into, and an
      * untouched bucket's count (hence cap status) cannot change — so
      * nothing index-sized shuffles or checkpoints: the counts table is
      * consumed by one broadcast semi and carried behind one broadcast
      * anti (8 B per distinct batch bucket), the old banded rows are
      * re-filtered only against the tiny newly-over-cap list, and only
      * batch-bound slices checkpoint. [[persist]] the appended index
      * (and [[release]] this one) to pin the unioned frames — that is
      * what keeps a LONG append chain's per-step cost at the delta. */
    def append(batch: DataFrame, idCol: String, textCol: String): MinhashIndex = {
      val params = minhashParams(numHashes)
      val newSigs = batch.select(col(idCol).as("id"),
        minhashSignature(shingleHashesOf(col(textCol)), params).as("sig"))
        .localCheckpoint(true)
      val newBandedRaw = newSigs.select(col("id"),
        explode(lshBandKeys(col("sig"), bands, numHashes / bands)).as("bucket"))
      // everything below is keyed on the TOUCHED buckets — a new row can
      // only land in a bucket the batch itself banded into, and an
      // untouched bucket's count (and cap status) cannot change, so the
      // index-sized counts table never joins, shuffles, or re-
      // checkpoints: it is consumed by one broadcast semi (old counts of
      // touched buckets) and carried forward behind one broadcast anti
      // (8 B per distinct batch bucket — the minhashSearch ref-id-prune
      // pattern). Only the batch-bound updated slice checkpoints.
      val newCounts = newBandedRaw.groupBy(col("bucket"))
        .agg(count(lit(1)).as("__new")).localCheckpoint(true)
      val oldTouched = counts
        .join(broadcast(newCounts.select(col("bucket"))), Seq("bucket"),
          "left_semi")
        .withColumnRenamed("__bn", "__old")
      val updated = newCounts.join(oldTouched, Seq("bucket"), "left")
        .select(col("bucket"),
          (coalesce(col("__old"), lit(0L)) + col("__new")).as("__bn"),
          coalesce(col("__old"), lit(0L)).as("__oldn"))
        .localCheckpoint(true)
      val touched = broadcast(updated.select(col("bucket")))
      val newlyOver = updated
        .filter(col("__bn") > maxBucket && col("__oldn") <= maxBucket)
        .select(col("bucket"))
      val overTouched = updated.filter(col("__bn") > maxBucket)
        .select(col("bucket"))
      val banded2 = banded.join(broadcast(newlyOver), Seq("bucket"), "left_anti")
        .unionByName(
          newBandedRaw.join(broadcast(overTouched), Seq("bucket"), "left_anti"))
        .select(col("id"), col("bucket"))
      val counts2 = counts.join(touched, Seq("bucket"), "left_anti")
        .unionByName(updated.select(col("bucket"), col("__bn")))
      MinhashIndex(numHashes, bands, maxBucket, shingleHashesOf,
        sigs.unionByName(newSigs), banded2, counts2)
    }

    /** Delete documents from the index — the inverse of [[append]],
      * completing the build / append / remove / screen lifecycle
      * (takedowns, re-crawl retractions). Rebuild-equivalent
      * (spec-pinned) with one asymmetric twist: removals can take a
      * flood bucket BACK UNDER the cap, and its surviving rows — dropped
      * at build — must be RESTORED. They are re-derived from the
      * surviving sig checkpoint (band keys are pure functions of the
      * sig), via a scan + broadcast semi-join on the newly-under list —
      * no shuffle of the index, but it IS an O(index) scan, so the path
      * runs only when a bucket actually un-crossed (`newlyUnder`
      * checked empty first — a driver action on a candidate-bound
      * frame). Plain removals are a broadcast anti-join on the removed
      * ids; buckets emptied entirely leave `counts` (as a rebuild's
      * groupBy would never produce them). */
    def remove(ids: DataFrame, idCol: String): MinhashIndex = {
      // raw id, matching build/append (`col(idCol).as("id")`): a cast here
      // would null out non-numeric string ids and silently no-op the delete
      val rm = ids.select(col(idCol).as("id")).distinct()
        .localCheckpoint(true)
      val bandKeys = explode(lshBandKeys(col("sig"), bands,
        numHashes / bands)).as("bucket")
      val removedBanded = sigs.join(broadcast(rm), Seq("id"), "left_semi")
        .select(col("id"), bandKeys)
      // same touched-bucket discipline as append: deltas are keyed on the
      // removed docs' buckets, the index-sized counts table is consumed
      // by one broadcast semi and carried behind one broadcast anti —
      // only the delete-bound updated slice checkpoints
      val delta = removedBanded.groupBy(col("bucket"))
        .agg(count(lit(1)).as("__d")).localCheckpoint(true)
      val updated = counts
        .join(broadcast(delta.select(col("bucket"))), Seq("bucket"),
          "left_semi")
        .join(delta, Seq("bucket"))
        .select(col("bucket"), (col("__bn") - col("__d")).as("__new"),
          col("__bn").as("__oldn"))
        .localCheckpoint(true)
      val sigs2 = sigs.join(broadcast(rm), Seq("id"), "left_anti")
      val newlyUnder = updated
        .filter(col("__oldn") > maxBucket && col("__new") <= maxBucket &&
          col("__new") > 0)
        .select(col("bucket")).localCheckpoint(true)
      val kept = banded.join(broadcast(rm), Seq("id"), "left_anti")
      val banded2 = (
        if (newlyUnder.isEmpty) kept
        else kept.unionByName(
          sigs2.select(col("id"), bandKeys)
            .join(broadcast(newlyUnder), Seq("bucket"), "left_semi")
            .select(col("id"), col("bucket")))
      ).select(col("id"), col("bucket"))
      val counts2 = counts
        .join(broadcast(delta.select(col("bucket"))), Seq("bucket"),
          "left_anti")
        .unionByName(updated.filter(col("__new") > 0)
          .select(col("bucket"), col("__new").as("__bn")))
      MinhashIndex(numHashes, bands, maxBucket, shingleHashesOf,
        sigs2, banded2, counts2)
    }

    /** Write the index durably as three parquet tables + a params row —
      * an incremental-crawl index must outlive the Spark application
      * (build once, screen/append across many jobs; the in-memory
      * [[persist]] covers only one). `save` materializes `counts` as a
      * side effect (lazy since build), so a saved-then-loaded index pays
      * no recount on its first [[append]]. The shingle feature map is
      * CODE, not data — [[Dedup.minhashIndexLoad]] takes it again and
      * must be given the same function the index was built with (the
      * signature arithmetic silently diverges otherwise; same contract
      * as every hash family here). */
    def save(path: String): Unit = {
      val spark = sigs.sparkSession
      sigs.write.mode("overwrite").parquet(s"$path/sigs")
      banded.write.mode("overwrite").parquet(s"$path/banded")
      counts.write.mode("overwrite").parquet(s"$path/counts")
      import spark.implicits._
      // sig_format 2 = array<int> signatures. Informational — load casts
      // the sigs column to array<int>, so v1 saves (array<long>, no
      // sig_format column) reload fine.
      Seq((numHashes, bands, maxBucket, 2)).toDF(
        "num_hashes", "bands", "max_bucket", "sig_format")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
    }
  }

  /** Reload a [[MinhashIndex.save]]d index. `shingleHashesOf` must be the
    * function the index was built with. The reloaded frames are plain
    * parquet scans — [[MinhashIndex.persist]] pins them as before.
    *
    * Format upgrade: a v1 save stored signatures as `array<long>`; the
    * live store is `array<int>` ([[minhashSignature]]). The scan
    * projection casts the sigs column to `array<int>` — a no-op on a v2
    * save, and exact on a v1 one, whose slots all lie in int range — so
    * the upgraded index screens/appends/saves exactly like a fresh build;
    * re-[[MinhashIndex.save]] to persist it in v2 form. */
  def minhashIndexLoad(spark: org.apache.spark.sql.SparkSession, path: String,
      shingleHashesOf: Column => Column = TextFunctions.shingleHashes(_, 3))
      : MinhashIndex = {
    val meta = spark.read.parquet(s"$path/meta").head()
    MinhashIndex(
      meta.getAs[Int]("num_hashes"), meta.getAs[Int]("bands"),
      meta.getAs[Long]("max_bucket"), shingleHashesOf,
      spark.read.parquet(s"$path/sigs")
        .select(col("id"), col("sig").cast("array<int>").as("sig")),
      spark.read.parquet(s"$path/banded"),
      spark.read.parquet(s"$path/counts"))
  }

  /** Build a [[MinhashIndex]] over `ref`. Same parameter semantics as
    * [[minhashCandidates]] (which remains the one-corpus self-join form);
    * the pair-cap note there applies to `maxBucket` here too. */
  def minhashIndex(
      ref: DataFrame, idCol: String, textCol: String,
      shingleHashesOf: Column => Column = TextFunctions.shingleHashes(_, 3),
      numHashes: Int = 64, bands: Int = 8,
      maxBucket: Long = 2000L): MinhashIndex = {
    require(bands >= 1 && bands <= numHashes && numHashes % bands == 0,
      s"bands must divide numHashes (got numHashes=$numHashes, bands=$bands)")
    val params = minhashParams(numHashes)
    // eager localCheckpoint, not .persist: the sigs subplan appears in a
    // search query BESIDE the banded cache, where the analyzer re-mints
    // its relation and the cache lookup MISSES — every screen then
    // recomputes (and at scale reshuffles) the full reference signature
    // table (measured: 947 MB/screen at 2M docs). Checkpoint blocks are
    // immune to that: the signature scan runs exactly once, at build.
    // Same non-resilience trade as minhashCandidates' sig checkpoint.
    // STORED as array<int>, the one signature format (4 B per slot):
    // signatures dominate index RAM (~26 GB at 100M docs measured), and
    // everything derived from the store — save/load parquet,
    // append/remove deltas, rescore payloads — carries the same ints.
    // STORED SERIALIZED (r14, VERDICT task 4): the r13 50M probe
    // measured 376 B/doc against a 256 B signature payload — the gap is
    // per-row JVM object structure (UnsafeRow wrapper + byte-array
    // headers), which SizeEstimator charges to every DESER block. A
    // MEMORY_AND_DISK_SER checkpoint stores rows packed in contiguous
    // buffers instead; the screens' sig scan pays one deserialization
    // pass, a scan-stage cost the rescore joins dominate anyway. Values
    // byte-identical either way — storage level only.
    val sigs = ref.select(col(idCol).as("id"),
      minhashSignature(shingleHashesOf(col(textCol)), params).as("sig"))
      .localCheckpoint(true,
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    val bandedRaw = sigs.select(col("id"),
      explode(lshBandKeys(col("sig"), bands, numHashes / bands)).as("bucket"))
    // canonical (id, bucket) order: using-joins reorder columns, and the
    // append/remove paths must produce union-compatible frames
    val banded = dropOverCapBuckets(bandedRaw, Seq("bucket"), maxBucket)
      .select(col("id"), col("bucket"))
    // lazy per-bucket counts over the sig checkpoint: the append() base.
    // Deliberately NOT materialized at build (the full count table is
    // O(docs·bands) rows; the first append pays the one recount instead,
    // and every later append inherits its checkpointed combined counts)
    val counts = bandedRaw.groupBy(col("bucket")).agg(count(lit(1)).as("__bn"))
    MinhashIndex(numHashes, bands, maxBucket, shingleHashesOf, sigs, banded,
      counts)
  }

  /** Screen a batch against a [[MinhashIndex]]: (id_new, id_ref,
    * est_jaccard) for every batch/reference pair sharing at least one
    * LSH band bucket. The batch's own internal duplicates are NOT
    * reported — run [[minhashCandidates]] on the batch for those. The
    * batch side gets the same per-bucket cap as the index so a
    * boilerplate flood in the arriving data cannot blow the join.
    *
    * One rule, from what the screen already measures: the batch's
    * signature checkpoint counts its n docs in the job that writes it,
    * and while the estimated shuffle scratch n × [[ScreenScratchBytesPerDoc]]
    * is under [[ScreenScratchMaxBytes]] the batch screens in ONE pass.
    * Past the bound (the r13 100M×2M probe died on ~13 GB of
    * single-screen scratch against 8.9 GB of free disk) the batch is
    * carved into the fewest deterministic id-hash slices whose estimate
    * is each under the bound, screened one after another: each slice's
    * result is eagerly checkpointed, and the shuffles that slice's own
    * plans wrote (the [[Bridge.shuffleIdsOf]] of each frame it
    * checkpointed) are deleted before the next slice starts (they are
    * recompute insurance a checkpoint never uses), so peak scratch is
    * one slice's worth and the screen leaves none of its shuffles
    * registered. Only those ids go: a shuffle that another query of the
    * same context registers while the screen runs is never touched
    * (spec-pinned). A doc's candidates depend only on its own bands and
    * the immutable index, so the slices union to the one-pass result,
    * with one care: the batch-side flood cap counts bucket members over
    * the WHOLE batch, once, and every slice anti-joins that list — a
    * flood split across slices would otherwise duck under a per-slice
    * cap (spec-pinned, flood included). The sliced side's rows are
    * gate-checked by q134, which lowers the bound through [[screenBounds]]
    * so its small batch slices; no benchmark workload has a batch past
    * the real bound, so what slicing costs against one pass on a large
    * batch is unmeasured.
    *
    * The streaming twin
    * ([[graft.streaming.StreamingOps.streamingMinhashIndexScreen]]) has
    * no slices: its micro-batch is the unit of scratch, so bound
    * per-screen scratch there by bounding the trigger
    * (`maxFilesPerTrigger`/`maxOffsetsPerTrigger`). */
  def minhashSearch(index: MinhashIndex, batch: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val bounds = screenBounds.value
    val params = minhashParams(index.numHashes)
    // eager localCheckpoint: consumed twice (banding + the scoring join);
    // see the deadlock note in minhashCandidates for why eager.
    // the batch signs into the index's one format (array<int>), so the
    // rescore compares the stored slots directly. The batch count rides
    // the checkpoint's materializing job (RDD count — no aggregate, no
    // shuffle).
    val (bSigs, n) = Bridge.localCheckpointWithCount(
      batch.select(col(idCol).as("id"),
        minhashSignature(index.shingleHashesOf(col(textCol)), params)
          .as("sig")))
    val bandKeysOf = (sigs: DataFrame) => sigs.select(col("id"),
      explode(lshBandKeys(col("sig"), index.bands,
        index.numHashes / index.bands)).as("bucket"))
    // the smallest slice count whose per-slice estimate is under the bound
    val slices = n * ScreenScratchBytesPerDoc / bounds.scratchBytes + 1
    if (slices == 1)
      return screenSigs(index, bSigs, bandKeysOf, None, bounds.broadcastBytes)._1
    val sc = bSigs.sparkSession.sparkContext
    // once a frame's rows are checkpoint blocks nothing reads its
    // shuffles again (checkpoint blocks never recompute), so the shuffles
    // its executed plan wrote go; ids read off the screen's own plans,
    // never a diff of the context's registry, which would also take
    // another query's
    def reclaim(ran: DataFrame*): Unit =
      Bridge.cleanupShuffles(sc, ran.flatMap(Bridge.shuffleIdsOf).toSet)
    // the whole-batch flood cap (see scaladoc), candidate-bound small;
    // every slice consumes it as its own job, so it is materialized once
    val overCapPlan = bandKeysOf(bSigs)
      .groupBy(col("bucket")).agg(count(lit(1)).as("__bn"))
      .filter(col("__bn") > index.maxBucket)
      .select(col("bucket"))
    val overCap = overCapPlan.localCheckpoint(true)
    reclaim(overCapPlan)
    val parts = (0L until slices).map { i =>
      val slice = bSigs.filter(pmod(xxhash64(col("id")), lit(slices)) === i)
      // eager checkpoint = the sequencing barrier AND the lineage cut:
      // this slice's band and rescore shuffles go before the next slice
      // writes its own
      val (screen, pairsPlan) = screenSigs(index, slice, bandKeysOf,
        Some(overCap), bounds.broadcastBytes)
      val r = screen.localCheckpoint(true)
      reclaim(pairsPlan, screen)
      r
    }
    parts.reduce(_ unionByName _)
  }

  /** Estimated shuffle scratch a screen writes per batch doc — measured
    * once, at a 100M-corpus × 2M-doc probe that is no longer in the repo
    * (14.9 GB / 2M docs ≈ 7.5 KB), rounded UP so the estimate errs toward
    * more slices. The scratch is candidate-bound (banding rows + the
    * rescore's per-candidate signature payloads), so the true figure
    * moves with a corpus's duplicate rate; no workload re-measures it. */
  private[graft] final val ScreenScratchBytesPerDoc = 8L << 10

  /** The estimated scratch under which [[minhashSearch]] screens a batch
    * in one pass: 1 GiB, 131,072 batch docs at [[ScreenScratchBytesPerDoc]].
    * No gate scale factor comes near it: q116's batch is 500 docs at
    * sf0.01 and 5,000 at sf0.1 (q134 screens the same batch under a
    * lowered bound, through [[screenBounds]], to gate the sliced rows).
    * Where slicing starts to pay is verified on no workload: no benchmark
    * workload has a batch past the bound. */
  final val ScreenScratchMaxBytes: Long = 1L << 30

  /** The largest candidate-bound side a screen broadcasts, 64 MiB: the
    * ref-id list of the prune (8 B per candidate pair) and the pruned ref
    * sigs of the rescore (24 B + 4 B per hash, per pair). Past it the
    * join shuffles, so a flood of candidates never has to fit the
    * driver. */
  final val BroadcastRefSigsMaxBytes: Long = 64L << 20

  /** The two bounds [[minhashSearch]] applies. */
  private[graft] final case class ScreenBounds(
      scratchBytes: Long = ScreenScratchMaxBytes,
      broadcastBytes: Long = BroadcastRefSigsMaxBytes)

  /** The bounds a screen reads; specs lower them to reach the sliced
    * screen and the shuffle joins on small fixtures. */
  private[graft] val screenBounds = new DynamicVariable(ScreenBounds())

  /** The index sigs pruned to the candidate pairs' ref ids by a LEFT SEMI
    * join (`id_ref`, `sig_r`). The id list (8 B per pair) is broadcast
    * only while `nPairs` × 8 B fits `maxBytes`; past that it stays a plain
    * semi join, so a flood of candidate pairs never has to fit the driver. */
  private def pruneRefSigs(index: MinhashIndex, pairs: DataFrame,
      nPairs: Long, maxBytes: Long): DataFrame = {
    val ids = pairs.select(col("id_ref"))
    index.sigs.select(col("id").as("id_ref"), col("sig").as("sig_r"))
      .join(if (nPairs * 8L <= maxBytes) broadcast(ids) else ids,
        Seq("id_ref"), "left_semi")
  }

  /** One screen over already-signed batch docs — the body shared by the
    * one-pass screen (flood cap computed here, over this frame's own
    * banding) and the slices (cap precomputed over the FULL batch and
    * passed in). Returns the lazy result and the candidate-pair frame
    * the screen already checkpointed, whose shuffles a slice reclaims. */
  private def screenSigs(index: MinhashIndex, bSigs: DataFrame,
      bandKeysOf: DataFrame => DataFrame, overCap: Option[DataFrame],
      maxBroadcastBytes: Long): (DataFrame, DataFrame) = {
    val bBanded = overCap match {
      case Some(oc) => bandKeysOf(bSigs).join(oc, Seq("bucket"), "left_anti")
      case None => dropOverCapBuckets(bandKeysOf(bSigs),
        Seq("bucket"), index.maxBucket)
    }
    // eager checkpoint: the candidate set is consumed twice (the ref-id
    // prune below + the scoring join) and is candidate-bound small.
    // r16: the candidate count rides the checkpoint's materializing job
    // (localCheckpointWithCount) for the attach-broadcast guard below
    val pairsPlan = bBanded.select(col("bucket"), col("id").as("id_new"))
      .join(index.banded.select(col("bucket"), col("id").as("id_ref")),
        Seq("bucket"))
      .select(col("id_new"), col("id_ref")).distinct()
    val (pairs, nPairs) = Bridge.localCheckpointWithCount(pairsPlan)
    // prune the reference sig table to the candidates' refs via a
    // broadcast semi-join BEFORE any exchange: a screen must never
    // shuffle the index (measured without this: the scoring join's
    // planned SMJ exchange wrote the full 2M-doc sig table — ~800 MB —
    // per screen, and AQE's late BHJ conversion cannot un-pay a shuffle
    // WRITE that already ran). Everything that moves is batch- or
    // candidate-bound: bSigs (batch), pairs + pruned ref sigs
    // (candidates), the broadcast ref-id list (8 B/candidate ref).
    //
    // Rescore payload (r12): the two attach-joins drag ONE signature per
    // CANDIDATE row through their exchanges — the dominant screen
    // shuffle (measured at 20M/2M-batch: ~4.5 of 5.4 GB; the band join
    // itself is exchange-free on the index side). Both sides carry the
    // one signature format, array<int>: 4 B per slot per candidate row.
    //
    // Size-conditional broadcast (r13): when the pruned ref-sig slice is
    // small enough — nRefs·(id + numHashes ints + row overhead) under
    // `maxBroadcastBytes` — the ref attach-join is hinted
    // broadcast, which removes that exchange ENTIRELY (the r12 int cast
    // only shrank it −24%): the candidate pairs stream against a
    // broadcast hash table instead of co-shuffling with the ref sigs.
    // nRefs is a driver scalar over the candidate-bound checkpointed
    // pair set (the same adjudicated class as remove's newlyUnder
    // check); above the cap the shuffle join stands — a flood of
    // distinct candidate refs must not OOM the driver.
    // r16: LEFT SEMI against the raw candidate ref ids — identical rows
    // to the old distinct + inner using-join (sigs ids are unique; a
    // semi join cannot duplicate), with the refIds distinct exchange,
    // its checkpoint, and its count() action all removed. The ref-id
    // list is broadcast only under the budget (see pruneRefSigs); the
    // attach guard below keys on the PAIR count (≥ distinct refs),
    // erring toward the driver-safe shuffle join.
    val prunedRef = pruneRefSigs(index, pairs, nPairs, maxBroadcastBytes)
    val refSigs = {
      val refSigBytes = nPairs * (24L + 4L * index.numHashes)
      if (refSigBytes <= maxBroadcastBytes) broadcast(prunedRef)
      else prunedRef
    }
    (pairs
      .join(bSigs.select(col("id").as("id_new"),
        col("sig").as("sig_n")), "id_new")
      .join(refSigs, "id_ref")
      .select(col("id_new"), col("id_ref"),
        (graft.functions.TextHash.slotMatchCount(col("sig_n"), col("sig_r"))
          .cast("double") / index.numHashes).as("est_jaccard")), pairsPlan)
  }

  /** SimHash over precomputed feature-hash values: `bits`-bit signature
    * where bit k is the sign of the sum over features of ±1 votes (bit k of
    * each feature's hash). Near-duplicates are signatures within a small
    * Hamming distance. */
  def simhashFromHashes(hashes: Column, bits: Int = 64): Column =
    graft.functions.TextHash.simhashBits(hashes, bits)

  /** SimHash of string features (xxhash64 feature hashing — fast Spark path
    * when cross-engine reproducibility is not required). */
  def simhash(features: Column, bits: Int = 64): Column =
    simhashFromHashes(transform(features, f => xxhash64(f)), bits)

  /** Widen each ~30-bit [[graft.text.TextFunctions.polyHash]]-derived
    * value of a hash array to 62 well-mixed bits with one Lehmer step —
    * `h62 = ((h·48271) mod 2³¹−1)·2³¹ + h`. Pure integer ops, reproducible
    * in any SQL engine; a native single-loop expression rather than a
    * `transform` lambda ([[graft.functions.WidenHashes62Expr]]). */
  def widenHash62All(hashes: Column): Column =
    graft.functions.TextHash.widenHashes62(hashes)

  /** Hamming distance between two 64-bit signatures. */
  def hamming64(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** SimHash near-duplicate candidate PAIRS — the pairing tier on top of
    * [[simhashFromHashes]] signatures (which q19 emits per document):
    * split each 64-bit signature into `64/bandBits` contiguous bit bands
    * and bucket-join on (band index, band value), so two documents meet
    * iff they agree on at least one whole band. By pigeonhole, any pair
    * within Hamming distance `bands − 1` (3 for 16-bit bands) is
    * guaranteed to collide; pairs above that are found only
    * opportunistically, exactly like classic simhash sharding (Manku et
    * al., WWW'07 — public algorithm). Collided pairs are deduplicated,
    * then exact-scored with [[hamming64]] and filtered to `maxHamming`.
    *
    * Scale shape: mirrors [[minhashCandidates]] — only (band, id, sig)
    * triples shuffle (bodies never move), the quadratic step is confined
    * to bucket-local data, and band values are pure integer shifts/masks
    * (`(sig >> 16b) & 0xffff`, arithmetic shift + mask — identical in any
    * two's-complement SQL engine, which lets the DuckDB oracle replay the
    * bucketing bit-for-bit). */
  def simhashCandidates(
      df: DataFrame,
      idCol: String,
      sigCol: String,
      bandBits: Int = 16,
      maxHamming: Int = 8,
      dropZeroSig: Boolean = true,
      maxBucket: Long = 2000L): DataFrame = {
    val bands = 64 / bandBits
    val mask = (1L << bandBits) - 1
    // sig 0 is the empty-feature-set sentinel (null/blank text); those
    // documents are all Hamming-0 "duplicates" of each other, which at
    // corpus scale is a quadratic single-bucket blowup of meaningless
    // pairs — drop them (the exact-dedup tier already groups empty docs)
    val in = if (dropZeroSig) df.filter(col(sigCol) =!= 0L) else df
    // eager checkpoint of the (id, sig) projection: the caller usually
    // passes sigCol as a LAZY simhash expression over the raw text, and
    // the flood cap's two consumers (count + anti-join probe) would
    // otherwise evaluate the whole hashing chain twice (measured on the
    // sf0.1 gate: q59 0.53 s → 1.2 s when the cap switched to the
    // anti-join shape without this). Same recipe as minhashCandidates.
    val sigs = in.select(col(idCol).as("__id"), col(sigCol).as("__sig"))
      .localCheckpoint(true)
    val bandStructs = array((0 until bands).map(b =>
      struct(lit(b).as("band"),
        shiftright(col("__sig"), b * bandBits).bitwiseAND(lit(mask)).as("bval"))): _*)
    val banded0 = sigs
      .select(col("__id"), col("__sig"), explode(bandStructs).as("__bk"))
      .select(col("__id"), col("__sig"),
        col("__bk.band").as("__band"), col("__bk.bval").as("__bval"))
    // same copy-flood guard as minhashCandidates (same pair-budget
    // sizing rule — see its scaladoc): a mostly-duplicate corpus floods
    // a few buckets and the self-join goes quadratic in the copy
    // count; over-cap buckets belong to the exact-dedup tier
    val banded = dropOverCapBuckets(banded0, Seq("__band", "__bval"), maxBucket)
    val a = banded.select(col("__band"), col("__bval"),
      col("__id").as("id_a"), col("__sig").as("sig_a"))
    val b = banded.select(col("__band"), col("__bval"),
      col("__id").as("id_b"), col("__sig").as("sig_b"))
    a.join(b, Seq("__band", "__bval"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        hamming64(col("sig_a"), col("sig_b")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Train/eval decontamination — cross-corpus n-gram collision check,
    * the standard eval-leakage audit before training: explode each side's
    * distinct n-gram shingle hashes ([[TextFunctions.shingleHashes]] —
    * the same deterministic polynomial recurrence the minhash oracle
    * replays), equi-join on the hash, and count distinct shared shingles
    * per (train doc, eval doc) pair. Pairs with `minShared` or more
    * collisions are flagged for removal from the training side.
    *
    * Scale shape: one hash-partitioned equi-join on the shingle hash —
    * only (hash, id) pairs shuffle, never text. With `prefilter` on
    * (default), train shingles are first screened scan-stage against the
    * broadcast distinct eval hash set with a left-semi join — since only
    * hashes that also occur in eval can ever reach the output, the
    * train-side distinct and df-cap shuffles then move the eval-matching
    * sliver of the corpus instead of every train shingle. The screen is
    * hash-deterministic (a hash's pairs all survive or all drop), so the
    * per-hash document frequency the cap sees is unchanged and the output
    * is identical to the unfiltered path (differentially spec-pinned).
    * The eval side is typically tiny (benchmarks), so the broadcast is
    * small; for an eval set beyond broadcast scale pass
    * `prefilter = false` to get the symmetric shuffle path. Pick `n`
    * large enough (8+ tokens) that boilerplate n-grams are rare; shingles
    * appearing in more than `maxShingleDf` TRAIN documents (license
    * headers, templated boilerplate) are dropped before the join — they
    * would make the collision join quadratic in the boilerplate count and
    * they carry no contamination signal (standard decontamination
    * practice). */
  def decontaminate(
      train: DataFrame, eval_ : DataFrame,
      idCol: String, textCol: String,
      n: Int = 8, minShared: Long = 3L,
      maxShingleDf: Long = 100000L,
      prefilter: Boolean = true): DataFrame = {
    // WIDE hashes: a contamination FLAG is collision-intolerant — on a
    // ~10⁹ single chain, ~10⁸ distinct train shingles give every eval
    // shingle a ~10% birthday chance of colliding with some unrelated
    // train shingle, flooding n_shared with false collisions at corpus
    // scale (the q77 probe demonstrated the failure class at 2M docs).
    // distinct BEFORE the df window: the cap must count DOCUMENT
    // frequency (distinct train docs per hash), as the oracle's
    // list_distinct does — spec-pinned with a doc repeating the
    // contaminated span 20x (the positional stream is per-occurrence).
    def side(df: DataFrame, out: String) = df
      .select(col(idCol).as(out),
        explode(TextFunctions.shingleSpanHashes(col(textCol), n)).as("__h"))
      .distinct()
    val evalPairs = side(eval_, "eval_id")
    val trainPairs =
      if (!prefilter) side(train, "train_id")
      else train
        .select(col(idCol).as("train_id"),
          explode(TextFunctions.shingleSpanHashes(col(textCol), n)).as("__h"))
        .join(broadcast(evalPairs.select(col("__h")).distinct()),
          Seq("__h"), "left_semi")
        .distinct()
    trainPairs
      .withColumn("__df", count(lit(1)).over(Window.partitionBy(col("__h"))))
      .filter(col("__df") <= maxShingleDf)
      .drop("__df")
      .join(evalPairs, "__h")
      .groupBy(col("train_id"), col("eval_id"))
      .agg(count_distinct(col("__h")).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** [[decontaminate]] with a BLOOM-FILTER train-side prefilter — same
    * output (bit-for-bit), different tier-1 physics. The exact operator's
    * `prefilter` broadcasts the eval shingle SET (8 B per distinct
    * shingle: ~8 GB at 10⁹ eval shingles — past broadcastable); this one
    * compresses it to a fixed-size Bloom bitmap (~1.2 B per item at 1%
    * fpp), probed scan-stage by a codegen'd expression
    * ([[graft.functions.BloomMightContainLong]]) so the train corpus
    * never shuffles a shingle that cannot collide. False positives
    * survive tier 1 but die in the exact hash equi-join tail — a Bloom
    * has NO false negatives, so the result equals [[decontaminate]]'s
    * exactly (spec-pinned, including under a deliberately tiny
    * fpp-saturated filter); only the tier-2 join volume grows with fpp.
    *
    * The filter build is one pass over the distinct eval shingles
    * (`stat.bloomFilter` — per-partition filters OR-merged on the
    * driver, bitmap-bounded); size it via `expectedShingles` ≈ the
    * distinct eval-side shingle count. */
  def decontaminateBloom(
      train: DataFrame, eval_ : DataFrame,
      idCol: String, textCol: String,
      n: Int = 8, minShared: Long = 3L,
      maxShingleDf: Long = 100000L,
      expectedShingles: Long = 1000000L,
      fpp: Double = 0.01): DataFrame = {
    val evalPairs = eval_
      .select(col(idCol).as("eval_id"),
        explode(TextFunctions.shingleSpanHashes(col(textCol), n)).as("__h"))
      .distinct()
    val bf = evalPairs.select(col("__h")).stat
      .bloomFilter("__h", expectedShingles, fpp)
    val bfBc = train.sparkSession.sparkContext.broadcast(bf)
    val trainPairs = train
      .select(col(idCol).as("train_id"),
        explode(TextFunctions.shingleSpanHashes(col(textCol), n)).as("__h"))
      .filter(graft.functions.BloomMightContainLong(col("__h"), bfBc))
      .distinct()
    trainPairs
      .withColumn("__df", count(lit(1)).over(Window.partitionBy(col("__h"))))
      .filter(col("__df") <= maxShingleDf)
      .drop("__df")
      .join(evalPairs, "__h")
      .groupBy(col("train_id"), col("eval_id"))
      .agg(count_distinct(col("__h")).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Repeated-span removal — the n-gram-granular form of exact-substring
    * deduplication (Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better": drop text spans that appear verbatim in
    * more than one document; templated boilerplate, licenses, navigation
    * chrome). Every token covered by an n-gram shingle whose DOCUMENT
    * frequency is ≥ `minDf` is removed from every document; the output
    * text is the surviving tokens of the SAME normalized (lowercased,
    * whitespace-split) stream the dedup family hashes — the keep-one-copy
    * variant is a policy layer on top, not this operator.
    *
    * Scale shape: positional WIDE shingle hashes are scan-stage
    * ([[TextFunctions.shingleSpanHashes]] + posexplode — positional so
    * coverage lands on true token indices even when a doc repeats a
    * flagged span; ~60-bit so birthday collisions cannot flag innocent
    * spans at corpus scale); the df pass is one map-side-combined
    * count-distinct keyed on the hash (only (hash, id) pairs shuffle);
    * coverage expands flagged positions to token indices (bounded by
    * tokens per doc); the rebuild is a keyed anti-join + sorted-struct
    * gather per doc. No driver involvement. */
  /** Corpus-wide EXACT paragraph dedup (the Dolma / RefinedWeb
    * "paragraph dedupe" stage): each paragraph — a `sep`-separated
    * segment — keeps only its globally FIRST occurrence in (doc id,
    * position) order; every later copy, within or across documents, is
    * removed from the reassembled text. Complements
    * [[removeRepeatedSpans]] (n-gram-df boilerplate inside lines) and
    * the document-level dedups: this one EDITS pages. Output:
    * (idCol, n_paragraphs, n_removed, text_dedup).
    *
    * Scale shape: paragraphs explode scan-side; the winner per key is a
    * groupBy-min — map-side partial aggregation absorbs hot keys (a
    * boilerplate paragraph shared by 10⁹ pages combines per task before
    * the shuffle) — and winners join back on a ~60-bit
    * [[graft.text.TextFunctions.fingerprint]] (so only 8-byte keys plus
    * the one winner row per key shuffle twice; the paragraph text
    * itself moves once, into the per-document reassembly gather). AQE's
    * skew-join split covers the residual hot-key fan-in on the join.
    * Paragraphs whose space-trimmed length is below `minChars` are
    * exempt — always kept — both semantically (blank separators are not
    * content) and physically (they would otherwise pile onto one global
    * key = one shuffle partition). The oracle replay groups by the
    * paragraph STRING; equivalent absent fingerprint collisions, which
    * the two-chain ~60-bit key makes negligible below ~10⁸ distinct
    * paragraphs per corpus. */
  def dedupParagraphs(docs: DataFrame, idCol: String, textCol: String,
      sep: String = "\n", minChars: Int = 1,
      hotMinCount: Long = 100000L): DataFrame = {
    require(sep.nonEmpty, "sep must be non-empty")
    require(hotMinCount >= 2, s"hotMinCount must be >= 2: $hotMinCount")
    val parts = docs.select(col(idCol),
      posexplode(split(coalesce(col(textCol), lit("")),
        java.util.regex.Pattern.quote(sep))).as(Seq("__pos", "__p")))
      .withColumn("__exempt", length(trim(col("__p"))) < minChars)
    val keyed = parts.filter(!col("__exempt"))
      .withColumn("__k", TextFunctions.fingerprint(col("__p")))
    val winners = keyed.groupBy("__k")
      .agg(min(struct(col(idCol), col("__pos"))).as("__w"),
        count(lit(1)).as("__c"))
    // Hot/cold winner split: a paragraph shared by 10⁹ pages makes its
    // fingerprint a one-partition hot key in the join-back (measured: a
    // 4.8× straggler at 20M pages before this split — AQE's skew-join
    // split did not fully absorb it). Keys with fan-in ≥ `hotMinCount`
    // are BROADCAST instead — their winner set is small by construction
    // (≤ total_paragraphs / hotMinCount rows; tune the knob so that
    // bound fits the driver at your corpus size) — so the hot fan-in
    // resolves map-side with no shuffle at all, and the remaining
    // sort-merge join carries only keys with bounded fan-in.
    val hot = winners.filter(col("__c") >= hotMinCount)
      .select(col("__k"), col("__w").as("__wh"))
    val coldW = winners.filter(col("__c") < hotMinCount)
      .select(col("__k"), col("__w"))
    val tagged = keyed.join(broadcast(hot), Seq("__k"), "left")
    def isWin(w: Column) =
      w.getField(idCol) === col(idCol) && w.getField("__pos") === col("__pos")
    val judgedHot = tagged.filter(col("__wh").isNotNull)
      .withColumn("__keep", isWin(col("__wh")))
      .select(col(idCol), col("__pos"), col("__p"), col("__keep"))
    val judgedCold = tagged.filter(col("__wh").isNull).drop("__wh")
      .join(coldW, "__k")
      .withColumn("__keep", isWin(col("__w")))
      .select(col(idCol), col("__pos"), col("__p"), col("__keep"))
    val judged = judgedHot.unionByName(judgedCold)
    val all = judged.unionByName(
      parts.filter(col("__exempt"))
        .select(col(idCol), col("__pos"), col("__p"), lit(true).as("__keep")))
    all.groupBy(idCol).agg(
      count(lit(1)).as("n_paragraphs"),
      sum(when(col("__keep"), 0L).otherwise(1L)).as("n_removed"),
      array_join(
        transform(
          array_sort(collect_list(when(col("__keep"),
            struct(col("__pos"), col("__p"))))),
          x => x.getField("__p")),
        sep).as("text_dedup"))
  }

  def removeRepeatedSpans(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 5, minDf: Long = 2L): DataFrame = {
    require(n >= 1 && minDf >= 2, s"need n >= 1 and minDf >= 2: $n, $minDf")
    val base = df.select(col(idCol).as("id"),
      TextFunctions.tokensLower(col(textCol)).as("toks"),
      TextFunctions.shingleSpanHashes(col(textCol), n).as("hs"))
    val sh = base.select(col("id"), posexplode(col("hs")).as(Seq("pos", "h")))
    val rep = sh.groupBy(col("h"))
      .agg(count_distinct(col("id")).as("__df"))
      .filter(col("__df") >= minDf)
      .select(col("h"))
    val covered = sh.join(rep, "h")
      .select(col("id"),
        explode(sequence(col("pos"), col("pos") + (n - 1))).as("ti"))
      .distinct()
    val toksPos = base.select(col("id"),
      posexplode(col("toks")).as(Seq("ti", "tok")))
    val rebuilt = toksPos.join(covered, Seq("id", "ti"), "left_anti")
      .groupBy(col("id"))
      .agg(concat_ws(" ", transform(
          array_sort(collect_list(struct(col("ti"), col("tok")))),
          _.getField("tok"))).as("clean_text"),
        count(lit(1)).as("__kept"))
    // null text → toks is null → size() is null: coalesce the token count
    // to 0 so the audit column is total (n_removed = 0, not null)
    base.select(col("id"),
        coalesce(size(col("toks")), lit(0)).cast("long").as("__ntok"))
      .join(rebuilt, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        (col("__ntok") - coalesce(col("__kept"), lit(0L))).as("n_removed"))
  }

  /** Exact n-gram Jaccard similarity between two shingle-set columns. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val union = size(array_union(a, b)).cast("double")
    when(union === 0.0, 0.0).otherwise(inter / union)
  }

  /** Canonical keep-one-per-cluster: the first row of each `groupCol`
    * group in `orderCol` order survives — the policy step after
    * [[connectedComponents]] (group = component, order = id ⇒ the batch
    * min-id rule the q72 pipeline and the streaming keep tier pin). */
  def keepFirstPerGroup(df: DataFrame, groupCol: String, orderCol: String): DataFrame = {
    val w = Window.partitionBy(col(groupCol)).orderBy(col(orderCol))
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Connected components over a candidate-pair edge list — turns the
    * near-dup PAIRS from [[minhashCandidates]] (or the cosine/simhash
    * tiers) into duplicate CLUSTERS: every node gets `component` = the
    * smallest id reachable through the pair graph, the canonical
    * keep-one-per-cluster key for a dedup pipeline.
    *
    * Distributed min-label propagation with pointer jumping: each round
    * (1) takes the min label over neighbors (one co-partitioned join +
    * map-side-combined min aggregate) and (2) replaces every label by its
    * label's label (one self-join) — the path-halving step that makes
    * convergence O(log diameter) rounds rather than O(diameter), so a
    * 2³⁰-node chain converges inside the default `maxIter`. Per-round
    * state is `localCheckpoint`ed to truncate the iterative lineage; the
    * only driver-side values are the per-round convergence counts.
    * Near-dup clusters in practice are small and dense — typically 2-3
    * rounds.
    *
    * `driverThreshold` is a PAIR count: the micro-tier probe reads up to
    * 2·driverThreshold + 1 RAW DIRECTED rows (each pair contributes both
    * directions), so the driver-side union-find may hold up to
    * 2·driverThreshold edge tuples — size it for that bound. Callers
    * producing DUPLICATE pairs get demoted to the distributed tier
    * earlier than a distinct-pair caller (the probe counts raw rows, not
    * distinct edges); both tiers are spec-pinned to identical output. */
  def connectedComponents(
      pairs: DataFrame,
      idACol: String = "id_a",
      idBCol: String = "id_b",
      maxIter: Int = 20,
      driverThreshold: Long = 500000L,
      ccSalt: Int = 16): DataFrame = {
    require(ccSalt >= 1, s"ccSalt must be positive: $ccSalt")
    // both edge directions in ONE pass over the (possibly expensive) pair
    // plan — a union of two selects would evaluate it twice pre-persist
    val rawEdges = pairs
      .select(explode(array(
        struct(col(idACol).cast("long").as("src"), col(idBCol).cast("long").as("dst")),
        struct(col(idBCol).cast("long").as("src"), col(idACol).cast("long").as("dst"))))
        .as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))

    // adaptive algorithm switch: near-dup pair graphs are usually FAR
    // smaller than the corpus (edges ≈ duplicates, not documents), and
    // the iterative path costs ~4 scheduled jobs per round regardless of
    // data. When the edge list fits the driver comfortably, union-find
    // locally — identical output (min id per component; the spec pins
    // both paths to each other). The micro-tier probe is ONE take() of
    // at most 2·driverThreshold+1 raw directed rows — no distinct
    // shuffle, no persist, one job (r15: the old shape paid a global
    // distinct + cache materialization + count + collect — three jobs
    // and two full passes — before the first union): union-find absorbs
    // duplicate edges as repeated unions, so deduplication is free on
    // the driver, and the raw directed row count is exactly 2× the pair
    // count for the distinct-pair graphs every in-tree caller produces.
    val cap = 2L * math.min(driverThreshold, (Int.MaxValue - 1) / 2)
    val head = rawEdges.take(cap.toInt + 1)
    if (head.length <= cap) {
      val spark = pairs.sparkSession
      val es = head.map(r => (r.getLong(0), r.getLong(1)))
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      es.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { // root at the smaller id → label = component min
          if (ra < rb) parent(rb) = ra else parent(ra) = rb
        }
      }
      val nodes = es.iterator.map(_._1).toSet
      import spark.implicits._
      return nodes.toSeq.sorted.map(id => (id, find(id)))
        .toDF("id", "component")
    }

    // distributed tier: dedupe + pin the edge cache the iteration reuses
    // (the take() probe above computed the upstream shuffles, which the
    // distinct reuses; only its own exchange is new work)
    val edges = rawEdges.distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    edges.count()

    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
      .localCheckpoint(true)
    var changed = 1L
    var it = 0
    while (changed > 0 && it < maxIter) {
      // (1) min over neighborhood
      val nb = edges
        .join(labels.select(col("id").as("dst"), col("label").as("nbl")), "dst")
        .groupBy(col("src").as("id")).agg(min(col("nbl")).as("minNb"))
      val stepped = labels.join(nb, Seq("id"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("minNb"), col("label"))).as("label"))
      // (2) pointer jump: label ← label(label) (labels are always node ids).
      // SALTED: this lookup keys on the label, and a giant component puts
      // every member's row under ONE label key — the straggler reducer at
      // scale. The parent side has exactly one row per label, so replicate
      // it across `ccSalt` shards and route each member to its
      // hash(id)-shard: per-reducer load is bounded by component/ccSalt
      // while the replicated side only grows by #distinct-labels × salt
      // (two longs each). Step (1) needs no salting — its min() aggregate
      // combines map-side, and its join keys on node ids (unique build
      // side), not labels.
      val parents = stepped
        .select(col("id").as("label"), col("label").as("parent"))
        .withColumn("__s", explode(array((0 until ccSalt).map(lit): _*)))
      val jumped = stepped
        .withColumn("__s", pmod(hash(col("id")), lit(ccSalt)))
        .join(parents, Seq("label", "__s"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("parent"), col("label"))).as("label"))
        .localCheckpoint(true)
      changed = jumped.join(labels.select(col("id"), col("label").as("old")), "id")
        .filter(col("label") < col("old")).count()
      labels = jumped
      it += 1
    }
    edges.unpersist()
    labels.select(col("id"), col("label").as("component"))
  }
}
