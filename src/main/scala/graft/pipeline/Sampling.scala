package graft.pipeline

import graft.core.RangeScan
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{JoinedRow, SpecificInternalRow}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Deterministic splitting and sampling for training-data pipelines.
  *
  * Everything here keys on `md5(id-as-string)` rather than `rand()`:
  * assignments are then (a) reproducible across runs, engines, and
  * cluster layouts, (b) stable under re-partitioning and incremental
  * appends — a document keeps its split forever, the property that makes
  * train/test contamination auditable — and (c) embarrassingly parallel:
  * a scan-stage expression per row, no shuffle, no driver state, which is
  * the only formulation that holds at 100 TB. The md5 hex prefix is
  * compared as a STRING (hex chars order lexicographically), so any SQL
  * engine reproduces the buckets without bigint-from-hex conversions.
  */
object Sampling {

  /** Two-hex-char (256-bucket) key of an id column — the shared basis of
    * [[deterministicSplit]] and [[stratifiedSample]]. */
  def bucketKey(idCol: Column): Column =
    substring(md5(idCol.cast("string").cast("binary")), 1, 2)

  /** The 256-bucket carve over a [[bucketKey]]: name the split whose
    * cumulative-weight hex bound the key sorts below. Weights must sum to
    * ≤ 256; any remainder buckets fall to the LAST split (its weight is
    * effectively 256 − preceding). */
  private def carve(key: Column, splits: Seq[(String, Int)]): Column = {
    require(splits.nonEmpty && splits.map(_._2).sum <= 256,
      s"split weights must sum to <= 256: $splits")
    val bounds = splits.scanLeft(0) { case (acc, (_, w)) => acc + w }.tail
    val hex = bounds.map(b => f"${b}%02x") // exclusive upper bound, 2-hex
    splits.map(_._1).zip(hex).foldRight(
      lit(splits.last._1): Column) { case ((name, ub), els) =>
      when(key < lit(ub), lit(name)).otherwise(els)
    }
  }

  /** Assign each row a named split by hashing its id into 256 buckets and
    * carving them by the given integer weights (e.g. train/val/test
    * 204/26/26 ≈ 80/10/10). The split column is appended. */
  def deterministicSplit(df: DataFrame, idCol: String,
      splits: Seq[(String, Int)]): DataFrame =
    df.withColumn("split", carve(bucketKey(col(idCol)), splits))

  /** Leakage-safe split — [[deterministicSplit]] keyed on the document's
    * near-dup CLUSTER representative instead of its own id, so two
    * near-duplicate documents can never straddle a split boundary (the
    * train/test contamination channel per-doc hashing leaves open: a doc
    * and its fuzzy copy hash independently, and at 10⁹ docs thousands of
    * dup pairs WILL land train-vs-test). `clusters` is
    * [[graft.dedup.Dedup.connectedComponents]] output — `(id, component)`
    * with component = min id reachable in the candidate-pair graph; docs
    * absent from it are singletons keyed on their own id, exactly the
    * `coalesce` the appended `split_key` column records.
    *
    * Scale shape: one equi-join of the corpus against the cluster table
    * plus the same scan-stage carve as [[deterministicSplit]]. The
    * cluster table has one row per document that APPEARS in a candidate
    * pair — duplicates only, typically a few percent of the corpus — so
    * AQE plans a broadcast join at any realistic dup rate; the corpus
    * side never shuffles. Assignment stays append-stable: new docs only
    * extend clusters, and a cluster's component (its min id) is stable
    * under appends of larger ids. */
  def splitByCluster(df: DataFrame, idCol: String, clusters: DataFrame,
      splits: Seq[(String, Int)]): DataFrame = {
    // string-keyed throughout: a long cast would null non-numeric ids,
    // skipping the cluster join AND making md5(null) fall through the
    // carve into the LAST split silently. Numeric ids are unaffected —
    // [[bucketKey]] stringifies before hashing, and "123" hashes the
    // same whether it arrived as long or string.
    val c = clusters.select(col("id").cast("string").as("__cid"),
      col("component").cast("string").as("__component"))
    df.join(c, df.col(idCol).cast("string") === col("__cid"), "left")
      .withColumn("split_key",
        coalesce(col("__component"), col(idCol).cast("string")))
      .withColumn("split", carve(bucketKey(col("split_key")), splits))
      .drop("__cid", "__component")
  }

  /** Budgeted best-first corpus selection — "take the highest-scoring
    * documents until the token budget fills", the quality-pruned cut of
    * a pre-training data build: rank docs by `(scoreCol DESC, idCol)`
    * (a total order — make the score an INTEGER quality proxy for
    * engine-portable determinism) and keep every doc whose EXCLUSIVE
    * running token sum is still below `budget` — the first doc to cross
    * the budget is kept (the cut overflows by at most one document),
    * everything after it drops. Appends `rank` (0-based) and
    * `cum_before` (exclusive prefix token sum); rows keep all input
    * columns.
    *
    * Scale shape: a [[graft.core.RangeScan]] over a score order — one
    * parallel range sort, a per-partition (rows, tokens) totals job (P
    * pairs to the driver, re-reading the sort's shuffle files), then a
    * per-partition scan. Partitions whose token offset already exceeds
    * the budget emit NOTHING without scanning — the tail of the corpus
    * beyond the cut costs only its share of the sort. */
  def selectByBudget(df: DataFrame, idCol: String, tokCol: String,
      scoreCol: String, budget: Long): DataFrame = {
    require(budget >= 0, s"budget must be >= 0: $budget")
    val spark = df.sparkSession
    // a null token count has no budget contribution and no place in the
    // cut — dropped explicitly (it would otherwise NPE the scan below)
    val sorted = df.filter(col(tokCol).isNotNull)
      .withColumn("__tok", col(tokCol).cast("long"))
      .orderBy(col(scoreCol).desc, col(idCol)) // parallel range sort
    val tokIdx = sorted.schema.fieldIndex("__tok")
    val rdd = Bridge.catalystRows(sorted)
    // exclusive (rank, token) offset of each partition
    val offsets = RangeScan.summaries(rdd) { it =>
      var n = 0L; var t = 0L
      while (it.hasNext) { n += 1; t += it.next().getLong(tokIdx) }
      (n, t)
    }.scanLeft((0L, 0L)) { case ((n0, t0), (n, t)) => (n0 + n, t0 + t) }
    val b = budget
    val rows = RangeScan.withCarry(rdd, offsets) { case ((rank0, tok0), it) =>
      if (tok0 >= b) Iterator.empty
      else {
        var rank = rank0; var cum = tok0
        val stamp = new SpecificInternalRow(Seq(LongType, LongType))
        val out = new JoinedRow(null, stamp)
        it.flatMap { r =>
          val keep = cum < b
          if (keep) { stamp.setLong(0, rank); stamp.setLong(1, cum) }
          cum += r.getLong(tokIdx); rank += 1
          if (keep) Iterator.single(out.withLeft(r)) else Iterator.empty
        }
      }
    }
    val schema = StructType(sorted.schema.fields :+
      StructField("rank", LongType, nullable = false) :+
      StructField("cum_before", LongType, nullable = false))
    Bridge.fromCatalystRows(spark, rows, schema).drop("__tok")
  }

  /** Deterministic global shuffle + balanced shard striping — the final
    * layout step of a training-data build: order the corpus by
    * `md5(id)` (a reproducible permutation, independent of input
    * partitioning), then stripe it round-robin into `numShards` shards —
    * `shard = rank % numShards`, `pos = rank div numShards`. Every shard
    * gets within ±1 the same row count AND is itself a uniform sample of
    * the corpus (it takes every numShards-th doc of the shuffled order),
    * the property epoch-subset training relies on. Appends two columns
    * `(shard, pos)`; rows keep all input columns. Ids must be unique
    * (they define the permutation). Unlike the hash-carve samplers above
    * this is NOT append-stable — ranks are global — which is why it is
    * the last step, run once per frozen dataset.
    *
    * Scale shape: a [[graft.core.RangeScan]] — one parallel range sort
    * of the corpus by the md5 key (the only shuffle), a per-partition-
    * counts job returning P scalars to the driver (re-reading the sort's
    * shuffle files, not the source), then an embarrassingly parallel
    * per-partition scan that stamps ranks from the partition's exclusive
    * offset. No window function, no single-partition stage. */
  def shuffleShards(df: DataFrame, idCol: String, numShards: Int): DataFrame = {
    require(numShards >= 1, s"numShards must be positive: $numShards")
    val spark = df.sparkSession
    val sorted = df
      .withColumn("__k", md5(col(idCol).cast("string").cast("binary")))
      .orderBy(col("__k"), col(idCol)) // parallel range sort
    val rdd = Bridge.catalystRows(sorted)
    val offsets = RangeScan.summaries(rdd)(_.size.toLong).scanLeft(0L)(_ + _)
    val n = numShards.toLong
    val outRows = RangeScan.withCarry(rdd, offsets) { (offset, it) =>
      var rank = offset
      val stamp = new SpecificInternalRow(Seq(LongType, LongType))
      val out = new JoinedRow(null, stamp)
      it.map { r =>
        stamp.setLong(0, rank % n); stamp.setLong(1, rank / n)
        rank += 1
        out.withLeft(r)
      }
    }
    val schema = StructType(sorted.schema.fields :+
      StructField("shard", LongType, nullable = false) :+
      StructField("pos", LongType, nullable = false))
    Bridge.fromCatalystRows(spark, outRows, schema).drop("__k")
  }

  /** Per-domain mixing table — the knob sheet for weighting training
    * sources: one row per `groupCol` value with document count, token
    * count, its share of the corpus token budget, and the up/down-weight
    * that would equalize the mix (`uniform_weight` = share⁻¹/k; >1 means
    * oversample). One hash aggregate plus a broadcast of the one-row
    * totals — group cardinality is domains, not documents, so the output
    * is driver-size at any corpus scale. `tokenCol` must be integral
    * (exact sums → deterministic shares). */
  def mixWeights(df: DataFrame, groupCol: String, tokenCol: String): DataFrame = {
    val per = df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(col(tokenCol).cast("long")).as("n_tokens"))
      // a zero-token group has no budget share and no finite equalizing
      // weight (and ANSI `/` would throw) — it does not belong in the mix
      .filter(col("n_tokens") > 0)
    val tot = per.agg(sum(col("n_tokens")).as("__tot"),
      count(lit(1)).as("__k"))
    per.crossJoin(broadcast(tot))
      .select(col(groupCol), col("n_docs"), col("n_tokens"),
        (col("n_tokens").cast("double") / col("__tot").cast("double"))
          .as("token_share"),
        (col("__tot").cast("double") /
          (col("__k").cast("double") * col("n_tokens").cast("double")))
          .as("uniform_weight"))
  }

  /** Temperature (α) mixture sampling — the multilingual-pretraining
    * recipe (XLM-R / mT5): with group shares p_g = n_g / N, each group's
    * keep-rate is r_g ∝ p_g^(α−1), normalized so the SMALLEST group keeps
    * everything (α < 1 flattens the mix toward uniform; α = 1 keeps all
    * rows). Realized deterministically: a row survives iff the first
    * `hexDigits` hex chars of md5(id) sort below the group's threshold
    * `⌊r_g·16^hexDigits⌋` formatted as fixed-width hex — reproducible
    * across runs, engines, and partitionings, and stable under appends
    * within a group of fixed share. Cost shape at any corpus size: one
    * map-side-combined count per group (k rows), two one-row broadcasts
    * for the normalization, a broadcast join of the k-row rate table back
    * to the corpus, then a scan-stage filter — the corpus itself never
    * shuffles. Appends `sample_rate` (the group's realized keep-rate).
    *
    * Cross-engine note (the gate relies on this): with α = 0.5 every step
    * is an IEEE correctly-rounded primitive (divide, sqrt, multiply,
    * floor), so thresholds replay bit-identically in ANSI SQL; general α
    * goes through pow, whose last-ulp rounding is platform-defined —
    * margins on ⌊r·16^h⌋ should be checked if gated. */
  def temperatureSample(df: DataFrame, idCol: String, groupCol: String,
      alpha: Double = 0.5, hexDigits: Int = 6): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha in (0, 1]: $alpha")
    require(hexDigits >= 1 && hexDigits <= 12,
      s"hexDigits in [1, 12]: $hexDigits")
    val scale = math.pow(16.0, hexDigits) // 16^h, exact in double for h <= 12
    val per = df.groupBy(col(groupCol)).agg(count(lit(1)).as("__n"))
    val tot = per.agg(sum(col("__n")).as("__tot"))
    val v = per.crossJoin(broadcast(tot)).select(col(groupCol),
      (if (alpha == 0.5) // sqrt is correctly rounded; pow(x,-0.5) is not
        lit(1.0) / sqrt(col("__n").cast("double") / col("__tot").cast("double"))
      else
        pow(col("__n").cast("double") / col("__tot").cast("double"), alpha - 1.0)
      ).as("__v"))
    val vmax = v.agg(max(col("__v")).as("__vmax"))
    val rates = v.crossJoin(broadcast(vmax))
      .select(col(groupCol), (col("__v") / col("__vmax")).as("sample_rate"))
    val hexKey = substring(
      md5(col(idCol).cast("string").cast("binary")), 1, hexDigits)
    // conv() yields uppercase, md5() lowercase; thresholds never exceed
    // hexDigits chars in the reachable branch (rate < 1 ⇒ thr < 16^h; the
    // rate ≥ 1 group keeps all rows before the string compare is consulted)
    val thrHex = lpad(lower(conv(
      floor(col("sample_rate") * lit(scale)).cast("string"), 10, 16)),
      hexDigits, "0")
    df.join(broadcast(rates), groupCol)
      .filter(col("sample_rate") >= 1.0 || hexKey < thrHex)
  }

  /** Keep a deterministic `fraction` of each stratum (the rows whose
    * md5 rank within their stratum is ≤ ⌈fraction·n⌉) — stratified
    * downsampling that preserves group proportions exactly and is
    * reproducible run-to-run. One keyed window (partition-parallel across
    * strata); ties on the 256-bucket key broken by id so the selection is
    * total-order deterministic. */
  def stratifiedSample(df: DataFrame, idCol: String,
      strataCols: Seq[String], fraction: Double): DataFrame = {
    require(fraction > 0 && fraction <= 1, s"fraction in (0,1]: $fraction")
    val part = strataCols.map(col)
    val w = Window.partitionBy(part: _*)
      .orderBy(bucketKey(col(idCol)), col(idCol))
    val wAll = Window.partitionBy(part: _*)
    df.withColumn("__rk", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(wAll))
      .filter(col("__rk") <= ceil(col("__n") * fraction))
      .drop("__rk", "__n")
  }
}
