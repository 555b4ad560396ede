package graft.pipeline

import graft.core.RangeScan
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** Sequence packing — concatenate a document stream into fixed-size
  * training sequences of `budget` tokens, the standard LLM pre-training
  * data layout: lay every document's tokens end-to-end in `idCol` order
  * and cut the stream every `budget` tokens, letting documents straddle
  * sequence boundaries. Output: one row per (document, sequence) span,
  *
  *   (doc_id, seq_id, doc_offset, seq_offset, n_tokens)
  *
  * — "tokens `doc_offset until doc_offset+n_tokens` of `doc_id` occupy
  * positions `seq_offset until seq_offset+n_tokens` of sequence
  * `seq_id`". Every sequence is exactly `budget` tokens except the last;
  * zero-token documents are dropped (they occupy no positions).
  *
  * All arithmetic is integer (cut points are pure functions of the
  * exclusive running token count), so results are deterministic and
  * engine-portable — the DuckDB oracle replays the same floor divisions.
  *
  * Scale shape: the only global computation is the exclusive prefix sum
  * of token counts in id order. [[packSequences]] computes it as a
  * [[graft.core.RangeScan]] — a parallel range sort, a per-partition
  * token-totals job (P scalars to the driver; the sort's shuffle files are
  * reused, data moves once), then an embarrassingly parallel
  * per-partition scan that emits ≤ ⌈tok/budget⌉+1 span rows per doc. No
  * single-partition window anywhere. A small input (under
  * `RangeScan.SmallInputBytes`) is sorted in one partition instead, whose
  * offset is 0: no job runs before the caller's action.
  * [[packSequencesWindow]] is the declarative reference formulation
  * (global `sum() OVER` — a single-partition WindowExec, fine below ~1M
  * docs) used as the differential oracle in the spec.
  */
object Packing {

  private val outSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("seq_id", LongType, nullable = false),
    StructField("doc_offset", LongType, nullable = false),
    StructField("seq_offset", LongType, nullable = false),
    StructField("n_tokens", LongType, nullable = false)))

  /** Span tuples (seq_id, doc_offset, seq_offset, n_tokens) for one
    * document given its exclusive prefix `start` — shared with the
    * streaming packer ([[graft.streaming.StreamingOps.streamingPackSequences]]). */
  private[graft] def spanTuples(tok: Long, start: Long, budget: Long)
      : Iterator[(Long, Long, Long, Long)] = {
    val first = start / budget
    val last = (start + tok - 1) / budget
    (first to last).iterator.map { s =>
      val from = math.max(s * budget, start)
      val to = math.min((s + 1) * budget, start + tok)
      (s, from - start, from - s * budget, to - from)
    }
  }

  /** Span rows for one document given its exclusive prefix `start`. */
  private def spans(id: Long, tok: Long, start: Long, budget: Long): Iterator[InternalRow] =
    spanTuples(tok, start, budget).map { case (s, dOff, sOff, n) =>
      InternalRow(id, s, dOff, sOff, n)
    }

  /** Range-partitioned packing — the scale path. Document ids must be
    * unique (they define the concatenation order; duplicates would make
    * the layout nondeterministic). */
  def packSequences(df: DataFrame, idCol: String, tokCol: String,
      budget: Long): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    val spark = df.sparkSession
    val base = Bridge.catalystRows(RangeScan.sorted(df.filter(col(tokCol) > 0), col(idCol))
      .select(col(idCol).cast("long"), col(tokCol).cast("long")))
      .map { r =>
        require(!r.isNullAt(0), s"packSequences: null $idCol")
        (r.getLong(0), r.getLong(1))
      }
    // per-partition token totals → exclusive per-partition offsets; the
    // summary job re-reads the sort's shuffle output, not the source
    val offsets = RangeScan.carriesLeft(base, 0L)(_.foldLeft(0L)(_ + _._2))(_ + _)
    val b = budget // local so the closure captures a scalar, not `this`
    val rows = RangeScan.withCarry(base, offsets) { (offset, it) =>
      var run = offset
      it.flatMap { case (id, tok) =>
        val start = run
        run += tok
        spans(id, tok, start, b)
      }
    }
    Bridge.fromCatalystRows(spark, rows, outSchema)
  }

  /** Per-shard packing — the batch twin of
    * [[graft.streaming.StreamingOps.streamingPackSequences]] and the
    * formulation real pipelines run (pack within each shard/source, not
    * across a global order): the exclusive prefix sum is a KEYED window
    * (partition-parallel, no global sort anywhere), sequence ids are
    * per-shard, and the span arithmetic is identical to the global
    * packer. This is the fully declarative scale path — every shard is
    * an independent window partition, so 10⁶ shards pack concurrently. */
  def packSequencesByKey(df: DataFrame, keyCol: String, idCol: String,
      tokCol: String, budget: Long): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    val w = Window.partitionBy(col(keyCol)).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val b = lit(budget)
    val withStart = df.filter(col(tokCol) > 0)
      .select(col(keyCol).as("shard"), col(idCol).cast("long").as("doc_id"),
        col(tokCol).cast("long").as("tok"))
      .withColumn("start", coalesce(sum(col("tok")).over(w), lit(0L)))
    val first = expr(s"start div $budget")
    val last = expr(s"(start + tok - 1) div $budget")
    val from = greatest(col("seq_id") * b, col("start"))
    val to = least((col("seq_id") + 1) * b, col("start") + col("tok"))
    withStart
      .withColumn("seq_id", explode(sequence(first, last)))
      .select(col("shard"), col("doc_id"), col("seq_id"),
        (from - col("start")).as("doc_offset"),
        (from - col("seq_id") * b).as("seq_offset"),
        (to - from).as("n_tokens"))
  }

  /** Declarative single-window formulation — differential reference. */
  def packSequencesWindow(df: DataFrame, idCol: String, tokCol: String,
      budget: Long): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    val w = Window.orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val b = lit(budget)
    val withStart = df.filter(col(tokCol) > 0)
      .select(col(idCol).cast("long").as("doc_id"),
        col(tokCol).cast("long").as("tok"))
      .withColumn("start", coalesce(sum(col("tok")).over(w), lit(0L)))
    val first = expr(s"start div $budget")
    val last = expr(s"(start + tok - 1) div $budget")
    val from = greatest(col("seq_id") * b, col("start"))
    val to = least((col("seq_id") + 1) * b, col("start") + col("tok"))
    withStart
      .withColumn("seq_id", explode(sequence(first, last)))
      .select(col("doc_id"), col("seq_id"),
        (from - col("start")).as("doc_offset"),
        (from - col("seq_id") * b).as("seq_offset"),
        (to - from).as("n_tokens"))
  }
}
