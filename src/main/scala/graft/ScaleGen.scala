package graft

import org.apache.spark.sql.functions._

/** Measurement-only scale-up generator (r16, VERDICT r15 task 5): builds a
  * K×-replicated copy of an SF dir so core-scaling and pass-elision claims
  * can be measured at an SF where COMPUTE dominates the ~25-40 ms/job
  * driver scheduling floor (at sf0.1 every 8c/32c wall ratio is ≈1 because
  * the suite is driver-job-bound, so the bench cannot certify the parallel
  * posture there).
  *
  * NOT part of any query, bench, or oracle path — the official bench/gate
  * SFs are the read-only /root/testdata ones; this writes to a scratch dir
  * that nothing persists across runs. Replication is deterministic:
  *  - events: copy i offsets event_id/user_id by i·10⁷ (new series, same
  *    timestamps — per-key families grow in KEY COUNT, the single-series
  *    queries grow in SERIES LENGTH with event_id as tiebreak).
  *  - documents: copy i offsets doc_id by i·10⁷ (clear of the +10⁶ batch
  *    offset q116/q134 add) and rotates the text's alphabet by i so copies
  *    share NO shingles — without that, K identical copies of every doc
  *    would manufacture K² near-dup candidate floods that measure the cap
  *    machinery, not the screen.
  *  - everything else: byte-copied unchanged. */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: ScaleGen <srcSfDir> <dstSfDir> <K>")
    val (src, dst, k) = (args(0), args(1), args(2).toInt)
    require(k >= 1, s"K must be >= 1: $k")
    val spark = LocalSession()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dst))

    val off = (i: Int) => lit(i.toLong * 10000000L)
    val ev = spark.read.parquet(s"$src/events.parquet")
    (0 until k).map { i =>
      ev.select((col("event_id") + off(i)).as("event_id"), col("ts"),
        (col("user_id") + off(i)).as("user_id"), col("event_type"),
        col("value"), col("props"))
    }.reduce(_ unionByName _)
      .repartition(LocalSession.cpus)
      .write.mode("overwrite").parquet(s"$dst/events.parquet")

    val lower = "abcdefghijklmnopqrstuvwxyz"
    def rotBy(i: Int): String = lower.drop(i % 26) + lower.take(i % 26)
    val docs = spark.read.parquet(s"$src/documents.parquet")
    (0 until k).map { i =>
      docs.select((col("doc_id") + off(i)).as("doc_id"),
        translate(col("text"), lower + lower.toUpperCase,
          rotBy(i) + rotBy(i).toUpperCase).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.reduce(_ unionByName _)
      .repartition(LocalSession.cpus)
      .write.mode("overwrite").parquet(s"$dst/documents.parquet")

    val others = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "embeddings")
    others.foreach { t =>
      val from = java.nio.file.Paths.get(s"$src/$t.parquet")
      if (java.nio.file.Files.exists(from))
        java.nio.file.Files.copy(from,
          java.nio.file.Paths.get(s"$dst/$t.parquet"),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    println(s"[scalegen] wrote $dst at K=$k from $src")
    spark.stop()
  }
}
