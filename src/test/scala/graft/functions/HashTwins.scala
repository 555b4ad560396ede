package graft.functions

import graft.text.TextFunctions
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level reference twins of the [[TextHash]] kernels: the same
  * hashes composed from Spark's higher-order functions, whose lambdas
  * interpret per element (~20× slower on a corpus scan). Specs compare
  * the native expressions against them; no engine code reaches them. */
object HashTwins {

  /** Twin of [[graft.dedup.Dedup.lshBandKeys]]: per band,
    * `aggregate(slice ...)` folds `acc·31 + slot mod 2³¹−1` from the band
    * index. */
  def lshBandKeysHof(signature: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => aggregate(slice(signature, b * rowsPerBand + 1, lit(rowsPerBand)),
        b.cast("long"), (acc, s) => (acc * 31L + s) % TextHash.MinhashP))

  /** Twin of [[TextFunctions.shingleHashes]]: per-token polynomial hashes
    * combined across n consecutive tokens, first occurrences kept. */
  def shingleHashesHof(text: Column, n: Int): Column = {
    def polyHashHof(s: Column): Column =
      aggregate(
        transform(filter(split(s, ""), c => c =!= ""), c => ascii(c).cast("long")),
        lit(0L),
        (acc, c) => (acc * 31L + c) % 1000000007L)
    val th = transform(TextFunctions.tokensLower(text), polyHashHof(_))
    val combined = (2 to n).foldLeft(th) { (acc, i) =>
      zip_with(acc, slice(th, lit(i), greatest(size(th) - (i - 1), lit(1))),
        (a, b) => (a * 1000003L + b) % 1000000007L)
    }
    // trailing n−1 slots zip against missing elements → null; drop them
    array_distinct(filter(combined, h => h.isNotNull))
  }

  /** Twin of one element of [[graft.dedup.Dedup.widenHash62All]]:
    * `h62 = ((h·48271) mod 2³¹−1)·2³¹ + h`. */
  def widenHash62(h: Column): Column =
    ((h * 48271L) % TextHash.MinhashP) * 2147483648L + h
}
