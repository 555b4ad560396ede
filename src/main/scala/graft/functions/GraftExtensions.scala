package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session-extension hook registering graft's custom Catalyst functions for
  * SQL use (`spark.sql("SELECT nan_product(x) ...")`). Install with
  * a session builder's `withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.functions.GraftExtensions`.
  *
  * Int parameters (shingle width, bit count, plane geometry) must be
  * foldable literals — they are evaluated at resolution time. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import GraftExtensions.intArg

  override def apply(e: SparkSessionExtensions): Unit = {
    def reg(name: String, cls: Class[_], b: Seq[Expression] => Expression): Unit =
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name), b))

    reg("nan_product", classOf[NanProduct], exprs => NanProduct(exprs.head))
    // poly_hash(str) → BIGINT
    reg("graft_poly_hash", classOf[PolyHashExpr], exprs => PolyHashExpr(exprs.head))
    // shingle_hashes(str, n) → ARRAY<BIGINT>
    reg("graft_shingle_hashes", classOf[ShingleHashesExpr],
      exprs => ShingleHashesExpr(exprs.head, intArg(exprs, 1, 3)))
    // simhash(hashes[, bits]) → BIGINT
    reg("graft_simhash", classOf[SimhashBitsExpr],
      exprs => SimhashBitsExpr(exprs.head, intArg(exprs, 1, 64)))
    // minhash_sig(hashes[, numHashes]) → ARRAY<INT>  (seeded params)
    reg("graft_minhash_sig", classOf[MinhashSigExpr], { exprs =>
      val params = graft.dedup.Dedup.minhashParams(intArg(exprs, 1, 64))
      MinhashSigExpr(exprs.head, params.map(_._1), params.map(_._2))
    })
    // dot(array<double>, array<double>) → DOUBLE
    reg("graft_dot", classOf[DotProductExpr],
      exprs => DotProductExpr(exprs.head, exprs(1)))
    // lsh_bucket(vec, numPlanes, table, dim) → BIGINT
    reg("graft_lsh_bucket", classOf[LshBucketExpr],
      exprs => LshBucketExpr(exprs.head,
        intArg(exprs, 1, 12), intArg(exprs, 2, 0), intArg(exprs, 3, 64)))
    // c4_clean(text[, minWords]) → STRUCT<clean, n_kept, n_dropped>
    reg("graft_c4_clean", classOf[C4CleanExpr],
      exprs => C4CleanExpr(exprs.head, intArg(exprs, 1, 3)))
  }
}

object GraftExtensions {
  private def intArg(exprs: Seq[Expression], i: Int, default: Int): Int =
    if (exprs.length <= i) default
    else exprs(i).eval() match {
      case n: java.lang.Number => n.intValue
      case other => throw new IllegalArgumentException(
        s"argument ${i + 1} must be an integer literal, got $other")
    }
}
