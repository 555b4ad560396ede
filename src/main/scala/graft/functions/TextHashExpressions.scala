package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the deterministic text-hash pipeline
  * (dedup/minhash/simhash). Semantically identical to the composed
  * higher-order-function formulations in [[graft.text.TextFunctions]] /
  * [[graft.dedup.Dedup]], but evaluated as one tight JVM loop per row:
  * Spark's array lambda functions (`aggregate`/`transform`/`zip_with`) are
  * CodegenFallback and interpret their lambda per element, which made the
  * minhash pipeline ~10⁸ interpreted expression evaluations per corpus
  * scan. The hash recurrences themselves are pure integer arithmetic, so
  * the DuckDB oracle reproduces them bit-for-bit (SparkEntry, q18's oracle).
  *
  * Every expression here implements real `doGenCode` (a static call into
  * the shared kernel — a top-level Scala object compiles to static
  * forwarders Janino can link): `CollapseCodegenStages` refuses
  * whole-stage codegen for any operator containing a `CodegenFallback`
  * expression, so the earlier fallback forms silently knocked every
  * corpus-scan projection out of its codegen span. Interpreted `eval`
  * calls the SAME kernel, so both paths are one implementation. */
object TextHash {

  val Mod: Long = 1000000007L
  val TokenCombine: Long = 1000003L
  /** Universe prime of the affine MinHash permutations, 2³¹−1 — also the
    * empty-set sentinel slot, `Int.MaxValue`. */
  val MinhashP: Long = 2147483647L
  // second, independent chain for the WIDE positional hashes (span
  // removal): ~10⁹ values saturate at ~10⁸ shingles (birthday), and a
  // df-threshold consumer is collision-INTOLERANT — unlike minhash,
  // where per-slot collisions only perturb one of 64 minima
  val Mod2: Long = 1000000009L
  val TokenMult2: Long = 37L
  val TokenCombine2: Long = 1000033L

  /** `h = (h·31 + codePoint) mod 1e9+7` over the string's code points —
    * matches `ascii()`-per-char folds on any engine. */
  def hashString(t: String): Long = {
    var h = 0L
    var i = 0
    while (i < t.length) {
      val cp = t.codePointAt(i)
      h = (h * 31L + cp) % Mod
      i += Character.charCount(cp)
    }
    h
  }

  def polyHash(c: Column): Column =
    Bridge.column(PolyHashExpr(Bridge.expression(c)))

  /** Second-chain whole-string hash (see [[ShingleSpanHashesExpr]] for
    * why collision-intolerant consumers combine two chains). */
  def polyHash2(c: Column): Column =
    Bridge.column(PolyHashExpr(Bridge.expression(c), TokenMult2, Mod2))

  def shingleHashes(c: Column, n: Int): Column =
    Bridge.column(ShingleHashesExpr(Bridge.expression(c), n))

  def ngramBuckets(c: Column, n: Int, buckets: Int): Column =
    Bridge.column(NgramBucketsExpr(Bridge.expression(c), n, buckets))

  def tokenTf(c: Column): Column =
    Bridge.column(TokenTfExpr(Bridge.expression(c)))

  def shingleSpanHashes(c: Column, n: Int): Column =
    Bridge.column(ShingleSpanHashesExpr(Bridge.expression(c), n))

  /** Second-chain token hash: `h = (h·37 + codePoint) mod 1e9+9`. */
  def hashString2(t: String): Long = {
    var h = 0L
    var i = 0
    while (i < t.length) {
      val cp = t.codePointAt(i)
      h = (h * TokenMult2 + cp) % Mod2
      i += Character.charCount(cp)
    }
    h
  }

  def minhashSig(shingleHashes: Column, params: Seq[(Long, Long)]): Column =
    Bridge.column(MinhashSigExpr(Bridge.expression(shingleHashes),
      params.map(_._1), params.map(_._2)))

  def simhashBits(hashes: Column, bits: Int): Column =
    Bridge.column(SimhashBitsExpr(Bridge.expression(hashes), bits))

  def bandKeys(signature: Column, bands: Int, rowsPerBand: Int): Column =
    Bridge.column(BandKeysExpr(Bridge.expression(signature), bands, rowsPerBand))

  def widenHashes62(hashes: Column): Column =
    Bridge.column(WidenHashes62Expr(Bridge.expression(hashes)))

  def slotMatchCount(a: Column, b: Column): Column =
    Bridge.column(SlotMatchCountExpr(Bridge.expression(a), Bridge.expression(b)))

  def nfkc(c: Column): Column =
    Bridge.column(NfkcExpr(Bridge.expression(c)))

  /** [[NfkcExpr]] kernel: JVM compatibility normalization. Fast path:
    * `isNormalized` avoids the rebuild for already-normal text (the
    * overwhelming corpus majority). */
  def nfkcRow(input: UTF8String): UTF8String = {
    val s = input.toString
    if (java.text.Normalizer.isNormalized(s, java.text.Normalizer.Form.NFKC))
      input
    else UTF8String.fromString(
      java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFKC))
  }

  // ---- row kernels (shared by interpreted eval and generated code) ----

  /** [[PolyHashExpr]] kernel. */
  def polyHashRow(input: UTF8String, mult: Long, mod: Long): Long = {
    val t = input.toString
    var h = 0L
    var i = 0
    while (i < t.length) {
      val cp = t.codePointAt(i)
      h = (h * mult + cp) % mod
      i += Character.charCount(cp)
    }
    h
  }

  /** [[ShingleHashesExpr]] kernel: one-pass lowercase → whitespace
    * tokenize → per-token polyhash → n-gram combine → first-occurrence
    * distinct. */
  def shingleHashesRow(input: UTF8String, n: Int): ArrayData = {
    val s = input.toLowerCase.toString
    val raw = s.split("\\s+")
    val th = new Array[Long](raw.length)
    var nt = 0
    var i = 0
    while (i < raw.length) {
      if (raw(i).nonEmpty) { th(nt) = hashString(raw(i)); nt += 1 }
      i += 1
    }
    val m = nt - n + 1
    if (m <= 0) new GenericArrayData(Array.emptyLongArray)
    else {
      val seen = new java.util.LinkedHashSet[java.lang.Long]()
      i = 0
      while (i < m) {
        var h = th(i)
        var j = 1
        while (j < n) { h = (h * TokenCombine + th(i + j)) % Mod; j += 1 }
        seen.add(h)
        i += 1
      }
      val out = new Array[Long](seen.size)
      val it = seen.iterator()
      var k = 0
      while (it.hasNext) { out(k) = it.next(); k += 1 }
      new GenericArrayData(out)
    }
  }

  /** [[TokenTfExpr]] kernel: per-document term frequencies in one pass —
    * (term, tf) structs in first-occurrence order (deterministic), terms
    * lowercased whitespace tokens. Computing tf scan-side removes the
    * (term, doc) shuffle from inverted-index builds entirely. */
  def tokenTfRow(input: UTF8String): ArrayData = {
    val s = input.toLowerCase.toString
    val raw = s.split("\\s+")
    val counts = new java.util.LinkedHashMap[String, Long]()
    var i = 0
    while (i < raw.length) {
      if (raw(i).nonEmpty) counts.put(raw(i), counts.getOrDefault(raw(i), 0L) + 1L)
      i += 1
    }
    val out = new Array[Any](counts.size)
    val it = counts.entrySet().iterator()
    var k = 0
    while (it.hasNext) {
      val e = it.next()
      out(k) = org.apache.spark.sql.catalyst.InternalRow(
        UTF8String.fromString(e.getKey), e.getValue)
      k += 1
    }
    new GenericArrayData(out)
  }

  /** [[NgramBucketsExpr]] kernel: positional n-gram hashes (same chain as
    * [[shingleHashesRow]], NO distinct — DSIR-style feature counting needs
    * multiplicity) reduced mod `buckets`. */
  def ngramBucketsRow(input: UTF8String, n: Int, buckets: Int): ArrayData = {
    val s = input.toLowerCase.toString
    val raw = s.split("\\s+")
    val th = new Array[Long](raw.length)
    var nt = 0
    var i = 0
    while (i < raw.length) {
      if (raw(i).nonEmpty) { th(nt) = hashString(raw(i)); nt += 1 }
      i += 1
    }
    val m = nt - n + 1
    if (m <= 0) new GenericArrayData(Array.emptyLongArray)
    else {
      val out = new Array[Long](m)
      i = 0
      while (i < m) {
        var h = th(i)
        var j = 1
        while (j < n) { h = (h * TokenCombine + th(i + j)) % Mod; j += 1 }
        out(i) = h % buckets
        i += 1
      }
      new GenericArrayData(out)
    }
  }

  /** [[ShingleSpanHashesExpr]] kernel: positional ~60-bit two-chain
    * hashes, one per n-gram start position, no distinct. */
  def shingleSpanHashesRow(input: UTF8String, n: Int): ArrayData = {
    val s = input.toLowerCase.toString
    val raw = s.split("\\s+")
    val th = new Array[Long](raw.length)
    val t2 = new Array[Long](raw.length)
    var nt = 0
    var i = 0
    while (i < raw.length) {
      if (raw(i).nonEmpty) {
        th(nt) = hashString(raw(i))
        t2(nt) = hashString2(raw(i))
        nt += 1
      }
      i += 1
    }
    val m = nt - n + 1
    if (m <= 0) new GenericArrayData(Array.emptyLongArray)
    else {
      val out = new Array[Long](m)
      i = 0
      while (i < m) {
        var h1 = th(i)
        var h2 = t2(i)
        var j = 1
        while (j < n) {
          h1 = (h1 * TokenCombine + th(i + j)) % Mod
          h2 = (h2 * TokenCombine2 + t2(i + j)) % Mod2
          j += 1
        }
        out(i) = h1 * Mod2 + h2
        i += 1
      }
      new GenericArrayData(out)
    }
  }

  /** [[MinhashSigExpr]] kernel: slot j = min over shingle hashes of
    * `(a_j·h + b_j) mod 2³¹−1`, computed in long and stored as int;
    * empty set → all-sentinel. The store is exact: Java's `%` takes the
    * dividend's sign and `a·h+b` can overflow Long for wide (62-bit)
    * base hashes, so every slot lies in (−2³¹, 2³¹−1] — the sentinel
    * 2³¹−1 is `Int.MaxValue` — a range `toInt` holds losslessly. */
  def minhashSigRow(arr: ArrayData, aArr: Array[Long], bArr: Array[Long]): ArrayData = {
    val k = aArr.length
    val slots = Array.fill(k)(Int.MaxValue)
    var i = 0
    val nEl = arr.numElements()
    while (i < nEl) {
      val h = arr.getLong(i)
      var j = 0
      while (j < k) {
        val v = (aArr(j) * h + bArr(j)) % MinhashP
        if (v < slots(j)) slots(j) = v.toInt
        j += 1
      }
      i += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(slots)
  }

  /** [[BandKeysExpr]] kernel: band b of the signature folded to one
    * bucket key, `key = fold(acc·31 + slot) mod P` seeded with the band
    * index, each slot read as its exact long value. Mirrors the HOF
    * `transform(sequence, aggregate(slice ...))` exactly, including
    * slices truncated by a short signature, and the SQL oracle's replay
    * of the same fold. */
  def bandKeysIntRow(sig: ArrayData, bands: Int, rowsPerBand: Int): ArrayData = {
    val nEl = sig.numElements()
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var acc = b.toLong
      var j = b * rowsPerBand
      val end = math.min(j + rowsPerBand, nEl)
      while (j < end) {
        acc = (acc * 31L + sig.getInt(j).toLong) % MinhashP
        j += 1
      }
      out(b) = acc
      b += 1
    }
    new GenericArrayData(out)
  }

  /** [[SlotMatchCountExpr]] kernel: number of positions where the two
    * signatures agree. Counted over the shorter length — identical to
    * the HOF `size(filter(zip_with(a, b, ==), eq => eq))`, whose
    * null-padded tail slots never satisfy the filter. */
  def slotMatchCountIntRow(a: ArrayData, b: ArrayData): Int = {
    val n = math.min(a.numElements(), b.numElements())
    var c = 0
    var i = 0
    while (i < n) {
      if (a.getInt(i) == b.getInt(i)) c += 1
      i += 1
    }
    c
  }

  /** [[WidenHashes62Expr]] kernel: each ~30-bit hash widened to 62
    * well-mixed bits with one Lehmer step,
    * `h62 = ((h·48271) mod 2³¹−1)·2³¹ + h`. */
  def widenHashes62Row(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      val h = arr.getLong(i)
      out(i) = ((h * 48271L) % MinhashP) * 2147483648L + h
      i += 1
    }
    new GenericArrayData(out)
  }

  /** [[SimhashBitsExpr]] kernel: bit k set iff strictly more features
    * have bit k set than clear. */
  def simhashBitsRow(arr: ArrayData, bits: Int): Long = {
    val counts = new Array[Int](bits)
    var i = 0
    val nEl = arr.numElements()
    while (i < nEl) {
      val h = arr.getLong(i)
      var k = 0
      while (k < bits) {
        if (((h >>> k) & 1L) == 1L) counts(k) += 1 else counts(k) -= 1
        k += 1
      }
      i += 1
    }
    var sig = 0L
    var k = 0
    while (k < bits) {
      if (counts(k) > 0) sig |= (1L << k)
      k += 1
    }
    sig
  }
}

/** Whole-string polynomial hash (document fingerprint); `mult`/`mod`
  * select the chain (31 / 1e9+7 default, 37 / 1e9+9 second chain). */
case class PolyHashExpr(child: Expression,
    mult: Long = 31L, mod: Long = TextHash.Mod)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override protected def nullSafeEval(input: Any): Any =
    TextHash.polyHashRow(input.asInstanceOf[UTF8String], mult, mod)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextHash.polyHashRow($c, ${mult}L, ${mod}L)")
  override protected def withNewChildInternal(newChild: Expression): PolyHashExpr =
    copy(child = newChild)
}

/** One-pass lowercase → whitespace-tokenize → per-token polyhash →
  * n-gram combine → first-occurrence distinct. Equivalent to
  * `array_distinct(zip-combine(transform(tokensLower(text), polyHash)))`. */
case class ShingleHashesExpr(child: Expression, n: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    TextHash.shingleHashesRow(input.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHash.shingleHashesRow($c, $n)")
  override protected def withNewChildInternal(newChild: Expression): ShingleHashesExpr =
    copy(child = newChild)
}

/** Per-document (term, tf) entries in first-occurrence order — the
  * scan-side half of an inverted-index build: exploding this gives exact
  * postings with NO (term, doc) shuffle (the per-doc counting that a
  * `groupBy(term, doc)` would shuffle 10⁷–10¹¹ rows for happens in one
  * hash map per row). */
case class TokenTfExpr(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("term", StringType, nullable = false),
      StructField("tf", LongType, nullable = false))), containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    TextHash.tokenTfRow(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHash.tokenTfRow($c)")
  override protected def withNewChildInternal(newChild: Expression): TokenTfExpr =
    copy(child = newChild)
}

/** POSITIONAL n-gram hash BUCKETS — the [[ShingleHashesExpr]] chain with
  * no distinct (feature counting needs multiplicity), reduced mod
  * `buckets`: the DSIR hashed-n-gram feature map (Xie et al. 2023). The
  * bucketed range means collisions are by DESIGN (importance weights are
  * learned per bucket), so the single 1e9+7 chain is sufficient. */
case class NgramBucketsExpr(child: Expression, n: Int, buckets: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    TextHash.ngramBucketsRow(input.asInstanceOf[UTF8String], n, buckets)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHash.ngramBucketsRow($c, $n, $buckets)")
  override protected def withNewChildInternal(newChild: Expression): NgramBucketsExpr =
    copy(child = newChild)
}

/** POSITIONAL wide shingle hashes — one hash per n-gram START POSITION
  * (no distinct: index i of the output IS token position i, the contract
  * span removal needs to expand coverage), each ~60 bits: two
  * independent polynomial chains combined as `h1·(1e9+9) + h2`, so a
  * false span match needs a simultaneous collision in both ~10⁹ spaces
  * (~10⁻¹⁸ per pair — a 2M-doc probe of the single-chain form produced
  * 1.85M birthday-collision false positives; this form produced the
  * exact planted count). */
case class ShingleSpanHashesExpr(child: Expression, n: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    TextHash.shingleSpanHashesRow(input.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHash.shingleSpanHashesRow($c, $n)")
  override protected def withNewChildInternal(
      newChild: Expression): ShingleSpanHashesExpr =
    copy(child = newChild)
}

/** MinHash signature, `array<int>`: slot j = min over shingle hashes of
  * `(a_j·h + b_j) mod 2³¹−1`; empty set → all-sentinel (2³¹−1). The one
  * signature format of every consumer — band keys, slot matching, the
  * index store and the streaming joins. */
case class MinhashSigExpr(child: Expression, as: Seq[Long], bs: Seq[Long])
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  @transient private lazy val aArr = as.toArray
  @transient private lazy val bArr = bs.toArray
  override protected def nullSafeEval(input: Any): Any =
    TextHash.minhashSigRow(input.asInstanceOf[ArrayData], aArr, bArr)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("minhashA", aArr, "long[]")
    val bRef = ctx.addReferenceObj("minhashB", bArr, "long[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextHash.minhashSigRow($c, $aRef, $bRef)")
  }
  override protected def withNewChildInternal(newChild: Expression): MinhashSigExpr =
    copy(child = newChild)
}

/** LSH band keys: the minhash signature split into `bands` bands of
  * `rowsPerBand` slots, each folded to one bucket key (seeded with the
  * band index so identical folds in different bands land in different
  * key spaces). One loop per row instead of a `transform(sequence,
  * aggregate(slice ...))` HOF tree interpreted per band per slot. The
  * child is an `array<int>` signature ([[MinhashSigExpr]]); any other
  * type fails analysis. */
case class BandKeysExpr(child: Expression, bands: Int, rowsPerBand: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(IntegerType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"BandKeysExpr requires array<int> input, got $other")
  }
  override protected def nullSafeEval(input: Any): Any =
    TextHash.bandKeysIntRow(input.asInstanceOf[ArrayData], bands, rowsPerBand)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextHash.bandKeysIntRow($c, $bands, $rowsPerBand)")
  override protected def withNewChildInternal(newChild: Expression): BandKeysExpr =
    copy(child = newChild)
}

/** Per-element 62-bit Lehmer widening of a hash array (the simhash
  * feature prep) — one loop per row instead of an interpreted
  * `transform` lambda per element. */
case class WidenHashes62Expr(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    TextHash.widenHashes62Row(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHash.widenHashes62Row($c)")
  override protected def withNewChildInternal(newChild: Expression): WidenHashes62Expr =
    copy(child = newChild)
}

/** Unicode NFKC compatibility normalization of a string column. */
case class NfkcExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override protected def nullSafeEval(input: Any): Any =
    TextHash.nfkcRow(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHash.nfkcRow($c)")
  override protected def withNewChildInternal(newChild: Expression): NfkcExpr =
    copy(child = newChild)
}

/** Number of agreeing slot positions between two `array<int>`
  * signatures (minhash Jaccard estimate numerator). Any other operand
  * type fails analysis in [[checkInputDataTypes]] — an `array<long>`
  * read through the int accessor would count 4-byte halves of its slots
  * and return wrong match counts silently. */
case class SlotMatchCountExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(IntegerType, _), ArrayType(IntegerType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"SlotMatchCountExpr requires two array<int> signatures, got $l and $r")
    }
  override protected def nullSafeEval(a: Any, b: Any): Any =
    TextHash.slotMatchCountIntRow(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.TextHash.slotMatchCountIntRow($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SlotMatchCountExpr =
    copy(left = newLeft, right = newRight)
}

/** SimHash bit voting over precomputed feature hashes: bit k of the
  * result is set iff strictly more features have bit k set than clear. */
case class SimhashBitsExpr(child: Expression, bits: Int)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override protected def nullSafeEval(input: Any): Any =
    TextHash.simhashBitsRow(input.asInstanceOf[ArrayData], bits)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHash.simhashBitsRow($c, $bits)")
  override protected def withNewChildInternal(newChild: Expression): SimhashBitsExpr =
    copy(child = newChild)
}
