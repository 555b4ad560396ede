package graft.dedup

import graft.SparkSpec
import graft.text.TextFunctions
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean
import org.apache.spark.sql.functions._

/** The deterministic (cross-engine) minhash/simhash path: polynomial
  * shingle hashes, affine-permutation signatures, LSH banding, and simhash
  * Hamming behavior on near-duplicates. */
class DedupSpec extends SparkSpec {

  private def docs = {
    import spark.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (2L, "the quick brown fox jumps over the lazy dog near the river bend"),
      (3L, "completely different text about distributed query engines and sparks"),
      (4L, "tiny doc"),
      (5L, "tiny doc")
    ).toDF("doc_id", "text")
  }

  /** `body` with the screen's scratch bound at `docs` batch docs, so a
    * batch of n docs screens in ⌊n / docs⌋ + 1 id-hash slices. */
  private def slicedAt[T](docs: Long)(body: => T): T =
    Dedup.screenBounds.withValue(Dedup.ScreenBounds(
      scratchBytes = docs * Dedup.ScreenScratchBytesPerDoc))(body)

  test("shingleHashes: one hash per distinct word n-gram, stable values") {
    val r = docs.select(
      size(TextFunctions.wordShingles(col("text"), 3)).as("nstr"),
      size(TextFunctions.shingleHashes(col("text"), 3)).as("nhash")).collect()
    // hash cardinality can only drop below string cardinality on a hash
    // collision — none on this fixture
    r.foreach(row => assert(row.getInt(0) == row.getInt(1), row.toString))
    // short docs (<n tokens) → empty set
    val short = docs.filter(col("doc_id") === 4)
      .select(size(TextFunctions.shingleHashes(col("text"), 3))).head().getInt(0)
    assert(short == 0)
    // stability: fixed value for a known token ("the" = ((0*31+t)*31+h)*31+e …)
    val the = docs.sparkSession.range(1)
      .select(TextFunctions.polyHash(lit("the"))).head().getLong(0)
    assert(the == (('t'.toLong * 31 + 'h') * 31 + 'e') % 1000000007L)
  }

  test("minhash est_jaccard tracks true Jaccard for near-duplicates") {
    // 16 bands of 4 rows: detection probability for J≈0.83 is
    // 1-(1-0.83⁴)¹⁶ ≈ 0.99996 (8-row bands would miss ~12% of the time)
    val cand = Dedup.minhashCandidates(docs, "doc_id", "text",
      shingleHashesOf = TextFunctions.shingleHashes(_, 3),
      numHashes = 64, bands = 16)
    val rows = cand.collect().map(r =>
      (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // docs 1/2 differ in one trailing word → true 3-shingle Jaccard ≈ 0.77;
    // the 64-slot estimate must land in a generous band around it
    assert(rows.contains((1L, 2L)), s"candidates=${rows.keySet}")
    assert(rows((1L, 2L)) > 0.5 && rows((1L, 2L)) <= 1.0, rows((1L, 2L)).toString)
    // both empty-shingle docs share the sentinel signature → est 1.0
    assert(rows.get((4L, 5L)).contains(1.0), s"rows=$rows")
    // unrelated docs either absent or scored low
    assert(rows.get((1L, 3L)).forall(_ < 0.2))
  }

  test("simhash: near-duplicates within small Hamming distance, distinct texts far") {
    val sigs = docs.select(col("doc_id"),
      Dedup.simhashFromHashes(
        transform(TextFunctions.shingleHashes(col("text"), 2),
          Dedup.widenHash62(_))).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sigs(1L), sigs(2L)) <= 12,
      s"near-dup hamming ${ham(sigs(1L), sigs(2L))}")
    assert(ham(sigs(1L), sigs(3L)) > 12,
      s"distinct hamming ${ham(sigs(1L), sigs(3L))}")
    // identical short docs (one bigram feature) → identical signatures
    assert(sigs(4L) == sigs(5L) && sigs(4L) != 0L)
    // hamming64 column expression agrees with the local bit count
    val hc = docs.sparkSession.range(1).select(
      Dedup.hamming64(lit(sigs(1L)), lit(sigs(3L)))).head().getInt(0)
    assert(hc == ham(sigs(1L), sigs(3L)))
  }

  test("minhashCandidates: over-cap buckets drop (copy-flood guard)") {
    import spark.implicits._
    // 300 verbatim copies would emit ~45k quadratic pairs; the cap drops
    // their buckets while the genuine near-dup pair is still found
    val flood = (100L until 400L).map(i =>
      (i, "identical boilerplate sentence repeated across the whole dump " +
        "with enough words to shingle"))
    val all = (docs.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      ++ flood).toDF("doc_id", "text")
    val pairs = Dedup.minhashCandidates(all, "doc_id", "text", maxBucket = 100)
      .filter(col("est_jaccard") >= 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((4L, 5L)), pairs.take(5).toString) // real dup pair
    assert(!pairs.exists(p => p._1 >= 100 && p._2 >= 100),
      s"flood pairs leaked: ${pairs.count(p => p._1 >= 100)}")
    // with the default (generous) cap the flood pairs ARE emitted
    val uncapped = Dedup.minhashCandidates(all, "doc_id", "text")
      .filter(col("est_jaccard") >= 0.5).count()
    assert(uncapped > 40000, s"uncapped $uncapped")
  }

  test("simhashCandidates: banding is pigeonhole-complete to hamming ≤ bands-1") {
    import spark.implicits._
    // near-dup cluster (1,2), exact dup pair (4,5), an unrelated doc, and
    // two empty-feature docs whose sig-0 sentinel must NOT pair up
    val all = docs.union(Seq((6L, "x"), (7L, "y")).toDF("doc_id", "text"))
    val sigs = all.select(col("doc_id"),
      Dedup.simhashFromHashes(
        transform(TextFunctions.shingleHashes(col("text"), 2),
          Dedup.widenHash62(_))).as("sig"))
    val got = Dedup.simhashCandidates(sigs, "doc_id", "sig",
        bandBits = 16, maxHamming = 63)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap

    // brute-force reference over the same population (sig != 0)
    val bySig = sigs.filter(col("sig") =!= 0L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val brute = (for {
      (ia, sa) <- bySig; (ib, sb) <- bySig if ia < ib
    } yield (ia, ib) -> ham(sa, sb)).toMap

    // every emitted pair carries the exact brute-force hamming
    got.foreach { case (k, h) => assert(brute(k) == h, s"$k: $h vs ${brute(k)}") }
    // pigeonhole: 4 bands of 16 bits catch EVERY pair within hamming 3
    brute.filter(_._2 <= 3).foreach { case (k, h) =>
      assert(got.contains(k), s"missed guaranteed pair $k (hamming $h)") }
    // the exact-dup pair collides at hamming 0; sig-0 docs never pair
    assert(got((4L, 5L)) == 0)
    assert(!got.contains((6L, 7L)))
  }

  test("decontaminate: flags train docs sharing ≥minShared n-grams with eval") {
    import spark.implicits._
    val evalSpan = "the midnight train rolled slowly through seven sleeping " +
      "villages before dawn broke over the eastern ridge"
    val train = Seq(
      // contaminated: contains the eval doc's text verbatim mid-document
      (101L, s"intro words here $evalSpan and some trailing commentary"),
      // clean: same vocabulary, different order — no 5-gram survives
      (102L, "dawn villages seven train the rolled broke midnight through " +
        "sleeping eastern over ridge slowly before"),
      (103L, "entirely unrelated text about columnar execution engines")
    ).toDF("doc_id", "text")
    val eval_ = Seq((9L, evalSpan)).toDF("doc_id", "text")

    val hits = Dedup.decontaminate(train, eval_, "doc_id", "text",
        n = 5, minShared = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(hits.map(h => (h._1, h._2)).toSeq == Seq((101L, 9L)), hits.mkString(";"))
    // a 16-token eval doc has 12 distinct 5-gram shingles, all in doc 101
    assert(hits.head._3 == 12, hits.head.toString)

    // boilerplate guard: the contaminated span pasted into 50 train docs
    // exceeds maxShingleDf → its shingles drop, nothing is flagged; with
    // the generous default all 50 are flagged
    import spark.implicits._
    val many = (200L until 250L).map(i =>
      (i, s"doc $i header $evalSpan trailing")).toDF("doc_id", "text")
    assert(Dedup.decontaminate(many, eval_, "doc_id", "text",
      n = 5, minShared = 3, maxShingleDf = 10).count() == 0)
    assert(Dedup.decontaminate(many, eval_, "doc_id", "text",
      n = 5, minShared = 3).count() == 50)

    // the df cap counts DISTINCT train docs per shingle, not occurrences:
    // ONE doc repeating the contaminated span 20 times must not push its
    // shingles over a cap of 10 — contamination still flagged
    val repetitive = Seq(
      (301L, Seq.fill(20)(evalSpan).mkString(" filler "))).toDF("doc_id", "text")
    val rep = Dedup.decontaminate(repetitive, eval_, "doc_id", "text",
      n = 5, minShared = 3, maxShingleDf = 10).collect()
    assert(rep.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((301L, 9L)))
  }

  test("minhashCandidates: lazy pairs ≡ the index screen's pairs; sig cache released") {
    import spark.implicits._
    val docs = ((1L to 40L).map(i => (i, s"unique text number $i about topic ${i % 7}")) ++
      Seq((101L, "the quick brown fox jumps over the lazy dog tonight"),
          (102L, "the quick brown fox jumps over the lazy dog today"))).toDF("doc_id", "text")
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    val pairs = Dedup.minhashCandidates(docs, "doc_id", "text",
      numHashes = 16, bands = 4)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(t => (t._1, t._2)).toSeq
    val lazyRows = rows(pairs)
    // the signature frame is a checkpoint the ContextCleaner owns: the
    // call pins no cache of its own
    val pinned = sc.getPersistentRDDs
      .filter { case (id, rdd) => !before(id) && !rdd.isCheckpointed }.keySet
    assert(pinned.isEmpty, s"minhashCandidates left pinned RDDs $pinned")
    assert(lazyRows.exists(t => t._1 == 101L && t._2 == 102L), lazyRows.mkString(";"))
    // an independent construction: screening the corpus against an index
    // of itself reports every pair sharing a band bucket, self pairs and
    // both orientations included
    val idx = Dedup.minhashIndex(docs, "doc_id", "text",
      numHashes = 16, bands = 4)
    val viaIndex = rows(Dedup.minhashSearch(idx, docs, "doc_id", "text")
      .filter(col("id_new") < col("id_ref")))
    assert(lazyRows == viaIndex, s"lazy=$lazyRows index=$viaIndex")
  }

  test("decontaminate: broadcast eval prefilter ≡ symmetric shuffle path") {
    import spark.implicits._
    val evalSpan = "quick brown foxes jump over seventeen lazy dogs while " +
      "autumn rain falls on the quiet harbor town"
    val boiler = "all rights reserved this document is provided as is " +
      "without warranty of any kind either express"
    // eval contains BOTH the contamination span and the boilerplate span,
    // so the boilerplate hashes SURVIVE the prefilter and must still be
    // dropped by the df cap — the cap/prefilter interaction under test
    val eval_ = Seq((1L, evalSpan), (2L, boiler)).toDF("doc_id", "text")
    val train = (
      Seq((10L, s"prefix $evalSpan suffix $boiler"),
          (11L, s"$evalSpan standalone"),
          (12L, "wholly unrelated text about columnar engines and joins")) ++
      // boilerplate in 30 docs > cap 10: its shingles drop in both paths
      (100L until 130L).map(i => (i, s"doc $i $boiler"))
    ).toDF("doc_id", "text")
    def run(pf: Boolean) = Dedup.decontaminate(train, eval_, "doc_id",
        "text", n = 5, minShared = 3, maxShingleDf = 10, prefilter = pf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2)).toSeq
    val pre = run(pf = true)
    assert(pre == run(pf = false), pre.mkString(";"))
    // only the contamination span flags; boilerplate is capped out
    assert(pre.map(t => (t._1, t._2)) == Seq((10L, 1L), (11L, 1L)), pre)

    // the screen itself is a broadcast left-semi — scan-stage, no train
    // shuffle ahead of it
    val plan = Dedup.decontaminate(train, eval_, "doc_id", "text", n = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"), plan.take(2000))
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("decontaminateBloom ≡ exact decontaminate, even fpp-saturated") {
    import spark.implicits._
    val evalSpan = "quick brown foxes jump over seventeen lazy dogs while " +
      "autumn rain falls on the quiet harbor town"
    val boiler = "all rights reserved this document is provided as is " +
      "without warranty of any kind either express"
    val eval_ = Seq((1L, evalSpan), (2L, boiler)).toDF("doc_id", "text")
    val train = (
      Seq((10L, s"prefix $evalSpan suffix $boiler"),
          (11L, s"$evalSpan standalone"),
          (12L, "wholly unrelated text about columnar engines and joins")) ++
      (100L until 130L).map(i => (i, s"doc $i $boiler"))
    ).toDF("doc_id", "text")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(t => (t._1, t._2)).toSeq
    val exact = canon(Dedup.decontaminate(train, eval_, "doc_id", "text",
      n = 5, minShared = 3, maxShingleDf = 10))
    // well-sized filter
    assert(canon(Dedup.decontaminateBloom(train, eval_, "doc_id", "text",
      n = 5, minShared = 3, maxShingleDf = 10,
      expectedShingles = 1000L)) == exact)
    // deliberately undersized filter → fpp saturates toward 1, tier 1
    // passes nearly everything — the exact tier-2 join must still
    // produce the identical result (Bloom has no false negatives)
    assert(canon(Dedup.decontaminateBloom(train, eval_, "doc_id", "text",
      n = 5, minShared = 3, maxShingleDf = 10,
      expectedShingles = 2L, fpp = 0.5)) == exact)
    // the probe stays inside whole-stage codegen (no CodegenFallback
    // kicked the filter out of its span) and plans no broadcast-set
    // semi-join on the train side
    val plan = Dedup.decontaminateBloom(train, eval_, "doc_id", "text",
      n = 5).queryExecution.executedPlan.toString
    assert(plan.contains("bloommightcontainlong") ||
      plan.contains("BloomMightContainLong"), plan.take(3000))
    assert(!plan.contains("LeftSemi"), plan.take(3000))
  }

  test("removeRepeatedSpans: cross-doc repeated n-grams drop, unique text survives") {
    import spark.implicits._
    val boiler = "all rights reserved unauthorized copying is strictly prohibited"
    val docs = Seq(
      (1L, s"alpha beta gamma $boiler delta epsilon"),
      (2L, s"one two three four five six seven $boiler"),
      (3L, "entirely unique document with no shared spans at all here"),
      // repeats an n-gram WITHIN one doc only — df counts documents, so
      // it must survive (same rule as decontaminate's cap)
      (4L, "self repeat self repeat self repeat self repeat self repeat xyz")
    ).toDF("doc_id", "text")
    val out = Dedup.removeRepeatedSpans(docs, "doc_id", "text", n = 5, minDf = 2)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    // the 8-token boilerplate is fully covered by its 5-grams in both docs;
    // the neighbors are NOT covered (their 5-grams are unique per doc)
    assert(out(1L) == (("alpha beta gamma delta epsilon", 8L)), out(1L).toString)
    assert(out(2L) == (("one two three four five six seven", 8L)), out(2L).toString)
    assert(out(3L)._2 == 0L && out(3L)._1.startsWith("entirely unique"))
    assert(out(4L)._2 == 0L, out(4L).toString)

    // positional coverage: a doc carrying the SAME flagged span twice must
    // lose BOTH occurrences (the hash stream is positional, not distinct —
    // a first-occurrence-distinct stream would miss the second copy)
    val twice = Seq(
      (10L, s"$boiler middle words here $boiler tail"),
      (11L, s"unrelated prefix $boiler")
    ).toDF("doc_id", "text")
    val o2 = Dedup.removeRepeatedSpans(twice, "doc_id", "text", n = 5, minDf = 2)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(o2(10L) == (("middle words here tail", 16L)), o2(10L).toString)
    assert(o2(11L) == (("unrelated prefix", 8L)), o2(11L).toString)
  }

  test("charShingles and keepFirstPerGroup contracts") {
    import spark.implicits._
    val sh = Seq("abcd").toDF("t")
      .select(TextFunctions.charShingles(col("t"), 2))
      .head().getSeq[String](0)
    assert(sh == Seq("ab", "bc", "cd"))
    // canonical keep: first row per group in order — the post-CC policy
    val df = Seq((1L, 10L), (1L, 3L), (2L, 7L), (1L, 5L)).toDF("comp", "id")
    val kept = Dedup.keepFirstPerGroup(df, "comp", "id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(kept == Set((1L, 3L), (2L, 7L)))
  }

  test("redactPii: emails/IPs/cards/phones replaced, clean text untouched") {
    import spark.implicits._
    val cases = Seq(
      ("mail me at jane.doe+spam@sub.example.co.uk today",
        "mail me at <EMAIL> today"),
      ("server 192.168.001.7 and 10.0.0.255 up", "server <IP> and <IP> up"),
      ("card 4111 1111 1111 1111 or 4242-4242-4242-4242 stolen",
        "card <NUMBER> or <NUMBER> stolen"),
      ("call +1 555 0123 456 now", "call <PHONE> now"),
      // order: the email's digits must not be half-eaten by later passes
      ("a1b2@x.io vs 1.2.3.4", "<EMAIL> vs <IP>"),
      // no PII → byte-identical passthrough
      ("the quick brown fox 7 times", "the quick brown fox 7 times"))
    val got = cases.map(_._1).toDF("t")
      .select(TextFunctions.redactPii(col("t"))).collect().map(_.getString(0))
    got.zip(cases.map(_._2)).foreach { case (g, w) => assert(g == w, s"'$g'") }
    // audit counts
    val n = Seq("a@b.com c@d.org 1.2.3.4").toDF("t").select(
      TextFunctions.piiCount(col("t"), "email"),
      TextFunctions.piiCount(col("t"), "ip")).head()
    assert(n.getLong(0) == 2 && n.getLong(1) == 1)
  }

  test("simhashCandidates: over-cap buckets drop (copy-flood guard)") {
    import spark.implicits._
    val flood = (100L until 400L).map(i =>
      (i, "identical boilerplate sentence repeated across the whole dump"))
    val all = (docs.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      ++ flood).toDF("doc_id", "text")
    val sigs = all.select(col("doc_id"),
      Dedup.simhashFromHashes(
        transform(TextFunctions.shingleHashes(col("text"), 2),
          Dedup.widenHash62(_))).as("sig"))
    val capped = Dedup.simhashCandidates(sigs, "doc_id", "sig",
        maxHamming = 8, maxBucket = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!capped.exists(p => p._1 >= 100 && p._2 >= 100),
      s"flood pairs leaked: ${capped.count(p => p._1 >= 100)}")
    assert(capped.contains((4L, 5L)), capped.take(5).toString)
  }

  test("native ShingleHashes expression ≡ the higher-order-function formulation") {
    val n = docs.select(
      TextFunctions.shingleHashes(col("text"), 3).as("a"),
      TextFunctions.shingleHashesHof(col("text"), 3).as("b")).collect()
    n.foreach { r =>
      assert(r.getSeq[Long](0).sorted == r.getSeq[Long](1).sorted, r.toString)
    }
  }

  test("widenHash62 stays in 62 bits and is injective on the base range sample") {
    val hs = (0L until 1000L).map(h =>
      ((h * 48271L) % 2147483647L) * 2147483648L + h)
    assert(hs.forall(h => h >= 0 && h < (1L << 62)))
    assert(hs.distinct.size == hs.size)
  }

  test("repetitionStats: hand-computed Gopher-style fractions") {
    import spark.implicits._
    // "a b a b a": words {a:3, b:2} → tot=5, dist=2, dup_word_frac=3/5;
    // char sums: a→3·1, b→2·1 → totchars=5, dupchars=(3−1)+(2−1)=3;
    // bigrams: "a b"×2, "b a"×2 → cover=max(2·3)=6, len(text)=9
    val df = Seq((1L, "a b a b a"), (2L, "x y z"), (3L, "aa aa")).toDF("doc_id", "text")
    val got = TextFunctions.repetitionStats(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(math.abs(got(1L)._1 - 3.0 / 5) < 1e-12)
    assert(math.abs(got(1L)._2 - 3.0 / 5) < 1e-12)
    assert(math.abs(got(1L)._3 - 6.0 / 9) < 1e-12)
    // all-unique doc: zero repetition; best bigram covers once
    assert(got(2L)._1 == 0.0 && got(2L)._2 == 0.0)
    assert(math.abs(got(2L)._3 - 3.0 / 5) < 1e-12) // "x y" len 3 / len 5
    // fully duplicated two-word doc
    assert(math.abs(got(3L)._1 - 0.5) < 1e-12)
    assert(math.abs(got(3L)._2 - 0.5) < 1e-12)
    assert(math.abs(got(3L)._3 - 5.0 / 5) < 1e-12) // "aa aa" covers all
  }

  test("topVocabulary: count-desc rank with deterministic lexicographic ties") {
    import spark.implicits._
    val df = Seq((1L, "b a b C c"), (2L, "a b")).toDF("doc_id", "text")
    // counts: a=2, b=3, c=2 (lowercased) → rank: b(3), then a before c
    val got = TextFunctions.topVocabulary(df, "text", k = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq(("b", 3L, 1L), ("a", 2L, 2L)))
  }

  test("qualityFilter: keep verdict with auditable reasons") {
    import spark.implicits._
    val good = "the quick brown fox jumps over the lazy sleeping dog " +
      "while seventeen astronomers chart winter skies above harbors"
    val df = Seq(
      (1L, good),
      (2L, "ok go"),                                // < 10 tokens
      (3L, ("spam " * 30).trim)                     // repetitive → low ttr
    ).toDF("doc_id", "text")
    val got = TextFunctions.qualityFilter(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getBoolean(1), r.getString(2))).toMap
    assert(got(1L) == ((true, "")))
    assert(!got(2L)._1 && got(2L)._2.contains("too_short"))
    assert(!got(3L)._1 && got(3L)._2.contains("low_diversity"))
  }

  test("repetitionStats: token-less docs are dropped (documented), no /0 abort") {
    import spark.implicits._
    val df = Seq((1L, ""), (2L, "   "), (3L, "ok ok")).toDF("doc_id", "text")
    val got = TextFunctions.repetitionStats(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    // empty/whitespace docs explode to zero rows, so their zero
    // denominators never reach the division (the scaladoc'd contract)
    assert(got.keySet == Set(3L))
    assert(got(3L)._1 == 0.5)
  }

  /** Local union-find ground truth for the distributed components. */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  test("connectedComponents == union-find on random graphs (incl. long chains)") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    // random sparse graph + a 40-node chain (exercises pointer jumping
    // past the naive round bound) + an isolated pair
    val random = (0 until 120).map(_ =>
      (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter { case (a, b) => a != b }
    val chain = (100L until 140L).map(i => (i, i + 1))
    val edges = random ++ chain ++ Seq((500L, 501L))
    val df = edges.toDF("id_a", "id_b")
    // default threshold → driver union-find path
    val got = Dedup.connectedComponents(df, maxIter = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = unionFind(edges)
    assert(got.keySet == want.keySet)
    got.foreach { case (id, comp) =>
      assert(comp == want(id), s"node $id: $comp vs ${want(id)}")
    }
    // threshold 0 forces the distributed min-label/pointer-jump path —
    // both paths must produce the identical labeling
    val distributed = Dedup.connectedComponents(df, maxIter = 8,
        driverThreshold = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(distributed == got)
  }

  test("dedupParagraphs: global first occurrence wins, empties exempt") {
    import spark.implicits._
    val pages = Seq(
      (1L, "header\nalpha one\n\nbeta two"),
      (2L, "header\ngamma three\nbeta two"),   // header + beta two dup'd
      (3L, "delta\ndelta\n  \nheader"),        // within-doc dup + ws-only
      (4L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val out = Dedup.dedupParagraphs(pages, "doc_id", "text")
      .orderBy("doc_id").collect()
    // doc 1 is first everywhere: untouched (incl. its empty paragraph)
    assert(out(0).getLong(1) == 4L && out(0).getLong(2) == 0L)
    assert(out(0).getString(3) == "header\nalpha one\n\nbeta two")
    // doc 2: header and beta two removed
    assert(out(1).getLong(2) == 2L)
    assert(out(1).getString(3) == "gamma three")
    // doc 3: first delta kept, second removed (within-doc), whitespace
    // paragraph exempt, header removed
    assert(out(2).getLong(2) == 2L)
    assert(out(2).getString(3) == "delta\n  ")
    // null text → one empty exempt paragraph
    assert(out(3).getLong(1) == 1L && out(3).getLong(2) == 0L)
    assert(out(3).getString(3) == "")
  }

  test("dedupParagraphs: sep and minChars parameters") {
    import spark.implicits._
    val pages = Seq(
      (1L, "aa|b|cc"),
      (2L, "cc|b|dd"))
      .toDF("doc_id", "text")
    // minChars=2: the 1-char paragraph "b" is exempt in BOTH docs
    val out = Dedup.dedupParagraphs(pages, "doc_id", "text",
      sep = "|", minChars = 2)
      .orderBy("doc_id").collect()
    assert(out(0).getString(3) == "aa|b|cc")
    assert(out(1).getString(3) == "b|dd")
    assert(out(1).getLong(2) == 1L)
  }

  test("dedupParagraphs: hot-key broadcast path ≡ cold sort-merge path") {
    import spark.implicits._
    val pages = (1L to 40L).map(i => (i,
      s"shared header everywhere\nunique line $i\n" +
        (if (i % 2 == 0) "recurring block" else s"solo $i")))
      .toDF("doc_id", "text")
    // hotMinCount=2 pushes every duplicated paragraph through the
    // broadcast branch; the default keeps them all on the SMJ branch
    val viaHot = Dedup.dedupParagraphs(pages, "doc_id", "text",
      hotMinCount = 2L).orderBy("doc_id").collect()
    val viaCold = Dedup.dedupParagraphs(pages, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(viaHot.toSeq == viaCold.toSeq)
    assert(viaHot.head.getString(3).startsWith("shared header everywhere"))
    assert(viaHot(1).getLong(2) == 1L) // doc 2 owns the first "recurring block"
    assert(viaHot(3).getLong(2) == 2L) // doc 4: header + recurring block
  }

  test("minhashIndex/minhashSearch ≡ cross-corpus slice of the self-join") {
    import spark.implicits._
    // split one corpus in half; screening the odd half against an index
    // of the even half must reproduce exactly the even×odd pairs the
    // one-corpus self-join reports (same signatures, same band keys)
    val corpus = (0L until 40L).map { i =>
      val fam = i % 6
      (i, s"family $fam shares this long sentence body variant ${i % 12} " +
        "with trailing words common to the group")
    }.toDF("doc_id", "text")
    val ref = corpus.filter(col("doc_id") % 2 === 0)
    val batch = corpus.filter(col("doc_id") % 2 === 1)
    val self = Dedup.minhashCandidates(corpus, "doc_id", "text",
      numHashes = 64, bands = 16)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter { case (a, b, _) => (a % 2 == 0) != (b % 2 == 0) }
      .map { case (a, b, j) => // orient as (new=odd, ref=even)
        if (a % 2 == 1) (a, b, j) else (b, a, j) }
      .sorted.toSeq
    val idx = Dedup.minhashIndex(ref, "doc_id", "text",
      numHashes = 64, bands = 16)
    val viaIndex = Dedup.minhashSearch(idx, batch, "doc_id", "text")
      .collect().map(r => (r.getLong(1), r.getLong(0), r.getDouble(2)))
      .sorted.toSeq // columns are (id_new, id_ref, est); getLong(1)=id_ref
    val viaIndexOriented = viaIndex.map { case (ref0, nw, j) => (nw, ref0, j) }
      .sorted
    assert(viaIndexOriented == self,
      s"index=${viaIndexOriented.take(5)} self=${self.take(5)}")
    assert(self.nonEmpty, "construction must produce cross pairs")
    // the sliced screen ≡ one-shot over this realistic corpus too (the
    // flood spec below pins the cap corner; this pins the common shape):
    // 20 batch docs under a 5-doc bound → 5 hash-carved slices
    val viaChunks = slicedAt(5L)(Dedup.minhashSearch(idx, batch, "doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sorted.toSeq
    assert(viaChunks == viaIndexOriented,
      "chunked screen diverged from the one-shot screen")
    // persist lifecycle: pinned index returns the identical result
    val pinned = idx.persist()
    // serving-layout contract (r11): the pinned banded store is cached
    // HASH-PARTITIONED ON bucket, so the screen's band join plans no
    // exchange above the index-side cache scan (without the layout, the
    // 50M probe measured 10.7 GB of index re-shuffle PER 2M-doc screen).
    // AQE is toggled off for the plan-shape check only — its query-stage
    // wrappers hide the exchange/scan nesting (results unaffected).
    // (the screen's band join runs eagerly inside the candidate
    // checkpoint, so it cannot be asserted from the returned plan; the
    // layout contract below is what makes EnsureRequirements elide the
    // index-side exchange, and the 50M probe measures the effect
    // end-to-end in shuffle bytes per screen)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val part = pinned.banded.queryExecution.executedPlan.outputPartitioning
      assert(part.toString.contains("hashpartitioning") &&
        part.toString.contains("bucket"),
        s"pinned banded store not cached bucket-partitioned: $part")
      // a band-keyed shuffle join against the pinned store must not
      // exchange the index side (broadcast disabled so the check runs
      // the at-scale join shape)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val probe = pinned.banded.select(col("bucket"), col("id").as("id2"))
      val plan = probe.join(pinned.banded, Seq("bucket"))
        .queryExecution.executedPlan
      val offending = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if e.find(_.isInstanceOf[
            org.apache.spark.sql.execution.columnar.InMemoryTableScanExec])
            .isDefined => e
      }
      assert(offending.isEmpty, s"pinned store re-shuffled under a bucket join:\n$plan")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
    val again = Dedup.minhashSearch(pinned, batch, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sorted.toSeq
    // the same contract under AQE ON — the configuration screens really
    // run with (r12: the AQE-off-only check let a wrong r11 shuffle
    // claim survive a round; the elision in fact holds under AQE too,
    // verified here through the executed adaptive plan via the
    // Bridge.allExecutedNodes walker, since query stages are leaf nodes
    // a plain collect cannot see past)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val probe2 = pinned.banded.select(col("bucket"), col("id").as("id2"))
      val joined2 = probe2.join(pinned.banded, Seq("bucket"))
      // finalize THIS dataset's own adaptive plan: .count() would spin up
      // a separate QueryExecution (Dataset.count goes through
      // groupBy().count()), leaving joined2's AdaptiveSparkPlanExec
      // unexecuted and its executedPlan at the INITIAL plan — the r12
      // form of this check inspected exactly that pre-adaptive plan
      joined2.collect()
      val nodes = org.apache.spark.sql.graftbridge.Bridge
        .allExecutedNodes(joined2.queryExecution.executedPlan)
      // prove the adaptive plan actually finalized: a finalized AQE plan
      // contains materialized query stages; zero stages means we are
      // again looking at a plan that never ran
      assert(nodes.exists(_.isInstanceOf[
        org.apache.spark.sql.execution.adaptive.QueryStageExec]),
        "AQE-on walker saw no QueryStageExec — inspected an unexecuted " +
          s"(initial) adaptive plan:\n${joined2.queryExecution}")
      val offending2 = nodes.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if org.apache.spark.sql.graftbridge.Bridge.allExecutedNodes(e).exists(
            _.isInstanceOf[
              org.apache.spark.sql.execution.columnar.InMemoryTableScanExec]) => e
      }
      assert(offending2.isEmpty,
        s"pinned store re-shuffled under AQE-on bucket join:\n${joined2.queryExecution}")
      assert(nodes.exists(_.isInstanceOf[
        org.apache.spark.sql.execution.columnar.InMemoryTableScanExec]),
        "AQE-on walker never reached the cache scan — walker broken, not plan green")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    pinned.release()
    assert(again == viaIndex.map { case (r2, n, j) => (n, r2, j) }.sorted)
  }

  test("minhashSearch chunked ≡ unchunked with a batch-side flood (global cap)") {
    import spark.implicits._
    // the corner that makes naive chunking WRONG: the batch-side flood
    // cap counts bucket members within the arriving batch, so a flood of
    // 8 identical docs (> maxBucket=3 → dropped whole-batch) carved into
    // 4 slices of ~2 would duck under a per-slice cap and start matching
    // the 2 index copies of the same text. The chunked path must compute
    // the over-cap list over the FULL batch once — pinned here by exact
    // result equality, where the flood contributes zero pairs either way.
    val floodText = "boilerplate footer text repeated verbatim across the " +
      "whole crawl with enough words to shingle"
    val ref = (
      (0L until 20L).map(i => (i, s"reference document number $i body " +
        s"talks about topic ${i % 4} in some detail with shared phrasing")) ++
      Seq((100L, floodText), (101L, floodText))
    ).toDF("doc_id", "text")
    val batch = (
      (0L until 6L).map(i => (1000L + i, s"reference document number $i " +
        s"body talks about topic ${i % 4} in some detail with shared " +
        "phrasing tailtok")) ++
      (0L until 8L).map(i => (2000L + i, floodText))
    ).toDF("doc_id", "text")
    val idx = Dedup.minhashIndex(ref, "doc_id", "text",
      numHashes = 64, bands = 16, maxBucket = 3L)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sorted.toSeq
    def run(docsPerSlice: Long) = rows(slicedAt(docsPerSlice)(
      Dedup.minhashSearch(idx, batch, "doc_id", "text")))
    val oneShot = rows(Dedup.minhashSearch(idx, batch, "doc_id", "text"))
    // sanity on the fixture: perturbed docs match their sources, flood
    // docs match NOTHING despite the index holding two under-cap copies
    assert(oneShot.exists { case (nw, rf, _) => nw == 1000L && rf == 0L })
    assert(!oneShot.exists { case (nw, _, _) => nw >= 2000L },
      s"flood docs must be capped out of the batch side: $oneShot")
    // 14 batch docs under a 4-doc bound → 4 hash-carved slices; the
    // flood's 8 docs spread ~2 per slice, under the per-slice count —
    // only the global over-cap list keeps them dropped
    assert(run(4L) == oneShot, "chunked screen diverged (flood corner)")
    // a bound over the batch size takes the one-shot path
    assert(run(100L) == oneShot)
  }

  test("Bridge.localCheckpointWithCount: rows, count and truncated lineage") {
    import spark.implicits._
    import org.apache.spark.sql.graftbridge.Bridge
    // a frame WITH a shuffle underneath, so lineage truncation is visible
    val src = (0L until 97L).map(i => (i % 7, i)).toDF("k", "v")
      .groupBy("k").agg(count(lit(1)).as("n"), sum("v").as("s"))
    val expect = src.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val (cp, n) = Bridge.localCheckpointWithCount(src)
    // the count comes from the materializing job itself
    assert(n == 7L, s"count $n")
    assert(cp.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq == expect)
    // lineage is truncated: the returned plan reads checkpoint blocks,
    // no exchange (the contract the one-job elision relies on — same as
    // Dataset.localCheckpoint(eager = true))
    val nodes = Bridge.allExecutedNodes(
      cp.queryExecution.executedPlan).map(_.getClass.getSimpleName)
    assert(!nodes.exists(_.contains("ShuffleExchange")),
      s"expected no exchange above the checkpoint blocks, got $nodes")
    // schema preserved exactly
    assert(cp.schema == src.schema)
  }

  test("minhashSearch chunked barrier mode: slice shuffles reclaimed, result identical") {
    import spark.implicits._
    import org.apache.spark.sql.graftbridge.Bridge
    // the sliced screen reclaims the shuffles each slice's own plans
    // wrote. Forced here at gate scale by a
    // 7-doc bound (30 docs → 5 slices); the invariant is total — the
    // whole sliced screen leaves ZERO registered shuffles behind (the
    // flood-cap aggregate and every slice's band/rescore shuffles are
    // all insurance-only behind checkpoint blocks).
    val corpus = (0L until 30L).map(i =>
      (i, s"cluster ${i % 6} shared long body sentence variant ${i % 3} " +
        "with persistent trailing words here")).toDF("doc_id", "text")
    val ref = corpus
    val batch = corpus.select((col("doc_id") + 500L).as("doc_id"),
      concat(col("text"), lit(" tail")).as("text"))
    val idx = Dedup.minhashIndex(ref, "doc_id", "text",
      numHashes = 64, bands = 16).persist()
    val sc = spark.sparkContext
    def collectSorted(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sorted.toSeq
    val oneShot = collectSorted(
      Dedup.minhashSearch(idx, batch, "doc_id", "text"))
    assert(oneShot.nonEmpty)
    val before = Bridge.shuffleIds(sc)
    val chunkedDf = slicedAt(7L)(Dedup.minhashSearch(idx, batch, "doc_id", "text"))
    val leftover = Bridge.shuffleIds(sc) -- before
    assert(leftover.isEmpty,
      s"barrier-mode chunked screen left registered shuffles: $leftover")
    assert(collectSorted(chunkedDf) == oneShot,
      "barrier-mode chunked screen diverged from the one-shot screen")
    idx.release()
  }

  test("minhashSearch sliced screen leaves a concurrent query's shuffle registered") {
    import spark.implicits._
    import org.apache.spark.sql.graftbridge.Bridge
    // another query of the same context registers a shuffle WHILE the
    // sliced screen runs. The index's banded side holds its first reader
    // (a task of slice 0's band join) until that shuffle is registered,
    // so it lands inside the screen on every run; the screen must delete
    // its own shuffles only.
    val corpus = (0L until 30L).map(i =>
      (i, s"cluster ${i % 6} shared long body sentence variant ${i % 3} " +
        "with persistent trailing words here")).toDF("doc_id", "text")
    val batch = corpus.select((col("doc_id") + 500L).as("doc_id"),
      concat(col("text"), lit(" tail")).as("text"))
    val idx = Dedup.minhashIndex(corpus, "doc_id", "text",
      numHashes = 64, bands = 16)
    val sc = spark.sparkContext
    def collectSorted(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sorted.toSeq
    val oneShot = collectSorted(
      Dedup.minhashSearch(idx, batch, "doc_id", "text"))
    val held = idx.copy(banded = idx.banded.filter(
      udf((_: Long) => DedupSpec.HoldFirstReader.pass()).asNondeterministic()(
        col("id"))))
    val other = new java.util.concurrent.atomic.AtomicReference[
      org.apache.spark.rdd.RDD[(Int, Int)]]()
    val otherQuery = new Thread(() => {
      if (DedupSpec.HoldFirstReader.started.await(60, TimeUnit.SECONDS)) {
        val rdd = sc.parallelize(1 to 20, 2).map(i => (i % 3, i))
          .reduceByKey(_ + _)
        rdd.count()
        other.set(rdd)
      }
      DedupSpec.HoldFirstReader.registered.countDown()
    })
    otherQuery.start()
    val sliced = try slicedAt(7L)(
      Dedup.minhashSearch(held, batch, "doc_id", "text"))
    finally {
      DedupSpec.HoldFirstReader.registered.countDown()
      otherQuery.join(60000L)
    }
    assert(other.get != null, "the other query never ran inside the screen")
    val otherId = other.get.dependencies.head
      .asInstanceOf[org.apache.spark.ShuffleDependency[_, _, _]].shuffleId
    assert(Bridge.shuffleIds(sc).contains(otherId),
      s"the sliced screen deleted shuffle $otherId of another query")
    assert(other.get.collect().toMap == (1 to 20).groupBy(_ % 3)
      .map { case (k, v) => k -> v.sum })
    assert(collectSorted(sliced) == oneShot)
  }

  /** q116's and q134's rows and build + action job counts on the gate's
    * sf0.01 tables (perfbench/gate_sf0.01 is their byte copy); each table
    * is read once first, so the schema catalog's inference job is not
    * counted. */
  private def gateRun(q: String): (Seq[String], Int) = {
    val gateDir = "perfbench/gate_sf0.01"
    graft.SparkEntry.tbl(spark, gateDir, "documents")
    jobsLaunchedBy(
      graft.SparkEntry.queries(q)(spark, gateDir).collect().map(_.toString).sorted.toSeq)
  }

  test("q134 screens the gate's sf0.01 batch in slices: its job count is pinned") {
    // 500 batch docs against q134's 400-doc bound: 2 slices, each a band
    // join, a rescore and a checkpoint, plus the whole-batch flood cap
    val (rows, jobs) = gateRun("q134_minhash_index_search_chunked")
    assert(rows.nonEmpty)
    assert(jobs == 25, s"q134 launched $jobs jobs")
  }

  test("q134's sliced screen returns q116's one-pass rows on the gate's sf0.01 tables") {
    val (q116, _) = gateRun("q116_minhash_index_search")
    val (q134, _) = gateRun("q134_minhash_index_search_chunked")
    assert(q116.nonEmpty && q134 == q116)
  }

  test("MinhashIndex.append ≡ rebuild over the union, incl. cap crossing") {
    import spark.implicits._
    // base corpus: 3 copies of a boilerplate page (under cap 4) + unique
    // docs; the appended batch adds 3 MORE boilerplate copies, pushing
    // the boilerplate band buckets over the cap — append must evict the
    // OLD rows of those buckets too, exactly as a from-scratch build over
    // the union would
    def boiler(i: Long) =
      (i, "this exact boilerplate page body repeats verbatim across many " +
        "mirror sites with the same long wording")
    def uniq(i: Long) =
      (i, s"unique document $i about subject ${i % 5} with its own " +
        s"distinct long body text number $i")
    val base = ((0L until 3L).map(boiler) ++ (10L until 20L).map(uniq))
      .toDF("doc_id", "text")
    val batch = ((100L until 103L).map(boiler) ++ (110L until 115L).map(uniq))
      .toDF("doc_id", "text")
    val appended = Dedup.minhashIndex(base, "doc_id", "text",
      numHashes = 64, bands = 16, maxBucket = 4)
      .append(batch, "doc_id", "text")
    val rebuilt = Dedup.minhashIndex(base.unionByName(batch), "doc_id", "text",
      numHashes = 64, bands = 16, maxBucket = 4)
    def sigRows(ix: Dedup.MinhashIndex) = ix.sigs.collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1).mkString(","))).sorted.toSeq
    def bandRows(ix: Dedup.MinhashIndex) = ix.banded.collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    def cntRows(ix: Dedup.MinhashIndex) = ix.counts.collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(sigRows(appended) == sigRows(rebuilt))
    assert(bandRows(appended) == bandRows(rebuilt))
    assert(cntRows(appended) == cntRows(rebuilt))
    // the cap actually bit: boilerplate docs are banded in neither index
    val bandedIds = bandRows(appended).map(_._1).toSet
    assert(!bandedIds.exists(i => i < 10L || (i >= 100L && i < 110L)),
      bandedIds.toString)
    assert(bandedIds.nonEmpty)
    // a second append chains off the first's checkpointed counts
    val batch2 = (200L until 204L).map(uniq).toDF("doc_id", "text")
    val twice = appended.append(batch2, "doc_id", "text")
    val rebuilt2 = Dedup.minhashIndex(
      base.unionByName(batch).unionByName(batch2), "doc_id", "text",
      numHashes = 64, bands = 16, maxBucket = 4)
    assert(bandRows(twice) == bandRows(rebuilt2))
    assert(cntRows(twice) == cntRows(rebuilt2))
    // and screening against the appended index ≡ against the rebuild
    val probe = Seq(uniq(110L), uniq(999L)).toDF("doc_id", "text")
    def hits(ix: Dedup.MinhashIndex) =
      Dedup.minhashSearch(ix, probe, "doc_id", "text")
        .filter(col("est_jaccard") >= 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(hits(twice) == hits(rebuilt2))
    assert(hits(twice).contains((110L, 110L)) ||
      hits(twice).exists(_._1 == 110L), hits(twice).toString)
  }

  test("MinhashIndex.remove ≡ rebuild, incl. a bucket falling under cap") {
    import spark.implicits._
    def boiler(i: Long) =
      (i, "this exact boilerplate page body repeats verbatim across many " +
        "mirror sites with the same long wording")
    def uniq(i: Long) =
      (i, s"unique document $i about subject ${i % 5} with its own " +
        s"distinct long body text number $i")
    // 6 boilerplate copies > cap 4 → their buckets dropped at build
    val base = ((0L until 6L).map(boiler) ++ (10L until 20L).map(uniq))
      .toDF("doc_id", "text")
    val idx = Dedup.minhashIndex(base, "doc_id", "text",
      numHashes = 64, bands = 16, maxBucket = 4)
    def bandRows(ix: Dedup.MinhashIndex) = ix.banded.collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    def cntRows(ix: Dedup.MinhashIndex) = ix.counts.collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    def sigIds(ix: Dedup.MinhashIndex) = ix.sigs.collect()
      .map(_.getLong(0)).sorted.toSeq
    // removing 3 boilerplate copies takes the flood buckets back to 3 ≤ 4:
    // their surviving rows must be RESTORED
    val removed = idx.remove(Seq(0L, 1L, 2L, 10L).toDF("id"), "id")
    val rebuilt = Dedup.minhashIndex(
      base.filter(!col("doc_id").isin(0L, 1L, 2L, 10L)), "doc_id", "text",
      numHashes = 64, bands = 16, maxBucket = 4)
    assert(sigIds(removed) == sigIds(rebuilt))
    assert(bandRows(removed) == bandRows(rebuilt))
    assert(cntRows(removed) == cntRows(rebuilt))
    // the restore actually happened: surviving boilerplate docs ARE banded
    assert(bandRows(removed).map(_._1).toSet.intersect(Set(3L, 4L, 5L)).nonEmpty)
    // a screen against the removed index finds the surviving boilerplate
    val probe = Seq(boiler(999L)).toDF("doc_id", "text")
    val hits = Dedup.minhashSearch(removed, probe, "doc_id", "text")
      .filter(col("est_jaccard") >= 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(hits.map(_._2).toSet == Set(3L, 4L, 5L), hits.toString)
    // unique-docs-only removal (no cap un-crossing) ≡ rebuild too
    val rm2 = removed.remove(Seq(11L, 12L).toDF("id"), "id")
    val rebuilt2 = Dedup.minhashIndex(
      base.filter(!col("doc_id").isin(0L, 1L, 2L, 10L, 11L, 12L)),
      "doc_id", "text", numHashes = 64, bands = 16, maxBucket = 4)
    assert(bandRows(rm2) == bandRows(rebuilt2))
    assert(cntRows(rm2) == cntRows(rebuilt2))
  }

  test("MinhashIndex.remove works on non-numeric string ids (no silent no-op)") {
    import spark.implicits._
    // string ids like "url-a" cast to long as NULL — a cast in remove()
    // would make the anti-join match nothing and removals silently no-op
    val docs = Seq(
      ("url-a", "the quick brown fox jumps over the lazy dog again today"),
      ("url-b", "the quick brown fox jumps over the lazy dog again tonight"),
      ("url-c", "completely unrelated body text about gardening and soil"))
      .toDF("doc_id", "text")
    val idx = Dedup.minhashIndex(docs, "doc_id", "text",
      numHashes = 64, bands = 16)
    val removed = idx.remove(Seq("url-a").toDF("id"), "id")
    val sigIds = removed.sigs.select("id").collect().map(_.getString(0)).sorted
    assert(sigIds.toSeq == Seq("url-b", "url-c"), sigIds.toSeq.toString)
    val bandIds = removed.banded.select("id").distinct()
      .collect().map(_.getString(0)).toSet
    assert(!bandIds.contains("url-a"), bandIds.toString)
    // screen no longer surfaces the removed doc
    val probe = Seq(("p1", "the quick brown fox jumps over the lazy dog again today"))
      .toDF("doc_id", "text")
    val hits = Dedup.minhashSearch(removed, probe, "doc_id", "text")
      .select("id_ref").collect().map(_.getString(0)).toSet
    assert(!hits.contains("url-a"), hits.toString)
  }

  test("MinhashIndex save/load round-trip: search and append unchanged") {
    import spark.implicits._
    val docs = (0L until 30L).map { i =>
      (i, s"family ${i % 4} shares this long sentence body with trailing " +
        s"words common to the group variant ${i % 7}")
    }.toDF("doc_id", "text")
    val idx = Dedup.minhashIndex(docs, "doc_id", "text",
      numHashes = 64, bands = 16)
    val dir = java.nio.file.Files.createTempDirectory("mhidx").toString
    idx.save(dir)
    val loaded = Dedup.minhashIndexLoad(spark, dir)
    assert(loaded.numHashes == 64 && loaded.bands == 16 &&
      loaded.maxBucket == idx.maxBucket)
    // v2 store: signatures persist (and reload) as array<int> — half the
    // bytes per signature of the v1 long form, losslessly
    assert(idx.sigs.schema("sig").dataType ==
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.IntegerType, containsNull = false))
    assert(loaded.sigs.schema("sig").dataType.asInstanceOf[
      org.apache.spark.sql.types.ArrayType].elementType ==
      org.apache.spark.sql.types.IntegerType)
    val probe = Seq((100L,
      "family 1 shares this long sentence body with trailing words " +
        "common to the group variant 5 now")).toDF("doc_id", "text")
    def hits(ix: Dedup.MinhashIndex) =
      Dedup.minhashSearch(ix, probe, "doc_id", "text")
        .filter(col("est_jaccard") >= 0.5).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    assert(hits(loaded) == hits(idx))
    assert(hits(loaded).nonEmpty)
    // append on the loaded index ≡ append on the original
    val batch = (200L until 205L).map(i =>
      (i, s"new unique arrival number $i wholly distinct body")).toDF("doc_id", "text")
    def bandRows(ix: Dedup.MinhashIndex) = ix.banded.collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(bandRows(loaded.append(batch, "doc_id", "text")) ==
      bandRows(idx.append(batch, "doc_id", "text")))
  }

  test("MinhashIndex load upgrades a v1 (array<long>) save losslessly") {
    import spark.implicits._
    val docs = (0L until 30L).map { i =>
      (i, s"family ${i % 4} shares this long sentence body with trailing " +
        s"words common to the group variant ${i % 7}")
    }.toDF("doc_id", "text")
    val idx = Dedup.minhashIndex(docs, "doc_id", "text",
      numHashes = 64, bands = 16)
    // write a v1-format save by hand: long signatures, no sig_format
    // column in meta — exactly what a pre-r13 MinhashIndex.save produced
    val dir = java.nio.file.Files.createTempDirectory("mhidxv1").toString
    idx.sigs.select(col("id"), col("sig").cast("array<long>").as("sig"))
      .write.mode("overwrite").parquet(s"$dir/sigs")
    idx.banded.write.mode("overwrite").parquet(s"$dir/banded")
    idx.counts.write.mode("overwrite").parquet(s"$dir/counts")
    Seq((idx.numHashes, idx.bands, idx.maxBucket)).toDF(
      "num_hashes", "bands", "max_bucket")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
    val loaded = Dedup.minhashIndexLoad(spark, dir)
    // upgraded on read: int signatures, identical values
    assert(loaded.sigs.schema("sig").dataType.asInstanceOf[
      org.apache.spark.sql.types.ArrayType].elementType ==
      org.apache.spark.sql.types.IntegerType)
    def sigRows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1).mkString(","))).sorted.toSeq
    assert(sigRows(loaded.sigs) == sigRows(idx.sigs))
    // screens identically to the fresh int build
    val probe = Seq((100L,
      "family 1 shares this long sentence body with trailing words " +
        "common to the group variant 5 now")).toDF("doc_id", "text")
    def hits(ix: Dedup.MinhashIndex) =
      Dedup.minhashSearch(ix, probe, "doc_id", "text")
        .filter(col("est_jaccard") >= 0.5).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    assert(hits(loaded) == hits(idx) && hits(loaded).nonEmpty)
    // appends identically (band keys from upgraded int sigs match), and a
    // re-save writes the v2 form
    val batch = (200L until 205L).map(i =>
      (i, s"new unique arrival number $i wholly distinct body")).toDF("doc_id", "text")
    def bandRows(ix: Dedup.MinhashIndex) = ix.banded.collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(bandRows(loaded.append(batch, "doc_id", "text")) ==
      bandRows(idx.append(batch, "doc_id", "text")))
    val dir2 = java.nio.file.Files.createTempDirectory("mhidxv2").toString
    loaded.save(dir2)
    // element type is the format contract; containsNull is a parquet
    // round-trip nuance (the v1 cast writes nullable elements)
    assert(spark.read.parquet(s"$dir2/sigs").schema("sig").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType ==
      org.apache.spark.sql.types.IntegerType)
    assert(spark.read.parquet(s"$dir2/meta").head()
      .getAs[Int]("sig_format") == 2)
  }

  /** Small index + batch with guaranteed candidates for the rescore
    * broadcast specs. */
  private def screenFixture(): (Dedup.MinhashIndex, org.apache.spark.sql.DataFrame) = {
    import spark.implicits._
    val docs = (0L until 40L).map { i =>
      (i, s"family ${i % 4} shares this long sentence body with trailing " +
        s"words common to the group variant ${i % 7}")
    }.toDF("doc_id", "text")
    val idx = Dedup.minhashIndex(docs, "doc_id", "text",
      numHashes = 64, bands = 16)
    val batch = (100L until 110L).map { i =>
      (i, s"family ${i % 4} shares this long sentence body with trailing " +
        s"words common to the group variant ${i % 7} changed")
    }.toDF("doc_id", "text")
    (idx, batch)
  }

  test("minhashSearch rescore: pruned ref sigs broadcast below threshold (AQE on)") {
    // the ref-sig attach join must plan as a broadcast join (no shuffle of
    // the pruned ref sigs) when the candidate ref slice is under the size
    // cap...
    val (idx, batch) = screenFixture()
    def joinKinds(res: org.apache.spark.sql.DataFrame): Seq[String] = {
      res.collect() // finalize THIS dataset's adaptive plan
      val nodes = org.apache.spark.sql.graftbridge.Bridge
        .allExecutedNodes(res.queryExecution.executedPlan)
      assert(nodes.exists(_.isInstanceOf[
        org.apache.spark.sql.execution.adaptive.QueryStageExec]),
        "no QueryStageExec — inspected an unexecuted adaptive plan")
      nodes.collect {
        case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec =>
          "bhj"
        case s: org.apache.spark.sql.execution.joins.SortMergeJoinExec => "smj"
        case s: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec =>
          "shj"
      }
    }
    // disable AQE's own size-based BHJ conversion so the plan shape below
    // is OUR broadcast hint, not machine weather on tiny test data. The
    // ref-id PRUNE join is hinted broadcast under the same cap, so the
    // prune and the size-conditional attach join show up as TWO MORE bhj
    // under the cap than over it.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val under = Dedup.minhashSearch(idx, batch, "doc_id", "text")
      val kindsUnder = joinKinds(under)
      // ...and fall back to a shuffle join above the cap (cap 0 forces
      // the at-scale path: an unbounded candidate ref slice must not
      // collect to the driver)
      val over = Dedup.screenBounds.withValue(Dedup.ScreenBounds(broadcastBytes = 0L))(
        Dedup.minhashSearch(idx, batch, "doc_id", "text"))
      val kindsOver = joinKinds(over)
      assert(kindsUnder.count(_ == "bhj") == kindsOver.count(_ == "bhj") + 2,
        s"attach join not size-conditionally broadcast: " +
          s"under=$kindsUnder over=$kindsOver")
      assert(kindsOver.exists(k => k == "smj" || k == "shj"),
        s"cap 0 must force the shuffle rescore: $kindsOver")
      // identical results on both paths
      assert(under.collect().map(_.toString).sorted.toSeq ==
        over.collect().map(_.toString).sorted.toSeq)
      assert(under.collect().nonEmpty)
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("minhashSearch ref-id prune: a tiny budget keeps the semi join unbroadcast, same rows") {
    val (idx, batch) = screenFixture()
    /** Broadcasts whose payload is the bare `id_ref` list, in the final
      * plans of every SQL action the screen and a `collect` of its result
      * run: the one-pass rescore runs in the collect, each slice's in the
      * slice's own checkpoint. A sentinel action run afterwards is awaited,
      * so every earlier action has reached the listener by then. */
    def refIdBroadcasts(screen: => org.apache.spark.sql.DataFrame): (Int, Seq[String]) = {
      import org.apache.spark.sql.execution.QueryExecution
      val counts = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
      val sentinel = s"sentinel_${System.nanoTime}"
      @volatile var sentinelSeen = false
      val listener = new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
          if (qe.analyzed.output.map(_.name) == Seq(sentinel)) sentinelSeen = true
          else counts.add(org.apache.spark.sql.graftbridge.Bridge
            .allExecutedNodes(qe.executedPlan).count {
              case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec =>
                b.output.map(_.name) == Seq("id_ref")
              case _ => false
            })
        override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
      }
      spark.listenerManager.register(listener)
      try {
        val rows = screen.collect().map(_.toString).sorted.toSeq
        spark.range(1).toDF(sentinel).collect()
        val deadline = System.nanoTime + 30L * 1000000000L
        while (!sentinelSeen && System.nanoTime < deadline) Thread.sleep(10)
        assert(sentinelSeen, "sentinel action never reached the listener")
        (counts.toArray.map(_.asInstanceOf[Int]).sum, rows)
      } finally spark.listenerManager.unregister(listener)
    }
    // only the engine's own hints may broadcast (see the test above)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // the one-pass screen, and the same 10-doc batch under a 6-doc
      // bound (2 slices): each pass prunes under the same budget
      for (scratch <- Seq(Dedup.ScreenScratchMaxBytes, 6L * Dedup.ScreenScratchBytesPerDoc)) {
        def screen(broadcastBytes: Long) = Dedup.screenBounds.withValue(
          Dedup.ScreenBounds(scratch, broadcastBytes))(
          Dedup.minhashSearch(idx, batch, "doc_id", "text"))
        val (roomyBroadcasts, roomy) = refIdBroadcasts(screen(Dedup.BroadcastRefSigsMaxBytes))
        val (tinyBroadcasts, tiny) = refIdBroadcasts(screen(8L))
        assert(roomyBroadcasts > 0, s"scratch=$scratch: no id_ref broadcast")
        assert(tinyBroadcasts == 0, s"scratch=$scratch: id_ref broadcast over budget")
        assert(roomy.nonEmpty)
        assert(tiny == roomy, s"scratch=$scratch")
      }
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }
}

object DedupSpec {
  /** A filter that holds the first row it sees until [[registered]]
    * opens, and lets every later row through at once, so one task waits
    * and the rest of the `local[4]` slots stay free. */
  object HoldFirstReader {
    val started = new CountDownLatch(1)
    val registered = new CountDownLatch(1)
    private val first = new AtomicBoolean(true)
    def pass(): Boolean = {
      if (first.getAndSet(false)) {
        started.countDown()
        registered.await(60, TimeUnit.SECONDS)
      }
      true
    }
  }
}
