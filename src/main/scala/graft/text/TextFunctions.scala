package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for large-scale training-data pipelines:
  * tokenization, language ID, quality scoring, token counting, document
  * fingerprinting. All are pure `Column` expressions (codegen'd builtins +
  * higher-order functions) — no UDFs, no shuffles; they run entirely inside
  * the scan stage at any scale.
  */
object TextFunctions {

  /** Whitespace tokens, empty slots dropped. `array_remove` rather than
    * a `filter` lambda: `split` never produces nulls so the two are
    * equivalent, but `filter` is a higher-order function — interpreted
    * per element AND it evicts the whole operator from whole-stage
    * codegen — and this is the base primitive of every text query's
    * scan stage. */
  def tokens(text: Column): Column =
    array_remove(split(text, "\\s+"), "")

  /** Lowercased whitespace tokens. */
  def tokensLower(text: Column): Column = tokens(lower(text))

  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword count estimate: words + punctuation runs + digit runs
    * counted separately (a cheap, deterministic stand-in for a tokenizer's
    * token count; ~chars/4 for English). */
  def subwordCountEstimate(text: Column): Column =
    size(array_remove(split(text, "(?=[\\p{Punct}])|\\s+|(?<=[\\p{Punct}])"), ""))

  /** Type-token ratio (lexical diversity). */
  def typeTokenRatio(text: Column): Column = {
    val toks = tokensLower(text)
    when(size(toks) === 0, 0.0)
      .otherwise(size(array_distinct(toks)).cast("double") / size(toks))
  }

  /** Character n-gram shingles (distinct, lowercased). */
  def charShingles(text: Column, n: Int): Column = {
    val s = lower(text)
    array_distinct(
      transform(sequence(lit(1), greatest(length(s) - (n - 1), lit(1))),
        i => s.substr(i, lit(n))))
  }

  /** Word n-gram shingles (distinct, lowercased), space-joined.
    *
    * Built by zipping the token array against its own n−1 shifted slices —
    * NOT by indexing `toks` inside a per-position lambda, which would
    * re-evaluate the tokenizer subtree once per shingle (higher-order
    * function lambdas re-evaluate captured subtrees per element). */
  def wordShingles(text: Column, n: Int): Column = {
    val toks = tokensLower(text)
    val joined = (2 to n).foldLeft(toks) { (acc, i) =>
      zip_with(acc, slice(toks, lit(i), greatest(size(toks) - (i - 1), lit(1))),
        (a, b) => concat_ws(" ", a, b))
    }
    // trailing n−1 slots zip against missing elements → null; drop them
    array_distinct(filter(joined,
      sh => sh.isNotNull && size(split(sh, " ")) === n))
  }

  /** Small function-word lists per language for the n-gram/stopword
    * language-ID heuristic. Public knowledge (most-frequent function
    * words). */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "it", "that", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "zu", "mit", "von", "nicht"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "dans", "que", "pour"),
    "es" -> Seq("el", "la", "los", "y", "es", "un", "una", "en", "que", "por"))

  /** Stopword hit-count for one language. */
  def stopwordHits(text: Column, lang: String): Column =
    size(array_intersect(array_distinct(tokensLower(text)),
      array(stopwords(lang).map(lit): _*)))

  /** Stopword-fraction of the (distinct) tokens for one language. */
  def stopwordRatio(text: Column, lang: String): Column = {
    val distinctToks = array_distinct(tokensLower(text))
    when(size(distinctToks) === 0, 0.0)
      .otherwise(stopwordHits(text, lang).cast("double") / size(distinctToks))
  }

  /** Language ID: argmax of per-language stopword hits; deterministic
    * tie-break by language code order; no hits at all → "und" (undetermined).
    */
  def langId(text: Column): Column = {
    val langs = stopwords.keys.toSeq.sorted
    val scored = langs.map(l => struct(stopwordHits(text, l).as("n"), lit(l).as("l")))
    // max by (hits, reverse-code): later alphabetical codes must lose ties →
    // compare (n, negated code) is awkward; instead fold left keeping strictly
    // greater, so the first (alphabetically smallest) language wins ties.
    val best = scored.reduceLeft { (a, b) =>
      when(b("n") > a("n"), b).otherwise(a)
    }
    when(best("n") === 0, "und").otherwise(best("l"))
  }

  /** Quality score in [0,1]: blends mean word length sanity, alphabetic
    * character ratio, and lexical diversity — the shape of the reference
    * heuristics used in public data-pipeline literature (length/punct/
    * stopword ratios). Deterministic, SQL-expressible. */
  def qualityScore(text: Column): Column = {
    val nChars = length(text).cast("double")
    val nToks = tokenCount(text).cast("double")
    val meanWordLen = when(nToks === 0, 0.0).otherwise(nChars / nToks)
    val wordLenScore =
      when(meanWordLen >= 3.0 && meanWordLen <= 10.0, 1.0).otherwise(0.0)
    val alphaRatio = when(nChars === 0, 0.0)
      .otherwise(length(regexp_replace(text, "[^A-Za-z]", "")).cast("double") / nChars)
    val ttr = typeTokenRatio(text)
    round((wordLenScore * 0.4 + alphaRatio * 0.3 + ttr * 0.3), 6)
  }

  /** Top-`k` vocabulary over a document column — the tokenizer-training /
    * vocab-pruning step of a data pipeline: lowercased whitespace tokens,
    * global counts (explode → one map-side-combined hash aggregate —
    * shuffle carries (token, partial count) pairs, never documents), rank
    * by (count desc, token asc) so ties are deterministic, keep `k`.
    * The final rank is a single window over k' ≤ vocabulary-size rows —
    * bounded by the token universe, not the corpus. */
  def topVocabulary(df: org.apache.spark.sql.DataFrame, textCol: String,
      k: Int): org.apache.spark.sql.DataFrame = {
    val counts = df
      .select(explode(tokensLower(col(textCol))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n").desc, col("token"))
    counts.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Composite keep/drop verdict — the end-of-pipeline quality gate
    * combining the scalar signals (Gopher/C4-style threshold rules, each
    * independently cheap scan-stage arithmetic). `reasons` is a stable
    * comma-joined list so downstream audits can aggregate drop causes. */
  def qualityFilter(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    // Two projections, not one: composing tokenCount/qualityScore/
    // typeTokenRatio inline re-derives split/lower/array_distinct ~8×
    // (conditional branches defeat Spark's subexpression elimination),
    // and the resulting whole-stage method is so large that a single-pass
    // pipeline runs it in the bytecode INTERPRETER until C2 catches up —
    // measured 6× wall on a one-shot 2M-doc pass (r9 clean probe). The
    // projection boundary pins each expensive primitive to ONE evaluation
    // and keeps the generated methods small. Same arithmetic, identical
    // values (gates q12/q72 unchanged).
    val t = col(textCol)
    val base = df.select(col(idCol),
      size(tokens(t)).as("__n"),
      size(array_distinct(tokensLower(t))).as("__distinct"),
      length(t).cast("double").as("__chars"),
      length(regexp_replace(t, "[^A-Za-z]", "")).cast("double").as("__alpha"))
    val nToks = col("__n").cast("double")
    val ttr = when(col("__n") === 0, 0.0)
      .otherwise(col("__distinct").cast("double") / nToks)
    val meanWordLen = when(col("__n") === 0, 0.0).otherwise(col("__chars") / nToks)
    val wordLenScore =
      when(meanWordLen >= 3.0 && meanWordLen <= 10.0, 1.0).otherwise(0.0)
    val alphaRatio = when(col("__chars") === 0, 0.0)
      .otherwise(col("__alpha") / col("__chars"))
    val score = round(wordLenScore * 0.4 + alphaRatio * 0.3 + ttr * 0.3, 6)
    val checks = Seq(
      "too_short" -> (col("__n") < 10),
      "low_quality" -> (score < 0.5),
      "low_diversity" -> (ttr < lit(0.3)))
    val reasons = array_compact(array(checks.map { case (name, bad) =>
      when(bad, lit(name)).otherwise(lit(null).cast("string"))
    }: _*))
    // `keep` is a PLAIN boolean chain, not size(reasons)==0: array_compact
    // is a higher-order function, and a downstream .filter(keep) pushes the
    // predicate down by alias substitution — a HOF predicate then drags its
    // whole substituted subtree (splits included) into INTERPRETED
    // per-row eval (measured 30× on the one-shot 20M-doc probe). The
    // boolean form codegens; a null check (null text) counts as not-bad,
    // exactly as when(bad, …) adds no reason.
    val anyBad = checks.map(_._2).reduce(_ || _)
    base.select(col(idCol),
      (!coalesce(anyBad, lit(false))).as("keep"),
      concat_ws(",", reasons).as("reasons"))
  }

  /** The Gopher/MassiveText document-level rule set (Rae et al. 2021,
    * Table A1) — the canonical named quality gate, complementing
    * [[qualityFilter]]'s composite score and [[repetitionStats]]'s
    * repetition family (which carries A1's dup-word/-ngram rules):
    *
    *  - word count in [minWords, maxWords] (50 … 100k in the paper);
    *  - mean word length in [3, 10] (total non-whitespace chars / words);
    *  - symbol-to-word ratio ≤ 0.1 (`#` and `...`/`…` occurrences);
    *  - ≤ 90% of lines starting with a bullet, ≤ 30% ending in ellipsis;
    *  - ≥ 80% of words containing at least one alphabetic character;
    *  - ≥ 2 of the 8 paper stop words present (the, be, to, of, and,
    *    that, have, with — distinct membership, not occurrences).
    *
    * All signals are exact integer/ratio arithmetic over the corpus-wide
    * tokenization contract, so the whole rule table replays in ANSI SQL
    * (gate q97). Shape: pure scan-stage per-row expressions — the two
    * line-level rules and the alpha-word rule use array-lambda filters,
    * which interpret per element; this surface is a per-document verdict
    * (one pass, no joins), not the 20M-doc hashing hot path, so clarity
    * wins over a custom kernel here. */
  def gopherRules(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, minWords: Long = 50L, maxWords: Long = 100000L)
      : org.apache.spark.sql.DataFrame = {
    val t = coalesce(col(textCol), lit(""))
    val toks = tokensLower(t)
    val nWords = size(toks).cast("long")
    val nw = nWords.cast("double")
    val meanWordLen = when(nWords === 0, 0.0)
      .otherwise(length(regexp_replace(t, "\\s", "")).cast("double") / nw)
    val hashCount = (length(t) - length(regexp_replace(t, "#", ""))).cast("double")
    val ellipsisCount =
      ((length(t) - length(regexp_replace(t, "\\.\\.\\.", ""))) / 3 +
        (length(t) - length(regexp_replace(t, "…", "")))).cast("double")
    val symbolRatio = when(nWords === 0, 0.0)
      .otherwise((hashCount + ellipsisCount) / nw)
    // The three line/token counts are regexp_count over the WHOLE text,
    // not per-element lambda rlike: higher-order filters evaluate
    // interpreted per element AND poison any downstream .filter(keep)
    // pushdown into whole-subtree interpreted eval (the r9 qualityFilter
    // lesson). One anchored regex per rule keeps the entire verdict
    // codegen'd. Equivalences (differentially spec-pinned vs the lambda
    // forms in GopherCodegenSpec): a line "starts with a bullet after
    // trim" ⇔ `(?m)^ *[•\-*]` (Spark trim removes spaces); "ends in
    // ellipsis after trim" ⇔ `(?m)(\.\.\.|…) *$`; "token contains a
    // letter" anchors once per token via `(?:^|(?<=\s))\S*?[A-Za-z]`.
    val lines = array_remove(split(t, "\n"), "")
    val nLines = size(lines).cast("double")
    val bulletFrac = when(size(lines) === 0, 0.0).otherwise(
      regexp_count(t, lit("(?m)^ *[•\\-\\*]")).cast("double") / nLines)
    val ellipsisLineFrac = when(size(lines) === 0, 0.0).otherwise(
      regexp_count(t, lit("(?m)(\\.\\.\\.|…) *$")).cast("double") / nLines)
    val alphaWordFrac = when(nWords === 0, 0.0).otherwise(
      regexp_count(t, lit("(?:^|(?<=\\s))\\S*?[A-Za-z]")).cast("double") / nw)
    val stopHits = size(array_intersect(toks,
      array(Seq("the", "be", "to", "of", "and", "that", "have", "with")
        .map(lit): _*))).cast("long")
    // one boolean per rule (audits aggregate per-rule drop rates; the
    // verdict is their conjunction)
    val passWords = nWords >= minWords && nWords <= maxWords
    val passWordLen = meanWordLen >= 3.0 && meanWordLen <= 10.0
    val passSymbol = symbolRatio <= 0.1
    val passLines = bulletFrac <= 0.9 && ellipsisLineFrac <= 0.3
    val passAlpha = alphaWordFrac >= 0.8
    val passStop = stopHits >= 2L
    df.select(col(idCol), nWords.as("n_words"),
      round(meanWordLen, 6).as("mean_word_len"),
      round(symbolRatio, 6).as("symbol_ratio"),
      round(bulletFrac, 6).as("bullet_frac"),
      round(ellipsisLineFrac, 6).as("ellipsis_frac"),
      round(alphaWordFrac, 6).as("alpha_word_frac"),
      stopHits.as("stop_hits"),
      passWords.as("pass_word_count"), passWordLen.as("pass_word_len"),
      passSymbol.as("pass_symbol"), passLines.as("pass_lines"),
      passAlpha.as("pass_alpha"), passStop.as("pass_stop"),
      (passWords && passWordLen && passSymbol && passLines &&
        passAlpha && passStop).as("keep"))
  }

  /** C4 line-level clean ([[graft.functions.C4Clean]]): struct of
    * (clean, n_kept, n_dropped). */
  def c4Clean(c: Column, minWords: Int = 3): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.C4CleanExpr(
        org.apache.spark.sql.graftbridge.Bridge.expression(c), minWords))

  /** The C4 page-cleaning bundle (Raffel et al. 2020, §2.2) — the other
    * canonical rule set beside [[gopherRules]], and the one that EDITS
    * the page rather than only vetoing it: the native [[c4Clean]] kernel
    * keeps lines that end in terminal punctuation {. ! ? "}, have ≥
    * `minWords` words, and don't mention "javascript"; the page verdict
    * then requires ≥ `minSentences` sentences in the cleaned text
    * (counted as [.!?] occurrences) and vetoes pages whose ORIGINAL text
    * contains "lorem ipsum", a curly brace (the paper's source-code
    * tell), or any blocklisted token. Two projections pin the kernel to
    * one evaluation and `keep` is a plain boolean chain — the q72
    * codegen/pushdown recipe. Scan-stage only: no shuffle at any corpus
    * size. `passThrough` columns of the input are carried into the
    * output unchanged — at corpus scale that is the difference between
    * a select and a doc-keyed join-back to recover upstream columns. */
  def c4Rules(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, minWords: Int = 3, minSentences: Long = 5L,
      blocklist: Seq[String] = Nil,
      passThrough: Seq[String] = Nil): org.apache.spark.sql.DataFrame = {
    val t = coalesce(col(textCol), lit(""))
    val base = df.select(col(idCol) +: passThrough.map(col) ++: Seq(
      c4Clean(t, minWords).as("__c4"),
      lower(t).as("__lower"),
      (if (blocklist.isEmpty) lit(0)
       else size(array_intersect(tokensLower(t),
         array(blocklist.map(w => lit(w.toLowerCase)): _*)))).as("__blockhits")): _*)
    val clean = col("__c4").getField("clean")
    val sentences = (length(clean) -
      length(regexp_replace(clean, "[.!?]", ""))).cast("long")
    val passSentences = sentences >= minSentences
    val passLorem = !col("__lower").contains("lorem ipsum")
    val passCurly = !col("__lower").contains("{")
    val passBlock = col("__blockhits") === 0
    base.select(col(idCol) +: passThrough.map(col) ++: Seq(
      clean.as("text_clean"),
      col("__c4").getField("n_kept").as("n_lines_kept"),
      col("__c4").getField("n_dropped").as("n_lines_dropped"),
      sentences.as("n_sentences"),
      passSentences.as("pass_sentences"), passLorem.as("pass_lorem"),
      passCurly.as("pass_curly"), passBlock.as("pass_blocklist"),
      (passSentences && passLorem && passCurly && passBlock).as("keep")): _*)
  }

  /** Polynomial rolling-hash document fingerprint over character codes:
    * `h = (h*31 + code) mod 1e9+7`. Stable across engines (pure integer
    * arithmetic), usable as a cheap content id for dedup joins. */
  /** PII redaction — the standard scrub stage of public web-corpus
    * pipelines (C4 removes lines with blocklisted tokens; Dolma/RefinedWeb
    * regex-replace emails, IPs and phone-like digit runs before training):
    * emails, dotted-quad IPs, card-like long digit runs, then phone-like
    * digit groups, each replaced by a fixed tag. Scan-stage
    * `regexp_replace` chain (codegen, no UDF) — order matters: emails
    * first (their local part can contain digits), then IPs, then long
    * digit runs, then the looser phone shape; tags carry no digits, so
    * later passes never re-match earlier redactions. Patterns are plain
    * POSIX-class regexes that behave identically under Java regex and
    * RE2 (the DuckDB oracle replays the same chain). */
  def redactPii(text: Column): Column = {
    val email = regexp_replace(text,
      lit("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"), lit("<EMAIL>"))
    val ip = regexp_replace(email,
      lit("\\b(\\d{1,3}\\.){3}\\d{1,3}\\b"), lit("<IP>"))
    val card = regexp_replace(ip,
      lit("\\b\\d{4}([ -]\\d{4}){3}\\b"), lit("<NUMBER>"))
    regexp_replace(card,
      lit("\\+?\\d{1,3}[ -]\\d{3}[ -]\\d{3,4}[ -]\\d{3,5}"), lit("<PHONE>"))
  }

  /** Count of matches of one of the [[redactPii]] pattern families in the
    * raw text — the audit column a scrub stage reports alongside the
    * redacted corpus. */
  def piiCount(text: Column, family: String): Column = {
    val re = family match {
      case "email" => "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      case "ip" => "\\b(\\d{1,3}\\.){3}\\d{1,3}\\b"
      case f => throw new IllegalArgumentException(s"unknown family: $f")
    }
    size(regexp_extract_all(text, lit(re), lit(0))).cast("long")
  }

  /** Main-text extraction from raw HTML — the first stage of every web
    * crawl pipeline (the trafilatura/jusText job, reduced to the
    * regex-expressible core: this container has no HTML parser, and a
    * DOM walk would be a UDF; the chain below handles the markup bulk —
    * script/style subtrees, comments, tags, the common entities;
    * boilerplate-block scoring and main-content detection are the
    * separate [[scoreHtmlBlocks]]/[[extractMainText]] layer).
    * Scan-stage `regexp_replace`/`replace`
    * chain (codegen, no UDF); every pattern behaves identically under
    * Java regex and RE2, so the DuckDB oracle replays the chain verbatim
    * (q122). Order matters twice: script/style strip BEFORE the generic
    * tag strip (their text content must go with them), and `&amp;`
    * decodes LAST (else `&amp;lt;` double-decodes). */
  def extractHtmlText(html: Column): Column = {
    val noScript = regexp_replace(html,
      lit("(?is)<(script|style)[^>]*>.*?</(script|style)>"), lit(" "))
    val noComment = regexp_replace(noScript, lit("(?s)<!--.*?-->"), lit(" "))
    stripTagsAndEntities(noComment)
  }

  /** Tag strip + entity decode + whitespace collapse — the tail of
    * [[extractHtmlText]], shared with the per-block scorer (which strips
    * script/style/comments BEFORE splitting into blocks). */
  private def stripTagsAndEntities(c0: Column): Column = {
    val noTag = regexp_replace(c0, lit("(?s)<[^>]+>"), lit(" "))
    val ent = Seq("&nbsp;" -> " ", "&lt;" -> "<", "&gt;" -> ">",
      "&quot;" -> "\"", "&#39;" -> "'", "&amp;" -> "&")
      .foldLeft(noTag) { case (c, (k, v)) =>
        org.apache.spark.sql.functions.replace(c, lit(k), lit(v))
      }
    trim(regexp_replace(ent, lit("[ \\t\\n\\r\\f]+"), lit(" ")))
  }

  /** Block-level tag boundary — the segmentation the block scorer uses
    * (Java-regex ∩ RE2, shared verbatim with the q129 oracle). */
  val htmlBlockTagRe: String = "(?i)</?(?:p|div|h[1-6]|li|ul|ol|table|tr|" +
    "td|th|section|article|main|body|header|footer|nav|aside|blockquote|br)" +
    "\\b[^>]*>"

  /** Boilerplate-block scoring over raw HTML — the trafilatura/jusText
    * layer [[extractHtmlText]] is honest about lacking, DOM-free (no
    * parser in this container; a DOM walk would be a UDF): segment the
    * page at block-level tag boundaries and classify each block by the
    * three density heuristics the boilerplate literature agrees on
    * (jusText, Pomikálek 2011; trafilatura's rule core):
    *
    *  - `text_len` — chars of the block's tag-stripped, entity-decoded,
    *    whitespace-collapsed text (short fragments = chrome);
    *  - `link_density` — share of that text living inside `<a>` elements
    *    (nav/footer blocks are link-dense);
    *  - `stop_hits` — distinct function words from the q97 Gopher list
    *    (boilerplate labels rarely carry function words).
    *
    * `keep_core` = `text_len ≥ minChars ∧ link_density ≤ maxLinkDensity
    * ∧ stop_hits ≥ 1`; jusText's neighborhood rescue is the one
    * context-sensitive pass: a shorter block (`≥ rescueMinChars`, link
    * density in bounds) adjacent to a core-kept block is kept too —
    * lag/lead over (doc, block order), the window re-expression of
    * jusText's "short-near-good" rule.
    *
    * Scale shape: script/comment strip + block split + per-block scoring
    * are ONE codegen scan stage (explode included); the only shuffle is
    * the per-doc rescue window, keyed by document — fully parallel, and
    * block counts are page-bounded so no skew. Output: one row per
    * non-empty block — (idCol, block_id, text_block, text_len,
    * link_density, stop_hits, keep_core, keep). Empty inter-tag segments
    * are dropped; `block_id` is the segment's index in the raw split, so
    * ids are stable whether or not neighbors are empty. */
  def scoreHtmlBlocks(df: org.apache.spark.sql.DataFrame, idCol: String,
      htmlCol: String, minChars: Int = 25, maxLinkDensity: Double = 0.33,
      rescueMinChars: Int = 10): org.apache.spark.sql.DataFrame = {
    val pre = regexp_replace(regexp_replace(coalesce(col(htmlCol), lit("")),
      lit("(?is)<(script|style)[^>]*>.*?</(script|style)>"), lit(" ")),
      lit("(?s)<!--.*?-->"), lit(" "))
    val exploded = df.select(col(idCol),
      posexplode(split(pre, htmlBlockTagRe)).as(Seq("block_id", "__raw")))
    val txt = stripTagsAndEntities(col("__raw"))
    val txtNoA = stripTagsAndEntities(regexp_replace(col("__raw"),
      lit("(?is)<a\\b[^>]*>.*?</a>"), lit(" ")))
    val tLen = length(txt)
    val ld = when(tLen === 0, lit(1.0)).otherwise(
      greatest(lit(0), tLen - length(txtNoA)).cast("double") /
        tLen.cast("double"))
    val stopHits = size(array_intersect(tokensLower(txt),
      array(Seq("the", "be", "to", "of", "and", "that", "have", "with")
        .map(lit): _*))).cast("long")
    val scored = exploded.select(col(idCol), col("block_id"),
        txt.as("text_block"), tLen.cast("long").as("text_len"),
        round(ld, 6).as("link_density"), stopHits.as("stop_hits"))
      .filter(col("text_len") > 0)
    val core = col("text_len") >= minChars &&
      col("link_density") <= maxLinkDensity && col("stop_hits") >= 1
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("block_id"))
    val withCore = scored.withColumn("keep_core", core)
    withCore.withColumn("keep", col("keep_core") ||
      (col("text_len") >= rescueMinChars &&
        col("link_density") <= maxLinkDensity &&
        (coalesce(lag(col("keep_core"), 1).over(w), lit(false)) ||
          coalesce(lead(col("keep_core"), 1).over(w), lit(false)))))
  }

  /** [[scoreHtmlBlocks]] → main text: kept blocks re-joined in block
    * order with single spaces — the drop-in upgrade of
    * [[extractHtmlText]] for pages with real chrome. One groupBy over
    * the scorer's output; the sort/join runs per-doc over page-bounded
    * block arrays (projection-only higher-order ops, never a filter). */
  def extractMainText(df: org.apache.spark.sql.DataFrame, idCol: String,
      htmlCol: String, minChars: Int = 25, maxLinkDensity: Double = 0.33,
      rescueMinChars: Int = 10): org.apache.spark.sql.DataFrame =
    scoreHtmlBlocks(df, idCol, htmlCol, minChars, maxLinkDensity,
      rescueMinChars)
      .filter(col("keep"))
      .groupBy(col(idCol))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("block_id"), col("text_block")))),
        b => b.getField("text_block")), " ").as("text_main"))

  /** Text normalization — the ftfy-lite cleanup every corpus gets before
    * hashing/tokenizing: strip C0/C1-ish control characters (tab and
    * newline excluded — they are whitespace, handled next), collapse
    * whitespace runs to one space, trim. Explicit character classes
    * (not `\s`) because Java regex and RE2 disagree on `\s` membership
    * (`\x0B`); the chain replays verbatim in the oracle (q123). Unicode
    * compatibility normalization is the separate [[nfkc]] (JVM
    * `java.text.Normalizer` — no cross-engine replay; spec-verified). */
  def normalizeText(text: Column): Column = {
    val noCtl = regexp_replace(text,
      lit("[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]"), lit(""))
    trim(regexp_replace(noCtl, lit("[ \\t\\n\\r\\f]+"), lit(" ")))
  }

  /** Unicode NFKC compatibility normalization (ligatures, fullwidth
    * forms, compatibility digits → canonical), as a codegen'd native
    * expression. */
  def nfkc(text: Column): Column = graft.functions.TextHash.nfkc(text)

  /** Split documents into fixed-size overlapping token passages — the
    * RAG / embedding-ingestion chunker: passage i covers tokens
    * `[i·(chunk−overlap), i·(chunk−overlap)+chunk)` of the whitespace
    * token stream, and chunks are emitted while each still contributes
    * ≥ 1 NEW token (`nChunks = 1 + ⌈max(0, len−chunk) / stride⌉`), so a
    * short doc is one whole-doc passage and no trailing chunk is a pure
    * suffix of its predecessor. Empty docs emit nothing. Output:
    * `(idCol, chunk_id, n_tokens, passage)` with the passage re-joined
    * on single spaces (the same normalized stream every hash family
    * tokenizes).
    *
    * Scale shape: one scan-stage projection (tokens + a generated chunk
    * index sequence) and a posexplode — output size is input tokens ×
    * (1 + overlap share), no shuffle, no state. All integer arithmetic
    * and string joins, so the DuckDB oracle replays it exactly. */
  def chunkPassages(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, chunk: Int, overlap: Int): org.apache.spark.sql.DataFrame = {
    require(chunk > 0 && overlap >= 0 && overlap < chunk,
      s"need 0 <= overlap < chunk, got chunk=$chunk overlap=$overlap")
    val stride = chunk - overlap
    df.filter(col(textCol).isNotNull)
      .select(col(idCol), tokens(col(textCol)).as("__toks"))
      .filter(size(col("__toks")) > 0)
      .select(col(idCol), col("__toks"),
        explode(sequence(lit(0L),
          when(size(col("__toks")) <= chunk, lit(0L)).otherwise(
            ceil((size(col("__toks")) - lit(chunk)).cast("double") / stride)
              .cast("long")))).as("chunk_id"))
      .select(col(idCol), col("chunk_id"),
        slice(col("__toks"), (col("chunk_id") * stride + 1).cast("int"),
          lit(chunk)).as("__slice"))
      .select(col(idCol), col("chunk_id"),
        size(col("__slice")).cast("long").as("n_tokens"),
        array_join(col("__slice"), " ").as("passage"))
  }

  /** Document fingerprint: a WIDE (~60-bit) rolling char hash — two
    * independent polynomial chains combined as `h1·(1e9+9) + h2`, because
    * a fingerprint is document IDENTITY and a single ~10⁹ chain
    * birthday-collides at ~10⁸ documents (false merges); same widening
    * rationale as [[shingleSpanHashes]]. */
  def fingerprint(text: Column): Column =
    polyHash(text) * lit(graft.functions.TextHash.Mod2) +
      graft.functions.TextHash.polyHash2(text)

  /** The same polynomial char-code hash applied to any string column —
    * the cross-engine-reproducible base hash for minhash/simhash features
    * (every engine with a char-code accessor computes the identical value,
    * unlike murmur/xxhash whose seeds and tail handling differ). Native
    * expression — one loop per row ([[graft.functions.TextHash]]). */
  def polyHash(s: Column): Column = graft.functions.TextHash.polyHash(s)

  /** One WIDE (~60-bit) hash per n-gram start POSITION — no distinct, so
    * the output index is the token position (the [[graft.dedup.Dedup
    * .removeRepeatedSpans]] coverage contract); see
    * [[graft.functions.ShingleSpanHashesExpr]] for why collision-
    * intolerant consumers need the wide form. */
  def shingleSpanHashes(text: Column, n: Int): Column =
    graft.functions.TextHash.shingleSpanHashes(text, n)

  /** Deterministic word n-gram shingle HASHES (distinct): per-token
    * [[polyHash]] values combined across n consecutive tokens with
    * `h = (h·1000003 + next) mod 1e9+7`. Output is a set of longs —
    * cheaper to minhash than shingle strings and bit-identical across
    * engines (the minhash/banding oracles replay this chain). Collision-
    * TOLERANT consumers only (minhash, jaccard estimates); identity or
    * df-threshold consumers use the wide forms. */
  def shingleHashes(text: Column, n: Int): Column =
    graft.functions.TextHash.shingleHashes(text, n)

  /** Repetition signals for training-data quality filtering (the
    * word-level family of the Gopher/MassiveText repetition filters,
    * Rae et al. 2021 §A1.1): per document,
    *
    *  - `dup_word_frac`      — fraction of word slots that repeat an
    *                           earlier word: `(total − distinct) / total`;
    *  - `dup_word_char_frac` — characters in the repeated occurrences over
    *                           all word characters:
    *                           `Σ (c−1)·len(w) / Σ c·len(w)`;
    *  - `top_bigram_char_frac` — the best character coverage any single
    *                           word bigram achieves:
    *                           `max(c·len(bigram)) / len(text)` (a max of
    *                           products, so deterministic under count ties).
    *
    * Shape at scale: explode → (doc, word) / (doc, bigram) hash aggregates
    * with map-side partials, then per-doc rollups — rows stay narrow and
    * every stage is shuffle-parallel. Documents with no words (null/empty
    * text) produce no output row, identically on both engines. */
  def repetitionStats(df: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String): org.apache.spark.sql.DataFrame = {
    val base = df.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("__ws"),
      length(col(textCol)).as("__tlen"))
    val wc = base.select(col("doc_id"), explode(col("__ws")).as("__w"))
      .groupBy(col("doc_id"), col("__w")).agg(count(lit(1)).as("__c"))
    val agg = wc.groupBy("doc_id").agg(
      sum(col("__c")).as("__tot"),
      count(lit(1)).as("__dist"),
      sum(col("__c") * length(col("__w"))).as("__totchars"),
      sum((col("__c") - 1) * length(col("__w"))).as("__dupchars"))
    val m = greatest(size(col("__ws")) - 1, lit(0))
    val bgArr = zip_with(slice(col("__ws"), lit(1), m), slice(col("__ws"), lit(2), m),
      (a, b) => concat(a, lit(" "), b))
    val top = base.select(col("doc_id"), explode(bgArr).as("__bg"))
      .groupBy(col("doc_id"), col("__bg")).agg(count(lit(1)).as("__c"))
      .groupBy("doc_id").agg(max(col("__c") * length(col("__bg"))).as("__cover"))
    agg
      .join(top, Seq("doc_id"), "left")
      .join(base.select(col("doc_id"), col("__tlen")), "doc_id")
      .select(col("doc_id"),
        // denominators are all ≥ 1 here: token-less docs never reach this
        // projection (they explode to zero rows — the documented drop)
        ((col("__tot") - col("__dist")).cast("double") / col("__tot"))
          .as("dup_word_frac"),
        (col("__dupchars").cast("double") / col("__totchars"))
          .as("dup_word_char_frac"),
        (coalesce(col("__cover"), lit(0L)).cast("double") / col("__tlen"))
          .as("top_bigram_char_frac"))
  }
}
