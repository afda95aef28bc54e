package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis building blocks for large-scale training-data
  * pipelines: tokenization, shingling, MinHash, SimHash, language ID,
  * quality ratios, fingerprinting.
  *
  * Everything here is a native `Column` expression (higher-order array
  * functions — codegen'd, no UDFs, no explode), so per-document work
  * stays inside whole-stage codegen and scales embarrassingly: a 100 TB
  * corpus is just a map over partitions, no shuffle until the caller
  * aggregates.
  */
object TextFunctions {

  /** Explicit whitespace class — Java regex \s includes vertical tab,
    * RE2 (DuckDB) \s does not; spelling it out keeps tokenization
    * identical in both engines. */
  val wsClass: String = "[ \\t\\n\\x0B\\f\\r]"

  /** Whitespace tokenization of trimmed text. */
  def tokens(c: Column): Column = split(trim(c), wsClass + "+")

  /** Token count WITHOUT materializing the token array (r21):
    * `split(s, re, -1)` yields exactly (#non-overlapping matches of
    * re) + 1 pieces for any non-null s — trailing empty pieces are
    * kept at limit -1 — so `size(tokens(c))` equals
    * `regexp_count(trim(c), re) + 1` unconditionally (same Java regex
    * engine, same pattern; null → null on both paths). regexp_count
    * only scans; it never allocates the per-token strings the split
    * form builds and discards, which is the whole map-phase cost of
    * the count in q105/q107/q31-style length passes. Equivalence is
    * property-tested against size∘tokens in TextFunctionsSpec.
    */
  def tokenCount(c: Column): Column =
    regexp_count(trim(c), lit(wsClass + "+")) + lit(1)

  /** Word n-gram shingles from a precomputed token array, empty array
    * when the doc is too short. */
  def shinglesOf(t: Column, n: Int): Column =
    when(size(t) >= n,
        transform(sequence(lit(0), size(t) - n),
          i => concat_ws(" ", slice(t, i + 1, lit(n)))))
      .otherwise(array().cast("array<string>"))

  /** Word n-gram shingles, empty array when the doc is too short. */
  def shingles(c: Column, n: Int): Column = shinglesOf(tokens(c), n)

  /** One MinHash value: the minimum md5 hex digest over the shingles,
    * salted with the hash index. Hex strings are uniform, so the
    * lexicographic min is a valid min-hash — and cross-engine
    * comparable (DuckDB and Spark both emit lowercase hex).
    */
  def minhashHex(shingleCol: Column, seed: Int): Column =
    array_min(transform(shingleCol,
      s => md5(concat(lit(seed.toString), lit(":"), s))))

  /** 16-bit SimHash over the token multiset: per token, the first 4 md5
    * nibbles form a 16-bit hash; each bit votes +1/-1; the sign of each
    * bit's tally forms the fingerprint. Pure integer arithmetic (no
    * engine-specific bit ops) so the DuckDB oracle can mirror it
    * exactly.
    */
  def simhash16(c: Column): Column = {
    val toks = tokens(c)
    val hashes = transform(toks, t => {
      val h = md5(t)
      val d = (i: Int) => conv(substring(h, i, 1), 16, 10).cast("int")
      (((d(1) * 16 + d(2)) * 16 + d(3)) * 16 + d(4)).cast("int")
    })
    val n = size(hashes)
    (0 until 16).map { j =>
      val pow = 1 << j
      val cnt = size(filter(hashes,
        h => floor(h.cast("double") / lit(pow)).cast("int") % 2 === 1))
      when(cnt * 2 > n, lit(1 << j)).otherwise(lit(0))
    }.reduce(_ + _)
  }

  /** Canonical content fingerprint: md5 of the sorted distinct
    * lowercase tokens — robust to token order and repetition (catches
    * shuffled/near-identical documents in one exact groupBy). Computed
    * by the one-pass TokenFingerprint expression; value-identical to
    * md5(concat_ws(" ", array_sort(array_distinct(tokens(lower(c)))))).
    */
  def fingerprint(c: Column): Column =
    graft.functions.expressions.TokenFingerprint.tokenFingerprint(lower(c))

  /** Stopword sets for the language-ID heuristic (top function words). */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "of", "and", "to", "in", "is", "it", "you", "that", "was"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "los", "se", "no"),
    "fr" -> Seq("le", "les", "des", "et", "une", "est", "dans", "pour", "qui", "sur"),
    "de" -> Seq("der", "die", "und", "das", "ist", "ein", "nicht", "mit", "den", "von"),
    "pt" -> Seq("o", "os", "do", "da", "em", "uma", "para", "com", "por", "mais"))

  /** Count of tokens contained in `set`. */
  def stopwordHits(c: Column, set: Seq[String]): Column = {
    val arr = array(set.map(lit): _*)
    size(filter(tokens(lower(c)), t => array_contains(arr, t)))
  }

  /** Language-ID by stopword scoring: argmax over the per-language hit
    * counts with a fixed priority order on ties (en > es > fr > de >
    * pt); "und" (undetermined) when nothing matches. An n-gram model
    * would be the production upgrade; the operator shape (pure column
    * expression, no shuffle) is identical.
    */
  def langId(c: Column): Column = {
    val order = Seq("en", "es", "fr", "de", "pt")
    val scores = order.map(l => l -> stopwordHits(c, stopwords(l)))
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("und"): Column) { case ((l, s), acc) =>
      when(s === best && best > 0, lit(l)).otherwise(acc)
    }
  }

  /** Subword-ish token count: a simplified GPT-2-style pre-tokenizer
    * regex (contraction suffixes, letter runs, digit runs, punctuation
    * runs — no lookahead, so it is portable between Java regex and
    * DuckDB's RE2). Counts matches, approximating BPE pre-token count;
    * the usual cheap proxy for LLM token budgeting at corpus scale.
    */
  val bpeTokenPattern: String =
    "'s|'t|'re|'ve|'m|'ll|'d| ?\\p{L}+| ?\\p{N}+" +
      "| ?[^ \\t\\n\\x0B\\f\\r\\p{L}\\p{N}]+"

  def bpeTokenCount(c: Column): Column =
    size(regexp_extract_all(c, lit(bpeTokenPattern), lit(0)))

  /** Gopher-style document quality rules (Rae et al. 2021 §A1.1,
    * simplified): each violated rule sets a bit in the reason mask;
    * keep = mask == 0. Thresholds as columns-of-literals so the DuckDB
    * oracle mirrors exactly.
    *
    * bit 0: too few / too many tokens (< 50 or > 100k)
    * bit 1: mean token length outside [3, 10]
    * bit 2: symbol ratio too high (> 0.1)
    * bit 3: no English stopword at all
    * bit 4: too repetitive (distinct-token ratio < 0.2)
    */
  def qualityMask(c: Column): Column = {
    val n = tokenCount(c)
    val avgLen = avgTokenLen(c)
    val symRatio = punctRatio(c)
    val distinctRatio = distinctTokenRatio(c)
    val hits = stopwordHits(c, stopwords("en"))
    when(n < 50 || n > 100000, 1).otherwise(0) +
      when(avgLen < 3.0 || avgLen > 10.0, 2).otherwise(0) +
      when(symRatio > 0.1, 4).otherwise(0) +
      when(hits === 0, 8).otherwise(0) +
      when(distinctRatio < 0.2, 16).otherwise(0)
  }

  /** Punctuation character ratio over total length (0 for empty). */
  def punctRatio(c: Column): Column = {
    val len = length(c)
    when(len > 0,
        (len - length(regexp_replace(c, "[.,;:!?'\"()]", "")))
          .cast("double") / len.cast("double"))
      .otherwise(lit(0.0))
  }

  /** Distinct-token ratio — a repetition signal (0 for empty docs). */
  def distinctTokenRatio(c: Column): Column = {
    val t = tokens(c)
    when(size(t) > 0,
        size(array_distinct(t)).cast("double") / size(t).cast("double"))
      .otherwise(lit(0.0))
  }

  /** Mean token length (0 for empty docs). */
  def avgTokenLen(c: Column): Column = {
    val t = tokens(c)
    when(size(t) > 0,
        length(concat_ws("", t)).cast("double") / size(t).cast("double"))
      .otherwise(lit(0.0))
  }

  /** English stopword ratio — a cheap fluency/quality signal. */
  def stopwordRatio(c: Column): Column = {
    val n = tokenCount(c)
    when(n > 0, stopwordHits(c, stopwords("en")).cast("double") / n.cast("double"))
      .otherwise(lit(0.0))
  }

  // --- PII scrubbing -------------------------------------------------
  // Patterns live in the Java-regex ∩ RE2 subset (no lookaround, no
  // backreferences) so the DuckDB oracle scrubs byte-identically.

  val emailPattern: String =
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** Valid-octet IPv4. Octets are range-checked (0-255, leftmost-first
    * alternation — identical semantics in Java regex and RE2), so
    * 999.999.999.999 and version strings like v1.2.3.4 pass through
    * unredacted. Known looseness (RE2 has no lookaround to fix it):
    * a 5-part dotted run '1.2.3.4.5' still matches its first four
    * parts, leaving '.5' after the placeholder. Over-redaction is the
    * safe direction for a scrubber, so that residue is accepted and
    * pinned by the q71 oracle.
    */
  val ipv4Pattern: String = {
    val octet = "(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])"
    s"\\b$octet\\.$octet\\.$octet\\.$octet\\b"
  }

  /** Phone numbers: international-prefix form plus the common US
    * domestic forms (555-123-4567, (555) 123-4567, 555.123.4567).
    * Every alternative ends in \b so a 4-digit group never partially
    * matches a longer digit run ('…-45678' stays untouched).
    */
  val phonePattern: String =
    "\\+\\d{1,2}[-. ]\\d{3}[-. ]\\d{3}[-. ]\\d{4}\\b" +
      "|\\(\\d{3}\\)[-. ]?\\d{3}[-. ]\\d{4}\\b" +
      "|\\b\\d{3}[-. ]\\d{3}[-. ]\\d{4}\\b"

  /** Redact emails, IPv4 addresses, and phone numbers with typed
    * placeholders. Emails are scrubbed FIRST — their local parts and
    * domains contain digit/dot runs that would otherwise partially
    * match the later patterns. Pure map-side `regexp_replace` chain:
    * at corpus scale this is one codegen'd pass per document, no
    * shuffle ever.
    */
  def scrubPii(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, emailPattern, "<EMAIL>"),
        ipv4Pattern, "<IP>"),
      phonePattern, "<PHONE>")

  /** Count of matches of `pattern` in `c`. */
  def patternCount(c: Column, pattern: String): Column =
    size(regexp_extract_all(c, lit(pattern), lit(0)))

  // --- Repetition signals (Gopher §A1.1 duplicate n-gram rules) ------

  /** Repeated-occurrence fraction of a precomputed shingle array:
    * 1 - distinct/total, 0 when empty. Over word n-grams
    * (`shingles(c, n)`) high values flag boilerplate / looped text. */
  def dupFractionOf(sh: Column): Column =
    when(size(sh) > 0,
        lit(1.0) - size(array_distinct(sh)).cast("double")
          / size(sh).cast("double"))
      .otherwise(lit(0.0))

  /** Occurrence count of the most frequent element of a string array
    * (0 when empty): sort, then one linear fold tracking the current
    * equal-run length and the best run seen. O(m log m) per document —
    * replaces the earlier O(distinct × total) filter-per-distinct
    * form, which at the quality mask's 100k-token ceiling cost ~10^10
    * comparisons per pathological doc. Stays map-side, no shuffle.
    */
  def topCountOf(sh: Column): Column =
    aggregate(
      array_sort(sh),
      struct(lit(null).cast("string").as("prev"), lit(0).as("run"),
             lit(0).as("best")),
      (acc, x) => {
        val run = when(x <=> acc.getField("prev"),
          acc.getField("run") + 1).otherwise(lit(1))
        struct(x.as("prev"), run.as("run"),
               greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))
}
