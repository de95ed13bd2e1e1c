package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis building blocks for large-scale document pipelines:
  * tokenization, quality ratios, language ID, shingling,
  * winnowing fingerprints. All pure `Column` expressions built from
  * `org.apache.spark.sql.functions` — fully codegen'd, no UDFs, so they
  * stay inside WholeStageCodegen at 100 TB.
  */
object TextFunctions {

  /** Whitespace tokenization of trimmed text; empty text → 0 tokens. */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  def tokenCount(text: Column): Column =
    when(length(trim(text)) === 0, lit(0)).otherwise(size(tokens(text)))

  /** Canonical text normalization for dedup/training-data prep:
    * lowercase, digit runs masked to `<num>` (a cheap scrub of ids,
    * phone-ish numbers, timestamps — the variance that defeats exact
    * dedup), whitespace collapsed, trimmed. Pure codegen'd string ops;
    * the result is engine-portable (same regex semantics in RE2 and
    * Java for these ASCII-only patterns), so oracle queries can
    * compare md5 digests of the normalized text exactly (q76).
    */
  def normalize(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[0-9]+", "<num>"),
      "\\s+", " "))

  // --- PII redaction (training-data scrubbing) ---

  /** ASCII-only, RE2-compatible patterns (no backreferences, no
    * lookaround) so Spark's Java regex and the oracle's RE2 agree
    * byte-for-byte. Order of application matters and is fixed by
    * [[redactPii]]: emails first (they contain dots and digits that
    * the later patterns would otherwise chew on), then IPv4, then
    * phone-shaped digit runs.
    */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Pattern = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  val PhonePattern = "\\b[0-9]{3}-[0-9]{3,4}-[0-9]{4}\\b"

  /** Scrub emails / IPv4 addresses / phone-shaped numbers to typed
    * placeholder tags. Pure codegen'd `regexp_replace` chain — one scan,
    * no shuffle, no UDF — and engine-portable, so the oracle compares
    * md5 digests of the redacted text exactly (the q76 normalization
    * pattern). This is the compliance pass a corpus pipeline runs
    * BEFORE dedup/training: placeholders also make documents differing
    * only in contact details exact-dedup to one row.
    */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailPattern, "<email>"),
        Ipv4Pattern, "<ip>"),
      PhonePattern, "<phone>")

  /** Match count for one PII pattern, as BIGINT (audit metric: how much
    * PII did the scrub remove — the number every privacy review asks
    * for). regexp_extract_all is codegen'd in Spark and exists verbatim
    * in the oracle engine.
    */
  def piiMatchCount(text: Column, pattern: String): Column =
    size(regexp_extract_all(text, lit(pattern), lit(0))).cast("long")

  // --- quality ratios (deterministic double arithmetic) ---

  private def safeLen(text: Column): Column = greatest(length(text), lit(1))

  /** Count of A–Z/a–z characters, as BIGINT — the integer numerator
    * behind [[alphaRatio]]. Exposed separately so oracle-checked
    * queries can compare ratios with pure integer arithmetic
    * (alpha/len ≥ t ⟺ alpha*scale ≥ t*scale*len) instead of
    * engine-version-dependent IEEE division.
    */
  def alphaChars(text: Column): Column =
    length(regexp_replace(text, "[^A-Za-z]", "")).cast("long")

  def alphaRatio(text: Column): Column =
    alphaChars(text).cast("double") / safeLen(text)

  def spaceRatio(text: Column): Column =
    (length(text) - length(regexp_replace(text, " ", ""))).cast("double") / safeLen(text)

  /** Mean token length — a strong gibberish / boilerplate signal. */
  def meanTokenLen(text: Column): Column =
    length(regexp_replace(trim(text), "\\s+", "")).cast("double") /
      greatest(tokenCount(text), lit(1))

  /** Fraction of character n-grams that are repeats of an earlier
    * n-gram in the same document (0 = no repetition, → 1 = heavy
    * boilerplate) — the duplicate-n-gram class of quality filter used
    * by large-scale corpus curation (Gopher/RefinedWeb style). The
    * distinct count comes from the compiled [[graft.expressions]]
    * shingle-set kernel (one pass per row, no higher-order functions);
    * the total is plain length arithmetic, so the whole signal stays
    * inside codegen.
    */
  def dupNgramRatio(text: Column, n: Int): Column = {
    // the shingle kernel operates on UTF-8 BYTES, so the total must be
    // the byte count too — length() counts characters and would push
    // the ratio outside [0,1] on multibyte text
    val total = length(text.cast("binary")) - (n - 1)
    val distinct = size(graft.expressions.GraftFunctions.shingleSet(text, n, charLevel = true))
    when(total <= 0, lit(0.0))
      .otherwise(lit(1.0) - distinct.cast("double") / total.cast("double"))
  }

  // --- language identification (stopword-hit heuristic) ---

  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "and", "of", "to", "in", "is", "that", "it", "for"),
    "fr" -> Seq("le", "la", "les", "de", "et", "un", "une", "est", "que", "pour"),
    "es" -> Seq("el", "la", "los", "de", "y", "un", "una", "es", "que", "para"),
    "de" -> Seq("der", "die", "das", "und", "ein", "eine", "ist", "zu", "den", "von"),
  )

  /** Number of distinct `lang` stopwords present in the text. */
  def stopwordHits(text: Column, lang: String): Column =
    size(array_intersect(
      split(lower(trim(text)), "\\s+"),
      array(stopwords(lang).map(lit): _*)))

  /** Multiset count of tokens that are `lang` stopwords, as BIGINT —
    * an integer signal for oracle-checked queries (counts compare
    * exactly across engines; ratios re-introduce IEEE division).
    */
  def stopwordTokenCount(text: Column, lang: String): Column = {
    val stops = array(stopwords(lang).map(lit): _*)
    size(filter(split(lower(trim(text)), "\\s+"), t => array_contains(stops, t))).cast("long")
  }

  /** Heuristic language ID: CJK codepoints ⇒ zh, else argmax stopword
    * hits with a fixed tiebreak order (en > fr > es > de), "und"
    * (undetermined) when nothing matches.
    */
  def langId(text: Column): Column = {
    val hasCjk = length(regexp_replace(text, "[^\\u4e00-\\u9fff]", "")) > 0
    val hits = Seq("en", "fr", "es", "de").map(l => l -> stopwordHits(text, l))
    val best = hits.map(_._2).reduce(greatest(_, _))
    // First lang in declared order wins ties.
    val ordered = hits.foldRight(lit("und")) { case ((l, h), acc) =>
      when(h === best && best > 0, lit(l)).otherwise(acc)
    }
    when(hasCjk, lit("zh")).otherwise(ordered)
  }

  // --- shingling / fingerprinting ---

  /** Character k-gram shingles as an array of hashes. xxhash64 is
    * Spark-native (codegen'd) and stable across runs/JVMs.
    */
  def charShingleHashes(text: Column, k: Int): Column = {
    // sequence(a,b) is descending when a>b, so guard the empty case.
    val n = length(text) - (k - 1)
    when(n < 1, array().cast("array<bigint>"))
      .otherwise(transform(sequence(lit(1), n), i => xxhash64(text.substr(i, lit(k)))))
  }

  /** Token n-gram shingles (space-joined) as a string array. */
  def tokenShingles(text: Column, n: Int): Column = {
    val toks = tokens(text)
    val cnt = size(toks) - (n - 1)
    when(cnt < 1, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), cnt),
        i => concat_ws(" ", slice(toks, i, lit(n)))))
  }
}
