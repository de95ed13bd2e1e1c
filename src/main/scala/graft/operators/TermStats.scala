package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Corpus term statistics: document frequencies and TF-IDF-ranked
  * characteristic terms per document — the classic keyword/topic signal
  * for corpus exploration and quality filtering.
  *
  * The score is INTEGER-VALUED by construction:
  * `tf * ((n_docs * 1e6) DIV df)` — the inverse-document-frequency
  * factor is a scaled BIGINT integer division, monotone in n_docs/df
  * exactly like log(N/df) for ranking purposes, but bit-identical on
  * every engine (no transcendental, no IEEE division), so the driver
  * oracle value-checks ranks AND scores. Scale shape: explode →
  * groupBy(doc, word) with map-side combine, one groupBy(word) for df
  * (a small frame — vocabulary-sized), broadcast of the 1-row corpus
  * count, and a per-doc window truncated to k.
  */
object TermStats {

  /** Term frequency per (doc, token). */
  def termFrequencies(docs: DataFrame, idCol: String, textCol: String,
      minTokenLen: Int = 3): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        explode(TextFunctions.tokens(lower(col(textCol)))).as("word"))
      .filter(length(col("word")) >= minTokenLen)
      .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))

  /** Top-`k` characteristic terms per document by the integer TF-IDF
    * score; ties break toward the lexicographically smaller word so the
    * result is total-ordered and oracle-checkable.
    */
  def tfidfTopTerms(docs: DataFrame, idCol: String, textCol: String,
      k: Int, minTokenLen: Int = 3): DataFrame = {
    val tf = termFrequencies(docs, idCol, textCol, minTokenLen)
    // df derives from the tf frame already in the plan — one row per
    // (doc, word) — NOT from a second tokenize-explode pass over the
    // corpus, which would plan the explode twice
    val dfreq = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val total = docs.agg(count(lit(1)).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("word"))
    tf.join(dfreq, "word")
      .crossJoin(broadcast(total))
      .withColumn("score", expr("tf * ((n_docs * 1000000) DIV df)"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("word"), col("score"))
  }

  /** Collocation mining — the word2phrase/PMI pass that decides which
    * adjacent token pairs are PHRASES ("new york", "machine learning")
    * before tokenizer training or phrase-aware dedup. Score is the
    * word2phrase lift with the rare-pair discount δ = 1:
    * `lift_e6 = ⌊(c₁₂ − 1) · T · 10⁶ / (c₁ · c₂)⌋` — monotone in the
    * PMI it approximates (PMI = log of the same ratio without the
    * discount) but pure integer arithmetic, so the ranked artifact is
    * oracle-hashable (q186). Products are carried in DECIMAL(38,0)
    * (Spark) / HUGEINT (DuckDB): at T ≈ 10⁸ tokens the numerator
    * reaches ~10²² — past BIGINT, nowhere near 38 digits.
    *
    * Scale shape: one explode → two map-side-combined counts (unigram
    * frame is vocabulary-sized, bigram frame filtered by `minCount`
    * BEFORE the unigram joins — singleton pairs dominate a raw bigram
    * table and never survive scoring), the scalar token total
    * broadcast, and ONE ordered truncation to `topK`. The unigram
    * joins are vocabulary-keyed equi-joins; nothing corpus-sized
    * crosses the exchange after the counts.
    *
    * Tokenization matches the LM family (q133/q184): whitespace split,
    * case-sensitive, so the three corpus-bigram artifacts (coverage,
    * fluency, collocations) agree on what a token pair is.
    */
  def collocations(docs: DataFrame, idCol: String, textCol: String,
      minCount: Long = 5L, topK: Int = 100): DataFrame = {
    require(minCount >= 2L, s"minCount must be >= 2 (the delta-1 discount zeroes singletons), got $minCount")
    val ws = split(trim(col(textCol)), "\\s+")
    val toks = docs.select(explode(ws).as("w"))
    // uni is left LAZY on purpose: an in-query localCheckpoint
    // measured no better at the 100× sweep (the fused explode+groupBy
    // recounts as cheaply as the materialized table round-trips, the
    // LanguageModel.train verdict), and the two join-side references
    // are identical subplans that exchange-reuse collapses to one
    // execution. The token TOTAL needs no explode at all — it is the
    // sum of per-doc token counts off a plain column scan.
    val uni = toks.groupBy(col("w")).agg(count(lit(1)).as("c"))
    val total = docs.agg(sum(size(ws)).cast("long").as("t_tokens"))
    val pairs = when(size(col("__ws")) >= 2,
      expr("transform(sequence(0, size(__ws) - 2), i -> struct(__ws[i] AS w1, __ws[i+1] AS w2))"))
      .otherwise(expr("CAST(array() AS array<struct<w1: string, w2: string>>)"))
    val big = docs.select(ws.as("__ws"))
      .select(explode(pairs).as("__p"))
      .select(col("__p.w1").as("w1"), col("__p.w2").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
      .filter(col("c12") >= minCount)
    big
      .join(uni.select(col("w").as("w1"), col("c").as("c1")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("c").as("c2")), Seq("w2"))
      .crossJoin(broadcast(total))
      .withColumn("lift_e6", expr(
        "CAST((CAST(c12 - 1 AS DECIMAL(38,0)) * t_tokens * 1000000) DIV (CAST(c1 AS DECIMAL(38,0)) * c2) AS BIGINT)"))
      .select(col("w1"), col("w2"), col("c12"), col("lift_e6"))
      .orderBy(col("lift_e6").desc, col("w1"), col("w2"))
      .limit(topK)
  }
}
