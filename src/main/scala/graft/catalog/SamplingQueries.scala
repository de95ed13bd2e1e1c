package graft.catalog

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Sampling
import graft.catalog.CatalogSupport._

/** Deterministic sampling: hash-keyed, stratified, priority, quota,
  * weighted and language-balanced selection.
  */
object SamplingQueries extends Family {
  val name = "sampling"

  val entries: Seq[Entry] = Seq(
    // deterministic key-hash sampling: rerun- and partitioning-stable,
    // exactly reproducible by the oracle (no RNG anywhere).
    Entry("q61_sample_deterministic", (s, dir) => {
      Sampling.deterministicSample(t(s, dir, "documents"), "doc_id", 0.2)
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    },
      // q61/q62: the sampling decision is ((key mod 2^31)*2654435761)
      // mod 10000 — pure integer arithmetic, identical on both engines
      // (keys are non-negative so % and pmod agree); the 31-bit fold
      // keeps the product in Long range for any key.
      """SELECT doc_id, source FROM documents
        |WHERE ((doc_id % 2147483648) * 2654435761) % 10000 < 2000
        |ORDER BY doc_id""".stripMargin),

    // stratified sampling: keep every purchase, 10% of clicks, 5% of
    // the rest — per-class training-data balancing as one scan filter.
    Entry("q62_sample_stratified", (s, dir) => {
      Sampling.stratifiedSample(t(s, dir, "events"), "event_id", "event_type",
          Map("purchase" -> 1.0, "click" -> 0.1), default = 0.05)
        .groupBy(col("event_type")).agg(count(lit(1)).as("n_sampled"))
        .orderBy(col("event_type"))
    },
      """SELECT event_type, COUNT(*) AS n_sampled
        |FROM events
        |WHERE ((event_id % 2147483648) * 2654435761) % 10000 <
        |  CASE WHEN event_type = 'purchase' THEN 10000
        |       WHEN event_type = 'click' THEN 1000
        |       ELSE 500 END
        |GROUP BY event_type ORDER BY event_type""".stripMargin),

    // exact-N deterministic uniform sample (priority = Knuth hash of
    // the key): EXACTLY 200 docs, stable under reruns/partitioning,
    // fully SQL-expressible.
    Entry("q75_sample_priority", (s, dir) => {
      Sampling.prioritySample(t(s, dir, "documents"), "doc_id", n = 200)
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    },
      """SELECT doc_id, source FROM (
        |  SELECT doc_id, source FROM documents
        |  ORDER BY ((doc_id % 2147483648) * 2654435761) % 4294967296, doc_id
        |  LIMIT 200
        |) t ORDER BY doc_id""".stripMargin),

    // language-balanced corpus: exact quota of 30 docs per lang, chosen
    // by deterministic key priority (rerun/repartition-stable).
    Entry("q77_sample_lang_quota", (s, dir) => {
      Sampling.stratifiedQuota(t(s, dir, "documents"), "lang", "doc_id", n = 30)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    },
      """SELECT doc_id, lang FROM (
        |  SELECT doc_id, lang, row_number() OVER (
        |    PARTITION BY lang
        |    ORDER BY ((doc_id % 2147483648) * 2654435761) % 4294967296, doc_id) AS rk
        |  FROM documents
        |) t WHERE rk <= 30 ORDER BY doc_id""".stripMargin),

    // quality-weighted deterministic downsampling: band documents by
    // the integer alpha-ratio gate, target a keep-rate per band in
    // basis points, and draw with a Knuth multiplicative hash of
    // doc_id instead of rand() — the sample is bitwise reproducible
    // across retries, partitionings, and engines (a rand() sample
    // can't be oracle-checked and silently changes under speculative
    // re-execution on a cluster). Per-band candidate/sampled/char
    // counts let the caller confirm the realized rate tracks the
    // target. Per-row arithmetic only; one map-side-combined agg.
    // Band gates sit at the corpus's alpha-ratio quartiles (the
    // generator emits a tight 79–86% range, so the q38-style 55%
    // gate would put every doc in one band): ≥82.50% high,
    // ≥81.75% mid — exact ×10000 integer comparisons, no ratios.
    Entry("q158_weighted_sample", (s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"),
          (length(regexp_replace(col("text"), "[^A-Za-z]", "")).cast("long")
            * 10000L).as("alpha10k"),
          length(col("text")).cast("long").as("len"))
      d.select(col("doc_id"), col("len"),
          when(col("alpha10k") >= col("len") * 8250L, lit("high"))
            .when(col("alpha10k") >= col("len") * 8175L, lit("mid"))
            .otherwise(lit("low")).as("band"),
          when(col("alpha10k") >= col("len") * 8250L, lit(10000L))
            .when(col("alpha10k") >= col("len") * 8175L, lit(5000L))
            .otherwise(lit(1000L)).as("keep_bp"))
        // 31-bit fold before the multiply (the q61/q62 idiom): keeps
        // the product in Long range for ANY doc_id — without it, ids
        // past ~3.47e9 wrap negative in Spark (draw always < keep_bp)
        // and overflow-error in DuckDB.
        .withColumn("draw",
          ((col("doc_id") % 2147483648L) * 2654435761L) % 10000L)
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n_candidates"),
          sum(when(col("draw") < col("keep_bp"), 1L).otherwise(0L))
            .as("n_sampled"),
          sum(when(col("draw") < col("keep_bp"), col("len").cast("long"))
            .otherwise(0L)).as("chars_sampled"))
        .orderBy(col("band"))
    },
      // q158: same bands, same multiplicative-hash draw.
      """WITH d AS (
        |  SELECT doc_id,
        |         length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 10000
        |           AS alpha10k,
        |         length(text) AS len
        |  FROM documents
        |), banded AS (
        |  SELECT doc_id, len,
        |         CASE WHEN alpha10k >= len * 8250 THEN 'high'
        |              WHEN alpha10k >= len * 8175 THEN 'mid'
        |              ELSE 'low' END AS band,
        |         CASE WHEN alpha10k >= len * 8250 THEN 10000
        |              WHEN alpha10k >= len * 8175 THEN 5000
        |              ELSE 1000 END AS keep_bp,
        |         ((doc_id % 2147483648) * 2654435761) % 10000 AS draw
        |  FROM d
        |)
        |SELECT band, CAST(COUNT(*) AS BIGINT) AS n_candidates,
        |       CAST(SUM(CASE WHEN draw < keep_bp THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_sampled,
        |       CAST(SUM(CASE WHEN draw < keep_bp THEN len ELSE 0 END)
        |         AS BIGINT) AS chars_sampled
        |FROM banded GROUP BY band ORDER BY band""".stripMargin),

    // per-source language-balance report: one row per source with its
    // language cardinality, dominant language, and the dominant
    // share in integer ppm — the multilingual-mix audit run before
    // reweighting a pretraining corpus. Shape at scale: the corpus
    // collapses to a (source, lang) count agg FIRST (map-side
    // combined), and every window runs over that tiny matrix
    // (≤|sources|·|langs| rows), never over documents. Dominance
    // ties break on (count desc, lang asc) — deterministic on both
    // engines; no doubles anywhere.
    Entry("q159_lang_balance", (s, dir) => {
      val counts = t(s, dir, "documents")
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n"))
      val bySource = Window.partitionBy(col("source"))
      val dominance = Window.partitionBy(col("source"))
        .orderBy(col("n").desc, col("lang").asc)
      counts
        .withColumn("n_docs", sum(col("n")).over(bySource))
        .withColumn("n_langs", count(lit(1)).over(bySource))
        .withColumn("rn", row_number().over(dominance))
        .filter(col("rn") === 1)
        .select(col("source"), col("n_docs"), col("n_langs"),
          col("lang").as("dominant_lang"),
          expr("CAST((n * 1000000L) DIV n_docs AS BIGINT)")
            .as("dominant_ppm"))
        .orderBy(col("source"))
    },
      // q159: same (source, lang) matrix, same dominance tie-break.
      """WITH counts AS (
        |  SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM documents GROUP BY source, lang
        |), ranked AS (
        |  SELECT source, lang, n,
        |         SUM(n) OVER (PARTITION BY source) AS n_docs,
        |         COUNT(*) OVER (PARTITION BY source) AS n_langs,
        |         ROW_NUMBER() OVER (PARTITION BY source
        |                            ORDER BY n DESC, lang ASC) AS rn
        |  FROM counts
        |)
        |SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
        |       CAST(n_langs AS BIGINT) AS n_langs,
        |       lang AS dominant_lang,
        |       CAST(n * 1000000 // n_docs AS BIGINT) AS dominant_ppm
        |FROM ranked WHERE rn = 1 ORDER BY source""".stripMargin),
  )
}
