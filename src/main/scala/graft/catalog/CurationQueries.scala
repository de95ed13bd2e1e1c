package graft.catalog

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.{Chunking, Dedup, Ids, Profiler, Quality, Sampling, Sharding, TermStats, Windows}
import graft.catalog.CatalogSupport._

/** Document curation: tokenization, quality signals, language ID,
  * normalization, redaction, mixing, packing, sharding and the
  * end-to-end curation pipelines.
  */
object CurationQueries extends Family {
  val name = "text-curation"

  val entries: Seq[Entry] = Seq(
    // text: token counting.
    Entry("q22_docs_token_count", (s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"))
        .orderBy(col("doc_id"))
    },
      """SELECT doc_id,
        |       CASE WHEN length(trim(text)) = 0 THEN 0
        |            ELSE length(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens
        |FROM documents ORDER BY doc_id""".stripMargin),

    // text: quality-scoring ratios.
    Entry("q24_docs_quality", (s, dir) => {
      val txt = col("text")
      t(s, dir, "documents")
        .select(
          col("doc_id"),
          length(txt).cast("long").as("len_chars"),
          TextFunctions.alphaRatio(txt).as("alpha_ratio"),
          TextFunctions.spaceRatio(txt).as("space_ratio"),
          TextFunctions.meanTokenLen(txt).as("mean_token_len"))
        .orderBy(col("doc_id"))
    },
      """SELECT doc_id, length(text) AS len_chars,
        |       CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
        |         / GREATEST(length(text), 1) AS alpha_ratio,
        |       CAST(length(text) - length(regexp_replace(text, ' ', '', 'g')) AS DOUBLE)
        |         / GREATEST(length(text), 1) AS space_ratio,
        |       CAST(length(regexp_replace(trim(text), '\s+', '', 'g')) AS DOUBLE)
        |         / GREATEST(CASE WHEN length(trim(text)) = 0 THEN 0
        |                         ELSE length(regexp_split_to_array(trim(text), '\s+')) END, 1)
        |         AS mean_token_len
        |FROM documents ORDER BY doc_id""".stripMargin),

    // language ID heuristic.
    // lang-id emits the argmax label plus INTEGER evidence counts
    // (stopword-token multiset count, token count) instead of a double
    // ratio — fully oracle-checkable: the label's argmax/tiebreak and
    // both counts are exact on any engine.
    Entry("q25_docs_lang_id", (s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.langId(col("text")).as("detected_lang"),
          TextFunctions.stopwordTokenCount(col("text"), "en").as("en_stop_tokens"),
          TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"))
        .orderBy(col("doc_id"))
    },
      // lang-id: same stopword tables, same argmax/tiebreak order
      // (en > fr > es > de, 'und' when nothing hits, CJK ⇒ zh); hits are
      // DISTINCT stopwords present (Spark array_intersect semantics),
      // en_stop_tokens is the multiset count.
      """WITH t AS (
        |  SELECT doc_id, text,
        |         regexp_split_to_array(trim(lower(text)), '\s+') AS toks
        |  FROM documents
        |), h AS (
        |  SELECT doc_id, text, toks,
        |    len(list_filter(['the','a','and','of','to','in','is','that','it','for'], s -> list_contains(toks, s))) AS he,
        |    len(list_filter(['le','la','les','de','et','un','une','est','que','pour'], s -> list_contains(toks, s))) AS hf,
        |    len(list_filter(['el','la','los','de','y','un','una','es','que','para'], s -> list_contains(toks, s))) AS hs,
        |    len(list_filter(['der','die','das','und','ein','eine','ist','zu','den','von'], s -> list_contains(toks, s))) AS hd
        |  FROM t
        |)
        |SELECT doc_id,
        |  CASE WHEN length(regexp_replace(text, '[^\x{4e00}-\x{9fff}]', '', 'g')) > 0 THEN 'zh'
        |       WHEN he >= hf AND he >= hs AND he >= hd AND he > 0 THEN 'en'
        |       WHEN hf >= he AND hf >= hs AND hf >= hd AND hf > 0 THEN 'fr'
        |       WHEN hs >= he AND hs >= hf AND hs >= hd AND hs > 0 THEN 'es'
        |       WHEN hd >= he AND hd >= hf AND hd >= hs AND hd > 0 THEN 'de'
        |       ELSE 'und' END AS detected_lang,
        |  CAST(len(list_filter(toks, x -> list_contains(['the','a','and','of','to','in','is','that','it','for'], x))) AS BIGINT) AS en_stop_tokens,
        |  CAST(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(toks) END AS BIGINT) AS n_tokens
        |FROM h ORDER BY doc_id""".stripMargin),

    // training-data curation pipeline: exact dedup → quality filter →
    // per-source survivor stats. Every stage oracle-checked.
    Entry("q38_docs_curation", (s, dir) => {
      val d = t(s, dir, "documents")
      val dupes = d.filter(col("doc_id") % 10 === 0)
        .withColumn("doc_id", col("doc_id") + plantOffset(d, "doc_id"))
      val all = d.unionByName(dupes)
      val keepIds = Dedup.exact(all, "doc_id", "text").select(col("keep_id").as("doc_id"))
      val kept = all.join(keepIds, Seq("doc_id"), "left_semi")
      kept
        // ZERO doubles: the ratio, its
        // filter, and its quantization are all pure integer arithmetic
        // over character counts. alpha/len >= 0.55 ⟺ alpha*100 >= 55*len
        // exactly (len > 0), and the basis-point score rounds half-up
        // via (a*10000 + len DIV 2) DIV len — identical BIGINT ops on
        // any engine version. No final division: the oracle compares
        // the summed basis points directly.
        .withColumn("alpha_chars", TextFunctions.alphaChars(col("text")))
        .withColumn("len", length(col("text")).cast("long"))
        .withColumn("n_tokens", TextFunctions.tokenCount(col("text")).cast("long"))
        .filter(col("len") >= 100 &&
          col("alpha_chars") * 100 >= col("len") * 55 && col("n_tokens") >= 10)
        .withColumn("alpha_q", expr("(alpha_chars * 10000 + len DIV 2) DIV len"))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"),
          sum(col("alpha_q")).as("sum_alpha_q"))
        .orderBy(col("source"))
    },
      """WITH all_docs AS (
        |  SELECT doc_id, text, source FROM documents
        |  UNION ALL
        |  SELECT doc_id + (SELECT (max(doc_id) // 1000000 + 1) * 1000000 FROM documents), text, source FROM documents WHERE doc_id % 10 = 0
        |), keep AS (
        |  SELECT MIN(doc_id) AS doc_id FROM all_docs GROUP BY md5(text)
        |), kept AS (
        |  SELECT a.* FROM all_docs a JOIN keep k ON a.doc_id = k.doc_id
        |), scored AS (
        |  SELECT source,
        |         CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS BIGINT) AS alpha_chars,
        |         CAST(length(text) AS BIGINT) AS len,
        |         CASE WHEN length(trim(text)) = 0 THEN 0
        |              ELSE length(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens
        |  FROM kept
        |)
        |SELECT source, COUNT(*) AS n_docs,
        |       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
        |       CAST(SUM((alpha_chars * 10000 + len // 2) // len) AS BIGINT) AS sum_alpha_q
        |FROM scored
        |WHERE len >= 100 AND alpha_chars * 100 >= 55 * len AND n_tokens >= 10
        |GROUP BY source ORDER BY source""".stripMargin),

    // context-window chunking: 500-char windows, 50-char overlap —
    // pure column arithmetic + one explode, fully SQL-expressible.
    Entry("q66_docs_chunks", (s, dir) => {
      Chunking.chunkByChars(t(s, dir, "documents"), "doc_id", "text",
          maxLen = 500, overlap = 50)
        .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
          col("chunk_text"))
        .orderBy(col("doc_id"), col("chunk_id"))
    },
      // chunk count = ceil(max(len - overlap, 1) / stride): a tail that
      // is entirely overlap of the previous window is not emitted.
      """SELECT doc_id, i AS chunk_id,
        |       substr(text, CAST(i * 450 + 1 AS INTEGER), 500) AS chunk_text
        |FROM (
        |  SELECT doc_id, text,
        |         unnest(generate_series(0,
        |           CAST(floor((GREATEST(length(text) - 50, 1) - 1) / 450.0) AS INTEGER))) AS i
        |  FROM documents WHERE length(text) > 0
        |)
        |ORDER BY doc_id, chunk_id""".stripMargin),

    // canonical text normalization (lowercase, digit-run masking,
    // whitespace collapse) — verified by md5 digest of the normalized
    // text, so the oracle checks every character of every row.
    Entry("q76_docs_normalize", (s, dir) => {
      val norm = TextFunctions.normalize(col("text"))
      t(s, dir, "documents").select(
        col("doc_id"),
        md5(norm.cast("binary")).as("norm_hash"),
        length(norm).cast("long").as("norm_len"))
        .orderBy(col("doc_id"))
    },
      """SELECT doc_id,
        |       md5(trim(regexp_replace(
        |         regexp_replace(lower(text), '[0-9]+', '<num>', 'g'),
        |         '\s+', ' ', 'g'))) AS norm_hash,
        |       CAST(length(trim(regexp_replace(
        |         regexp_replace(lower(text), '[0-9]+', '<num>', 'g'),
        |         '\s+', ' ', 'g'))) AS BIGINT) AS norm_len
        |FROM documents ORDER BY doc_id""".stripMargin),

    // one-pass per-source corpus profile: row/null/distinct counts and
    // numeric ranges from a single shuffle.
    Entry("q78_docs_profile", (s, dir) => {
      Profiler.profile(t(s, dir, "documents"), "source",
          nullCols = Seq("text"), distinctCols = Seq("lang"),
          minMaxCols = Seq("n_chars"))
        .orderBy(col("source"))
    },
      """SELECT source,
        |       CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_text,
        |       CAST(count(DISTINCT lang) AS BIGINT) AS distinct_lang,
        |       min(n_chars) AS min_n_chars,
        |       max(n_chars) AS max_n_chars
        |FROM documents GROUP BY source ORDER BY source""".stripMargin),

    // integer-scored TF-IDF: top-3 characteristic terms per doc; the
    // idf factor is a scaled BIGINT division, so ranks AND scores are
    // exact on both engines.
    Entry("q79_docs_tfidf", (s, dir) => {
      TermStats.tfidfTopTerms(t(s, dir, "documents"), "doc_id", "text", k = 3)
        .orderBy(col("doc_id"), col("rank"))
    },
      """WITH tf AS (
        |  SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf FROM (
        |    SELECT doc_id,
        |           unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS word
        |    FROM documents WHERE length(trim(text)) > 0
        |  ) t WHERE length(word) >= 3 GROUP BY doc_id, word
        |), dfreq AS (
        |  SELECT word, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY word
        |), total AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.word,
        |         CAST(tf.tf * ((total.n_docs * 1000000) // dfreq.df) AS BIGINT) AS score
        |  FROM tf JOIN dfreq USING(word) CROSS JOIN total
        |), ranked AS (
        |  SELECT doc_id, word, score, CAST(row_number() OVER (
        |    PARTITION BY doc_id ORDER BY score DESC, word) AS BIGINT) AS rank
        |  FROM scored
        |)
        |SELECT doc_id, rank, word, score FROM ranked
        |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin),

    // LM sequence packing: each doc's (pack, offset) coordinates in
    // the per-source concat-and-split token stream — one integer
    // running-sum window, engine-exact.
    Entry("q81_docs_pack_sequences", (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("source"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"))
      Chunking.packSequences(d, "doc_id", "n_tokens", "source", budget = 2048L)
        .orderBy(col("doc_id"))
    },
      """WITH d AS (
        |  SELECT doc_id, source,
        |         CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |              ELSE length(regexp_split_to_array(trim(text), '\s+')) END
        |           AS BIGINT) AS n_tokens
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, source, n_tokens,
        |         SUM(COALESCE(n_tokens, 0)) OVER (PARTITION BY source ORDER BY doc_id
        |           ROWS UNBOUNDED PRECEDING) - COALESCE(n_tokens, 0) AS bef
        |  FROM d
        |)
        |SELECT doc_id, source, n_tokens,
        |       CAST(bef // 2048 AS BIGINT) AS pack_id,
        |       CAST(bef % 2048 AS BIGINT) AS pack_offset
        |FROM c ORDER BY doc_id""".stripMargin),

    // per-source quality deciles (ntile over token count): the binning
    // step behind "keep the top-k quality deciles per source" curation.
    // A handful of sources × corpus-sized window partitions is the q99
    // shape — Windows.ntileBucketed splits the sort by token-count
    // bucket (width 8 ≈ hundreds of buckets over the token range), so
    // no task ever holds a whole source.
    Entry("q82_docs_quality_deciles", (s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"))
      Windows.ntileBucketed(d, Seq("source"), "n_tokens",
          tieCols = Seq(col("doc_id")), n = 10, descending = true,
          bucketWidth = 8L)
        .select(col("doc_id"), col("source"), col("n_tokens"),
          col("tile").as("decile"))
        .orderBy(col("doc_id"))
    },
      """WITH d AS (
        |  SELECT doc_id, source,
        |         CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |              ELSE length(regexp_split_to_array(trim(text), '\s+')) END
        |           AS BIGINT) AS n_tokens
        |  FROM documents
        |)
        |SELECT doc_id, source, n_tokens,
        |       CAST(ntile(10) OVER (PARTITION BY source
        |         ORDER BY n_tokens DESC, doc_id) AS BIGINT) AS decile
        |FROM d ORDER BY doc_id""".stripMargin),

    // PII redaction (training-data compliance pass): deterministic
    // contact details seeded from doc_id (synthetic docs carry no real
    // PII), then the RE2-portable scrub chain + per-pattern audit
    // counts — md5 of the redacted text value-checks every replacement.
    Entry("q101_docs_redact_pii", (s, dir) => {
      val id = col("doc_id").cast("string")
      val seeded = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          lit(" reach me at user"), id,
          lit("@mail"), pmod(col("doc_id"), lit(7L)).cast("string"), lit(".com or 10."),
          pmod(col("doc_id"), lit(256L)).cast("string"), lit(".0."),
          pmod(col("doc_id") * 7, lit(256L)).cast("string"), lit(" tel 555-010-"),
          lpad(pmod(col("doc_id"), lit(10000L)).cast("string"), 4, "0")).as("text"))
      seeded.select(col("doc_id"),
        md5(TextFunctions.redactPii(col("text"))).as("redacted_md5"),
        TextFunctions.piiMatchCount(col("text"), TextFunctions.EmailPattern).as("n_emails"),
        TextFunctions.piiMatchCount(col("text"), TextFunctions.Ipv4Pattern).as("n_ips"),
        TextFunctions.piiMatchCount(col("text"), TextFunctions.PhonePattern).as("n_phones"))
        .orderBy(col("doc_id"))
    },
      """WITH seeded AS (
        |  SELECT doc_id,
        |         text || ' reach me at user' || CAST(doc_id AS VARCHAR)
        |              || '@mail' || CAST(doc_id % 7 AS VARCHAR) || '.com or 10.'
        |              || CAST(doc_id % 256 AS VARCHAR) || '.0.'
        |              || CAST((doc_id * 7) % 256 AS VARCHAR) || ' tel 555-010-'
        |              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS text
        |  FROM documents
        |)
        |SELECT doc_id,
        |       md5(regexp_replace(regexp_replace(regexp_replace(text,
        |         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<email>', 'g'),
        |         '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<ip>', 'g'),
        |         '\b[0-9]{3}-[0-9]{3,4}-[0-9]{4}\b', '<phone>', 'g')) AS redacted_md5,
        |       CAST(len(regexp_extract_all(text,
        |         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |       CAST(len(regexp_extract_all(text,
        |         '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS BIGINT) AS n_ips,
        |       CAST(len(regexp_extract_all(text,
        |         '\b[0-9]{3}-[0-9]{3,4}-[0-9]{4}\b')) AS BIGINT) AS n_phones
        |FROM seeded ORDER BY doc_id""".stripMargin),

    // domain mixing: down-sample four sources to a 40/30/20/10 target
    // mixture, quotas from pure integer division, selection by the
    // deterministic key priority — the exact kept set value-checks.
    Entry("q103_docs_mix_domains", (s, dir) => {
      Sampling.mixToTarget(t(s, dir, "documents"), "source", "doc_id",
          Map("src0" -> 400000L, "src1" -> 300000L,
            "src2" -> 200000L, "src3" -> 100000L))
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    },
      """WITH t(source, parts) AS (
        |  VALUES ('src0', 400000), ('src1', 300000),
        |         ('src2', 200000), ('src3', 100000)
        |), counts AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n
        |  FROM documents GROUP BY source
        |), tot AS (
        |  SELECT MIN(n * 1000000 // parts) AS total
        |  FROM counts JOIN t USING (source)
        |), q AS (
        |  SELECT source, (SELECT total FROM tot) * parts // 1000000 AS quota FROM t
        |), ranked AS (
        |  SELECT doc_id, source,
        |         row_number() OVER (PARTITION BY source
        |           ORDER BY ((doc_id % 2147483648) * 2654435761) % 4294967296,
        |                    doc_id) AS rn
        |  FROM documents
        |)
        |SELECT doc_id, source
        |FROM ranked JOIN q USING (source)
        |WHERE rn <= quota ORDER BY doc_id""".stripMargin),

    // bigram language-model counts: per-source top-5 adjacent word
    // pairs — the n-gram count statistics a tokenizer/contamination/
    // quality stack is built on. The pair construction is a codegen'd
    // higher-order transform over the split array (no UDF, no
    // shuffle until the count), then one hash aggregation and a
    // per-source WindowGroupLimit top-k.
    Entry("q122_docs_bigrams", (s, dir) => {
      val ws = split(trim(col("text")), "\\s+")
      // guarded: sequence(a, b) DECREASES when b < a, so a 1-word doc
      // must short-circuit to an empty array (explode then drops it)
      val bigrams = when(size(col("ws")) >= 2,
        expr("transform(sequence(0, size(ws) - 2), i -> concat(ws[i], ' ', ws[i+1]))"))
        .otherwise(expr("array()").cast("array<string>"))
      val w = Window.partitionBy(col("source"))
        .orderBy(col("n").desc, col("bigram"))
      t(s, dir, "documents")
        .withColumn("ws", ws)
        .select(col("source"), explode(bigrams).as("bigram"))
        .groupBy(col("source"), col("bigram"))
        .agg(count(lit(1)).as("n"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 5)
        .orderBy(col("source"), col("rk"))
    },
      """WITH d AS (
        |  SELECT source, regexp_split_to_array(trim(text), '\s+') AS ws
        |  FROM documents
        |), b AS (
        |  SELECT source, ws[i] || ' ' || ws[i+1] AS bigram
        |  FROM d, UNNEST(generate_series(1, len(ws) - 1)) AS t(i)
        |), c AS (
        |  SELECT source, bigram, CAST(count(*) AS BIGINT) AS n
        |  FROM b GROUP BY 1, 2
        |), r AS (
        |  SELECT *, CAST(row_number() OVER (
        |    PARTITION BY source ORDER BY n DESC, bigram) AS BIGINT) AS rk
        |  FROM c
        |)
        |SELECT source, bigram, n, rk FROM r WHERE rk <= 5
        |ORDER BY source, rk""".stripMargin),

    // generator / lateral view: explode tokens → global word count
    // (the canonical Generate-operator query).
    Entry("q50_word_count", (s, dir) => {
      t(s, dir, "documents")
        .select(explode(TextFunctions.tokens(lower(col("text")))).as("word"))
        .filter(length(col("word")) >= 3)
        .groupBy(col("word")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("word"))
        .limit(50)
    },
      """SELECT word, COUNT(*) AS n FROM (
        |  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS word
        |  FROM documents WHERE length(trim(text)) > 0
        |) t
        |WHERE length(word) >= 3
        |GROUP BY word ORDER BY n DESC, word LIMIT 50""".stripMargin),

    // snapshot composition drift (PSI-style): per-language ppm shares
    // of two corpus snapshots and the absolute delta — exact integer
    // floor division, full-outer so one-sided categories survive.
    Entry("q130_corpus_drift", (s, dir) => {
      val docs = t(s, dir, "documents")
      Quality.snapshotDrift(
          docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 === 1), "lang")
        .orderBy(col("lang"))
    },
      // q130: integer ppm shares (floor division) per snapshot + delta.
      """WITH a AS (
        |  SELECT lang, COUNT(*) AS n_prev FROM documents
        |  WHERE doc_id % 2 = 0 GROUP BY lang
        |), b AS (
        |  SELECT lang, COUNT(*) AS n_cur FROM documents
        |  WHERE doc_id % 2 = 1 GROUP BY lang
        |), sh AS (
        |  SELECT COALESCE(a.lang, b.lang) AS lang,
        |         COALESCE(a.n_prev, 0) AS n_prev,
        |         COALESCE(b.n_cur, 0) AS n_cur,
        |         CAST(COALESCE(a.n_prev, 0) * 1000000
        |              // (SELECT SUM(n_prev) FROM a) AS BIGINT) AS ppm_prev,
        |         CAST(COALESCE(b.n_cur, 0) * 1000000
        |              // (SELECT SUM(n_cur) FROM b) AS BIGINT) AS ppm_cur
        |  FROM a FULL OUTER JOIN b USING (lang)
        |)
        |SELECT lang, n_prev, ppm_prev, n_cur, ppm_cur,
        |       abs(ppm_cur - ppm_prev) AS drift_ppm
        |FROM sh ORDER BY lang""".stripMargin),

    // compression-ratio quality signal (Gopher/FineWeb heuristic):
    // deflate-per-mille per doc — repetitive machine text compresses
    // far below prose. The Deflater stays REAL on the Spark side; the
    // oracle grades it through a planted two-class design (the q26/q37
    // pattern): %10==0 docs (length ≥ 100 for non-degenerate seeds)
    // are re-planted as their own first 24 chars repeated 40×.
    // Measured separation on the seed-42 corpus: planted-rep ratio
    // ≤ 42‰ (36‰ deflate body + ~6‰ zlib framing), natural-prose
    // ratio ≥ 370‰ at every SF (sf0.001/0.01/0.1, exhaustive python-
    // zlib sweep) vs the 200‰ gate — >4× margin on both sides, so
    // the per-class rates and the strict rep<prose ordering are
    // engine-independent facts DuckDB can assert without a SQL zlib.
    Entry("q136_docs_compress_ratio", (s, dir) => {
      val base = t(s, dir, "documents")
        .filter(length(col("text")) >= 100)
        .select(col("doc_id"), col("text"))
      val off = plantOffset(base, "doc_id") // collision-free at any scale
      val planted = base.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + off).as("doc_id"),
          concat_ws(" ", array_repeat(substring(col("text"), 1, 24), lit(40)))
            .as("text"))
      val sig = Quality
        .compressionSignals(base.unionByName(planted), "doc_id", "text")
        .withColumn("doc_class",
          when(col("doc_id") >= off, lit("planted_rep"))
            .otherwise(lit("prose")))
      val stats = sig.groupBy(col("doc_class")).agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("ratio_permille") < 200, 1L).otherwise(0L))
          .as("n_below_200"),
        min(col("ratio_permille")).as("mn"),
        max(col("ratio_permille")).as("mx"))
      val sep = stats.agg(
        max(when(col("doc_class") === "planted_rep", col("mx"))).as("rep_mx"),
        min(when(col("doc_class") === "prose", col("mn"))).as("prose_mn"))
      stats.crossJoin(broadcast(sep))
        .select(col("doc_class"), col("n_docs"), col("n_below_200"),
          when(col("rep_mx") < col("prose_mn"), 1L).otherwise(0L)
            .as("strictly_separated"))
        .orderBy(col("doc_class"))
    },
      // q136: planted-class compression oracle — membership is a pure
      // doc_id/length predicate, class rates follow from it, and the
      // strict planted_rep < prose ratio ordering is a measured-
      // separation fact (rep ≤ 42‰ vs prose ≥ 370‰ at every SF against
      // the 200‰ gate), so every output cell is SQL-computable even
      // though the deflate itself is not.
      """WITH base AS (
        |  SELECT doc_id FROM documents WHERE length(text) >= 100
        |)
        |SELECT doc_class, n_docs, n_below_200,
        |       CAST(1 AS BIGINT) AS strictly_separated
        |FROM (
        |  SELECT 'planted_rep' AS doc_class,
        |         CAST(COUNT(*) AS BIGINT) AS n_docs,
        |         CAST(COUNT(*) AS BIGINT) AS n_below_200
        |  FROM base WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT 'prose', CAST(COUNT(*) AS BIGINT), CAST(0 AS BIGINT)
        |  FROM base
        |)
        |ORDER BY doc_class""".stripMargin),

    // scalable dense global ids: 0..n−1 in doc_id order WITHOUT the
    // single-partition global-sort window — value-bucketed offsets +
    // per-bucket ranks (see Ids scaladoc). The oracle is the naive
    // ROW_NUMBER formulation, proving the parallel plan computes the
    // identical total order.
    Entry("q144_docs_global_ids", (s, dir) => {
      Ids.denseIds(t(s, dir, "documents").select(col("doc_id"), col("lang")),
          "doc_id", bucketWidth = 100L)
        .select(col("doc_id"), col("lang"), col("global_id"))
        .orderBy(col("doc_id"))
    },
      // q144: the naive single-partition formulation IS the oracle — the
      // parallel plan must reproduce it exactly.
      """SELECT doc_id, lang,
        |       CAST(ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS BIGINT)
        |         AS global_id
        |FROM documents ORDER BY doc_id""".stripMargin),

    // end-to-end curation chain, every stage deterministic and the
    // WHOLE composition value-checked: planted-dup corpus → exact
    // dedup (min-id per md5) → integer quality gate (q38 thresholds)
    // → per-lang deterministic quota (q77 ordering) → token chunking
    // (q66 geometry) → per-lang report. The composability proof: the
    // stages that pass individually also pass stacked.
    Entry("q148_curation_e2e", (s, dir) => {
      val d = t(s, dir, "documents")
      val corpus = d.unionByName(d.filter(col("doc_id") % 10 === 0)
        .withColumn("doc_id", col("doc_id") + plantOffset(d, "doc_id")))
      val keep = corpus
        .groupBy(md5(col("text").cast("binary")).as("h"))
        .agg(min(col("doc_id")).as("doc_id"))
      val deduped = corpus.join(keep.select("doc_id"), Seq("doc_id"), "left_semi")
      val toks = when(length(trim(col("text"))) === 0, 0)
        .otherwise(size(split(trim(col("text")), "\\s+")))
      val gated = deduped
        .withColumn("len", length(col("text")).cast("long"))
        .withColumn("alpha_chars",
          length(regexp_replace(col("text"), "[^A-Za-z]", "")).cast("long"))
        .withColumn("n_tokens", toks.cast("long"))
        .filter(col("len") >= 100 &&
          col("alpha_chars") * 100 >= col("len") * 55 &&
          col("n_tokens") >= 10)
      val sampled = Sampling.stratifiedQuota(gated, "lang", "doc_id", n = 30)
      val chunks = Chunking.chunkByTokens(
        sampled.select(col("doc_id"), col("text")), "doc_id", "text",
        maxTokens = 200)
      sampled.select(col("doc_id"), col("lang"))
        .join(chunks, Seq("doc_id"))
        .groupBy(col("lang"))
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_chunks"),
          sum(col("n_tokens")).as("sum_chunk_tokens"))
        .orderBy(col("lang"))
    },
      // q148: the q38/q77/q66 oracle pieces stacked. With zero overlap,
      // per-doc chunk tokens sum back to the doc's token count, so the
      // chunk stage needs no explode here: n_chunks = ceil(ntok/200).
      """WITH all_docs AS (
        |  SELECT doc_id, text, lang FROM documents
        |  UNION ALL
        |  SELECT doc_id + (SELECT (max(doc_id) // 1000000 + 1) * 1000000 FROM documents), text, lang FROM documents WHERE doc_id % 10 = 0
        |), keep AS (
        |  SELECT MIN(doc_id) AS doc_id FROM all_docs GROUP BY md5(text)
        |), deduped AS (
        |  SELECT a.* FROM all_docs a JOIN keep USING (doc_id)
        |), gated AS (
        |  SELECT doc_id, lang,
        |         CASE WHEN length(trim(text)) = 0 THEN 0
        |              ELSE length(regexp_split_to_array(trim(text), '\s+')) END
        |           AS n_tokens
        |  FROM deduped
        |  WHERE length(text) >= 100
        |    AND length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 100
        |        >= 55 * length(text)
        |    AND (CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE length(regexp_split_to_array(trim(text), '\s+')) END) >= 10
        |), sampled AS (
        |  SELECT doc_id, lang, n_tokens FROM (
        |    SELECT *, row_number() OVER (PARTITION BY lang
        |      ORDER BY ((doc_id % 2147483648) * 2654435761) % 4294967296,
        |               doc_id) AS rk
        |    FROM gated
        |  ) t WHERE rk <= 30
        |)
        |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       CAST(SUM((n_tokens + 199) // 200) AS BIGINT) AS n_chunks,
        |       CAST(SUM(n_tokens) AS BIGINT) AS sum_chunk_tokens
        |FROM sampled GROUP BY lang ORDER BY lang""".stripMargin),

    // SFT data prep: render each doc into a chat-templated training
    // string and compute the loss-mask boundary (prompt-token count) —
    // the step between a curated corpus and a fine-tune. The full
    // rendered string is emitted and value-checked, so template drift
    // between engines can't hide.
    Entry("q151_docs_sft_format", (s, dir) => {
      Chunking.sftFormat(t(s, dir, "documents"), "doc_id", "text",
          instruction = "Summarize the following passage: ", promptChars = 120)
        .orderBy(col("doc_id"))
    },
      // q151: same template (whitespace-guarded assistant tag → mask
      // alignment is structural), same whitespace token counts.
      """WITH f AS (
        |  SELECT doc_id,
        |         '<|user|>' || 'Summarize the following passage: '
        |           || substr(text, 1, 120) || ' <|assistant|>' AS prompt_region,
        |         substr(text, 121) AS completion
        |  FROM documents
        |)
        |SELECT doc_id,
        |       prompt_region || ' ' || completion AS rendered,
        |       CAST(length(prompt_region || ' ' || completion) AS BIGINT)
        |         AS n_chars,
        |       CAST(CASE WHEN length(trim(prompt_region)) = 0 THEN 0
        |            ELSE length(regexp_split_to_array(trim(prompt_region), '\s+'))
        |            END AS BIGINT) AS n_prompt_tokens,
        |       CAST(CASE WHEN length(trim(completion)) = 0 THEN 0
        |            ELSE length(regexp_split_to_array(trim(completion), '\s+'))
        |            END AS BIGINT) AS n_completion_tokens,
        |       CAST(CASE WHEN length(trim(prompt_region)) = 0 THEN 0
        |            ELSE length(regexp_split_to_array(trim(prompt_region), '\s+'))
        |            END AS BIGINT) AS mask_from
        |FROM f ORDER BY doc_id""".stripMargin),

    // per-source corpus health scorecard: the one-row-per-source daily
    // report a data team reads — volume, exact-dup rate, short-doc and
    // low-alpha rates (the q38 gate criteria as RATES, not filters),
    // and average length. Every rate is integer ppm; dups planted per
    // the q139 discipline so the dup column is non-degenerate.
    // n_dup_docs = n_docs − COUNT(DISTINCT text), computed inside the
    // ONE aggregation (identical to sum(n_copies−1) per source, no
    // second scan + join; COUNT(DISTINCT) ignores nulls the same way
    // on both engines).
    Entry("q153_source_scorecard", (s, dir) => {
      val d = t(s, dir, "documents")
      val corpus = d.unionByName(d.filter(col("doc_id") % 25 === 0)
        .withColumn("doc_id", col("doc_id") + plantOffset(d, "doc_id")))
      corpus
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          (count(lit(1)) - countDistinct(col("text"))).as("n_dup_docs"),
          sum(when(length(col("text")) < 100, 1L).otherwise(0L)).as("n_short"),
          sum(when(length(regexp_replace(col("text"), "[^A-Za-z]", "")) * 100 <
            length(col("text")) * 55, 1L).otherwise(0L)).as("n_low_alpha"),
          sum(length(col("text")).cast("long")).as("sum_len"))
        .select(col("source"), col("n_docs"),
          expr("CAST((n_dup_docs * 1000000L) DIV n_docs AS BIGINT)").as("dup_ppm"),
          expr("CAST((n_short * 1000000L) DIV n_docs AS BIGINT)").as("short_ppm"),
          expr("CAST((n_low_alpha * 1000000L) DIV n_docs AS BIGINT)").as("low_alpha_ppm"),
          expr("CAST((sum_len * 100L) DIV n_docs AS BIGINT)").as("avg_len_x100"))
        .orderBy(col("source"))
    },
      // q153: same planted corpus, same gate criteria as rates.
      """WITH corpus AS (
        |  SELECT doc_id, source, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + (SELECT (max(doc_id) // 1000000 + 1) * 1000000 FROM documents), source, text FROM documents
        |  WHERE doc_id % 25 = 0
        |), stats AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |         CAST(COUNT(*) - COUNT(DISTINCT text) AS BIGINT)
        |           AS n_dup_docs,
        |         CAST(SUM(CASE WHEN length(text) < 100 THEN 1 ELSE 0 END)
        |           AS BIGINT) AS n_short,
        |         CAST(SUM(CASE WHEN
        |             length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 100
        |             < length(text) * 55 THEN 1 ELSE 0 END) AS BIGINT)
        |           AS n_low_alpha,
        |         CAST(SUM(length(text)) AS BIGINT) AS sum_len
        |  FROM corpus GROUP BY source
        |)
        |SELECT source, n_docs,
        |       CAST(n_dup_docs * 1000000 // n_docs AS BIGINT) AS dup_ppm,
        |       CAST(n_short * 1000000 // n_docs AS BIGINT) AS short_ppm,
        |       CAST(n_low_alpha * 1000000 // n_docs AS BIGINT)
        |         AS low_alpha_ppm,
        |       CAST(sum_len * 100 // n_docs AS BIGINT) AS avg_len_x100
        |FROM stats
        |ORDER BY source""".stripMargin),

    // corpus-frequent span removal (C4-style boilerplate scrub): an
    // 8-token banner of out-of-vocabulary words is planted onto every
    // sixth doc; its internal 5-grams hit df = nDocs/6. Three measured
    // df bands must separate: natural content grams (max 4 at every
    // scale), banner→content BOUNDARY grams — "…theta <w>" is shared
    // by every planted doc whose text starts with the same word, so
    // its df reaches nPlanted × max-first-word-share ≈ nDocs/24
    // (measured 6/7/37 per scale — a fixed minDf = 6 clips content!)
    // — and the banner internals at nDocs/6. minDf = nDocs/12 sits in
    // the gap by construction (½ of banner, 2× boundary), so the
    // oracle states the outcome from first principles: planted docs
    // come back as their ORIGINAL text with n_removed = 8, untouched
    // docs pass through whole.
    Entry("q169_docs_boilerplate_scrub", (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val banner = "alpha beta gamma delta epsilon zeta eta theta"
      val planted = d.filter(col("doc_id") % 6 === 0)
        .select(col("doc_id"), concat(lit(banner + " "), col("text")).as("text"))
      val all = d.filter(col("doc_id") % 6 =!= 0).unionByName(planted)
      val minDf = math.max(6L, probeCount(d) / 12L)
      Dedup.removeFrequentSpans(all, "doc_id", "text", n = 5, minDf = minDf)
        .orderBy(col("doc_id"))
    },
      // q169: the planted-banner outcome stated from first principles —
      // the banner's internal grams are the only ones reaching
      // minDf = nDocs/12 (measured bands: natural ≤ 4, boundary ≤
      // nDocs/24, banner = nDocs/6), so cleaned text == the pre-plant
      // original everywhere. Text is single-spaced in the testdata, so
      // whitespace-normalized reconstruction is identity.
      """SELECT doc_id, text AS cleaned,
        |       CAST(CASE WHEN doc_id % 6 = 0 THEN 8 ELSE 0 END AS BIGINT) AS n_removed
        |FROM documents
        |WHERE length(trim(text)) > 0
        |ORDER BY doc_id""".stripMargin),

    // deterministic corpus shuffle + shard assignment: every
    // document gets a pseudorandom reproducible position (md5 order)
    // and an equal-count shard; the global index is computed with the
    // Ids split (hex-prefix buckets + within-bucket rank) so no
    // corpus-sized single-partition window exists. Output: the exact
    // assignment on a deterministic sample slice.
    Entry("q194_docs_shuffle_shards", (s, dir) => {
      val assigned = Sharding.shuffleShards(
        t(s, dir, "documents"), "doc_id", "text", nShards = 8)
      assigned.filter(col("doc_id") % 37 === 0)
        .select(col("doc_id"), col("global_idx"), col("shard_id"))
        .orderBy(col("doc_id"))
    },
      // q194/q195: md5 order is engine-identical (same lowercase hex of
      // the decimal id string), so the dense rank, the arithmetic shard
      // cut, and the per-shard totals all hash-check exactly.
      """WITH a AS (
        |  SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents
        |), i AS (
        |  SELECT doc_id,
        |         row_number() OVER (ORDER BY h, doc_id) - 1 AS gi,
        |         (SELECT count(*) FROM a) AS c
        |  FROM a
        |)
        |SELECT doc_id, CAST(gi AS BIGINT) AS global_idx,
        |       CAST((gi * 8) // c AS BIGINT) AS shard_id
        |FROM i WHERE doc_id % 37 = 0
        |ORDER BY doc_id""".stripMargin),

    // shard balance audit: what equal-COUNT sharding does to
    // TOKEN balance — per-shard doc and token totals, the number the
    // training loop actually feeds on.
    Entry("q195_docs_shard_balance", (s, dir) => {
      val assigned = Sharding.shuffleShards(
        t(s, dir, "documents"), "doc_id", "text", nShards = 8)
      Sharding.shardBalance(assigned).orderBy(col("shard_id"))
    },
      """WITH a AS (
        |  SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h,
        |         CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |                              x -> x <> '')) AS BIGINT) AS ntok
        |  FROM documents
        |), i AS (
        |  SELECT ntok,
        |         row_number() OVER (ORDER BY h, doc_id) - 1 AS gi,
        |         (SELECT count(*) FROM a) AS c
        |  FROM a
        |)
        |SELECT CAST((gi * 8) // c AS BIGINT) AS shard_id,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(SUM(ntok) AS BIGINT) AS n_tokens
        |FROM i GROUP BY 1
        |ORDER BY shard_id""".stripMargin),

    // end-to-end pretraining preprocessing: the full pipeline a
    // training run actually executes, composed from the catalog's own
    // operators and verified as ONE artifact — exact dedup (keep-min
    // per md5), quality screen (>= 10 tokens), target domain mixture
    // (40/30/20/10 via mixToTarget's maximal-total quota), then
    // deterministic shuffle-sharding; output is the training manifest:
    // per (shard, source) document and token totals. Every stage is
    // individually oracle-checked elsewhere (q23/q24/q103/q194) — this
    // pins their COMPOSITION, where stage-boundary drift would hide.
    Entry("q198_docs_pretrain_pipeline", (s, dir) => {
      val d = t(s, dir, "documents")
      val kept = d.join(
        Dedup.exact(d, "doc_id", "text").select(col("keep_id").as("doc_id")),
        Seq("doc_id"), "left_semi")
      val quality = kept.filter(
        expr("size(filter(split(trim(text), '\\\\s+'), x -> x != ''))") >= 10)
      val mixed = Sampling.mixToTarget(quality, "source", "doc_id",
        Map("src0" -> 400000L, "src1" -> 300000L,
          "src2" -> 200000L, "src3" -> 100000L))
      val assigned = Sharding.shuffleShards(mixed, "doc_id", "text", nShards = 4)
      assigned.join(mixed.select(col("doc_id"), col("source")), Seq("doc_id"))
        .groupBy(col("shard_id"), col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
        .orderBy(col("shard_id"), col("source"))
    },
      // q198: the four stages chained in SQL — md5 keep-min dedup,
      // token floor, the q103 quota mixture, the q194 md5-order shard
      // cut — same integer arithmetic at every boundary.
      """WITH kept AS (
        |  SELECT d.* FROM documents d
        |  JOIN (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)) k
        |  USING (doc_id)
        |), qf AS (
        |  SELECT * FROM (
        |    SELECT doc_id, source,
        |           CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |                                x -> x <> '')) AS BIGINT) AS ntok
        |    FROM kept)
        |  WHERE ntok >= 10
        |), t(source, parts) AS (
        |  VALUES ('src0', 400000), ('src1', 300000),
        |         ('src2', 200000), ('src3', 100000)
        |), counts AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n FROM qf GROUP BY source
        |), tot AS (
        |  SELECT MIN(n * 1000000 // parts) AS total
        |  FROM counts JOIN t USING (source)
        |), qq AS (
        |  SELECT source, (SELECT total FROM tot) * parts // 1000000 AS quota FROM t
        |), ranked AS (
        |  SELECT doc_id, source, ntok,
        |         row_number() OVER (PARTITION BY source
        |           ORDER BY ((doc_id % 2147483648) * 2654435761) % 4294967296,
        |                    doc_id) AS rn
        |  FROM qf
        |), mixed AS (
        |  SELECT doc_id, source, ntok
        |  FROM ranked JOIN qq USING (source) WHERE rn <= quota
        |), i AS (
        |  SELECT source, ntok,
        |         row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1 AS gi,
        |         (SELECT count(*) FROM mixed) AS c
        |  FROM mixed
        |)
        |SELECT CAST((gi * 4) // c AS BIGINT) AS shard_id, source,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(SUM(ntok) AS BIGINT) AS n_tokens
        |FROM i GROUP BY 1, 2
        |ORDER BY shard_id, source""".stripMargin),
  )
}
