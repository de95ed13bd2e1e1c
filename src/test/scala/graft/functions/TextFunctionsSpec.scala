package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

class TextFunctionsSpec extends SparkSpec {

  import spark.implicits._

  private def one(c: org.apache.spark.sql.Column, text: String) =
    Seq(text).toDF("t").select(c.as("v")).head

  test("tokenCount: words, collapsed whitespace, empty, blank") {
    assert(one(TextFunctions.tokenCount(col("t")), "a b  c").getInt(0) === 3)
    assert(one(TextFunctions.tokenCount(col("t")), "").getInt(0) === 0)
    assert(one(TextFunctions.tokenCount(col("t")), "   ").getInt(0) === 0)
    assert(one(TextFunctions.tokenCount(col("t")), "single").getInt(0) === 1)
  }

  test("alphaRatio / spaceRatio on a known string") {
    // "ab 12" → 5 chars: 2 alpha, 2 digit, 1 space
    assert(one(TextFunctions.alphaRatio(col("t")), "ab 12").getDouble(0) === 0.4)
    assert(one(TextFunctions.spaceRatio(col("t")), "ab 12").getDouble(0) === 0.2)
  }

  test("meanTokenLen: non-space chars / token count") {
    // "abc de" → 5 non-space chars / 2 tokens = 2.5
    assert(one(TextFunctions.meanTokenLen(col("t")), "abc de").getDouble(0) === 2.5)
  }

  test("langId detects language by stopword hits, zh by CJK, und when unknown") {
    val cases = Map(
      "the cat is in the house and it is warm" -> "en",
      "le chat est dans la maison et il est chaud" -> "fr",
      "el gato es un animal y la casa es grande" -> "es",
      "der hund ist ein tier und die katze ist klein" -> "de",
      "你好世界" -> "zh",
      "zzz qqq xxx" -> "und")
    cases.foreach { case (text, expected) =>
      assert(one(TextFunctions.langId(col("t")), text).getString(0) === expected,
        s"for: $text")
    }
  }

  test("stopwordTokenCount counts multiset occurrences") {
    // "the the cat" → 2 of 3 tokens are stopwords
    assert(one(TextFunctions.stopwordTokenCount(col("t"), "en"), "the the cat").getLong(0) === 2L)
  }

  test("tokenShingles: n-grams of tokens, too-short → empty") {
    assert(one(TextFunctions.tokenShingles(col("t"), 2), "a b c")
      .getSeq[String](0) === Seq("a b", "b c"))
    assert(one(TextFunctions.tokenShingles(col("t"), 5), "a b c")
      .getSeq[String](0).isEmpty)
  }

  test("charShingleHashes: count = len-k+1, stable across rows") {
    val h1 = one(TextFunctions.charShingleHashes(col("t"), 3), "abcdef").getSeq[Long](0)
    val h2 = one(TextFunctions.charShingleHashes(col("t"), 3), "abcdef").getSeq[Long](0)
    assert(h1.length === 4)
    assert(h1 === h2)
  }

  test("dupNgramRatio: 0 for all-distinct grams, rises with repetition") {
    // "abcdef": four distinct 3-grams → ratio 0
    assert(one(TextFunctions.dupNgramRatio(col("t"), 3), "abcdef").getDouble(0) === 0.0)
    // "aaaaaa": one distinct 3-gram of 4 total → 0.75
    assert(one(TextFunctions.dupNgramRatio(col("t"), 3), "aaaaaa").getDouble(0) === 0.75)
    // shorter than n → defined as 0
    assert(one(TextFunctions.dupNgramRatio(col("t"), 3), "ab").getDouble(0) === 0.0)
    val boiler = "spam spam spam spam spam spam spam spam"
    val prose = "each word here is deliberately unique within sentence"
    assert(one(TextFunctions.dupNgramRatio(col("t"), 5), boiler).getDouble(0) >
      one(TextFunctions.dupNgramRatio(col("t"), 5), prose).getDouble(0))
  }

  test("redactPii scrubs emails, IPv4s, and phone numbers to typed tags") {
    val in = "mail a.b+c@sub.example.org, host 192.168.0.1, call 555-123-4567 now"
    assert(one(TextFunctions.redactPii(col("t")), in).getString(0) ===
      "mail <email>, host <ip>, call <phone> now")
    // redaction is idempotent: a second pass finds nothing to replace
    val once = one(TextFunctions.redactPii(col("t")), in).getString(0)
    assert(one(TextFunctions.redactPii(col("t")), once).getString(0) === once)
    // clean text passes through untouched
    val clean = "no contact details in this sentence at all"
    assert(one(TextFunctions.redactPii(col("t")), clean).getString(0) === clean)
  }

  test("redactPii ordering: emails win over the ip/phone digit patterns") {
    // the host part of an email contains dot-separated digits — the
    // email pass must consume it before the ip pass can split it
    val in = "ping 12.34.56.78@weird.example.net plus bare 10.0.0.7"
    assert(one(TextFunctions.redactPii(col("t")), in).getString(0) ===
      "ping <email> plus bare <ip>")
  }

  test("piiMatchCount counts matches per pattern") {
    val in = "a@b.io c@d.co 1.2.3.4 555-123-4567 555-99-1234"
    def cnt(p: String) = one(TextFunctions.piiMatchCount(col("t"), p), in).getLong(0)
    assert(cnt(TextFunctions.EmailPattern) === 2L)
    assert(cnt(TextFunctions.Ipv4Pattern) === 1L)
    assert(cnt(TextFunctions.PhonePattern) === 1L, "555-99-1234 is not phone-shaped")
  }
}
