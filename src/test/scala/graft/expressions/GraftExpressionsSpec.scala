package graft.expressions

import org.apache.spark.sql.{AnalysisException, Row}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.SparkSpec

class GraftExpressionsSpec extends SparkSpec {

  import spark.implicits._

  private def ad(xs: Array[Long]): ArrayData = UnsafeArrayData.fromPrimitiveArray(xs)
  private def floats(xs: Float*): ArrayData = UnsafeArrayData.fromPrimitiveArray(xs.toArray)

  test("kernels: shingle set is sorted distinct; minhash minima are consistent") {
    val s = UTF8String.fromString("a b a b a b c")
    val set = Kernels.shingleSet(s, 2, charLevel = false).toLongArray()
    assert(set.toSeq === set.toSeq.sorted)
    assert(set.toSeq.distinct === set.toSeq)
    assert(set.length === 3) // "a b", "b a", "b c"
    val sig = Kernels.minhash(s, 2, 8, charLevel = false).toLongArray()
    assert(sig.length === 8)
    // signature values must be minima of the per-permutation hashes of
    // the set — recomputing from the set agrees
    assert(sig.toSeq === Kernels.minhashFromHashes(
      ad(Kernels.tokenShingleHashes(s, 2)), 8).toLongArray().toSeq)
  }

  test("kernels: jaccardSorted edge cases") {
    assert(Kernels.jaccardSorted(ad(Array.emptyLongArray), ad(Array.emptyLongArray)) === 1.0)
    assert(Kernels.jaccardSorted(ad(Array(1L, 2L)), ad(Array.emptyLongArray)) === 0.0)
    assert(Kernels.jaccardSorted(ad(Array(1L, 2L, 3L)), ad(Array(2L, 3L, 4L))) === 0.5)
  }

  test("expressions evaluate identically via codegen and interpreted paths") {
    // every scalar function over a row of values and a row of nulls;
    // repartition keeps the optimizer from evaluating the projection
    // over the local rows itself
    val planes = (0 until 4).flatMap(j => Seq(0.5 - j, -0.25 * j, 0.125))
    val df = Seq(
      (Option("the quick brown fox jumps"), Option(Array(1L, 5L, 9L)), Option(Array(5L, 9L, 12L)),
        Option(Array(1L, 1L, 1L)), Option(Array(1f, -2f, 3f)), Option(Array(0.5f, 4f, -1f)),
        Option(2.5)),
      (None, None, None, None, None, None, None))
      .toDF("t", "a", "b", "codes", "u", "v", "d").repartition(1)
    val cols = Seq(
      GraftFunctions.minhashSig(col("t"), 3, 8, false),
      GraftFunctions.shingleSet(col("t"), 4, true),
      GraftFunctions.minhashFromSet(col("a"), 4),
      GraftFunctions.winnow(col("t"), 4, 3),
      GraftFunctions.simhash64(col("t")),
      GraftFunctions.jaccardSorted(col("a"), col("b")),
      GraftFunctions.vecDot(col("u"), col("v")),
      GraftFunctions.vecCosine(col("u"), col("v")),
      GraftFunctions.hyperplaneBucket(col("u"), planes, 4),
      GraftFunctions.scatterLut(col("a"), col("b"), 16),
      GraftFunctions.adcLookupSum(col("codes"),
        GraftFunctions.scatterLut(col("a"), col("b"), 16), 2),
      GraftFunctions.doubleBits(col("d")))
    def run(): (String, Seq[Row]) = {
      val q = df.select(cols.zipWithIndex.map { case (c, i) => c.as(s"c$i") }: _*)
      val rows = q.collect().toSeq // first: the explained plan is then the final one
      (q.queryExecution.explainString(ExplainMode.fromString("formatted")), rows)
    }
    val (codegenPlan, codegen) = run()
    val confs = Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    val (interpretedPlan, interpreted) =
      try { confs.foreach { case (k, v) => spark.conf.set(k, v) }; run() }
      finally saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    assert(saved.forall { case (k, v) => spark.conf.getOption(k) == v })
    assert(codegenPlan.contains("codegen id") && !interpretedPlan.contains("codegen id"))
    assert(interpreted === codegen)
    assert(codegen(1).toSeq.forall(_ == null), s"null inputs must give nulls: ${codegen(1)}")
    // and the value row is the kernels' own answer
    val text = UTF8String.fromString("the quick brown fox jumps")
    val (a, b) = (ad(Array(1L, 5L, 9L)), ad(Array(5L, 9L, 12L)))
    val (u, v) = (floats(1f, -2f, 3f), floats(0.5f, 4f, -1f))
    val lut = Kernels.scatterLut(a, b, 16)
    val expected = Seq(
      Kernels.minhash(text, 3, 8, false).toLongArray().toSeq,
      Kernels.shingleSet(text, 4, true).toLongArray().toSeq,
      Kernels.minhashFromHashes(a, 4).toLongArray().toSeq,
      Kernels.winnow(text, 4, 3).toLongArray().toSeq,
      Kernels.simhash(text),
      Kernels.jaccardSorted(a, b),
      Kernels.dotF(u, v),
      Kernels.cosineF(u, v),
      Kernels.hyperplaneBucket(u, UnsafeArrayData.fromPrimitiveArray(planes.toArray), 4),
      lut.toLongArray().toSeq,
      Kernels.adcLookupSum(ad(Array(1L, 1L, 1L)), lut, 2),
      java.lang.Double.doubleToLongBits(2.5))
    assert(codegen(0).toSeq === expected)
    assert(codegen(0).getLong(10) === 5L + 9L + 12L) // lut[1] + lut[4 + 1] + lut[8 + 1]
  }

  test("a wrong-typed argument fails at analysis") {
    val df = Seq((Array(1L, 2L), "text")).toDF("longs", "s")
    intercept[AnalysisException](df.select(GraftFunctions.simhash64(col("longs"))))
    intercept[AnalysisException](df.select(GraftFunctions.vecCosine(col("s"), col("s"))))
    GraftExtensions.register(spark)
    df.createOrReplaceTempView("ge_types")
    try {
      intercept[AnalysisException](spark.sql("SELECT simhash64(longs) FROM ge_types"))
      intercept[AnalysisException](spark.sql("SELECT vec_cosine(s, s) FROM ge_types"))
    } finally spark.catalog.dropTempView("ge_types")
  }

  test("null inputs propagate as null") {
    val df = Seq(Option.empty[String], Some("x y z")).toDF("t")
    val out = df.select(
      GraftFunctions.simhash64(col("t")).as("sh"),
      GraftFunctions.minhashSig(col("t"), 2, 4, false).as("mh")).collect()
    assert(out.exists(r => r.isNullAt(0) && r.isNullAt(1)))
  }

  test("vec_dot / vec_cosine match hand computation incl. zero-norm") {
    val df = Seq(
      (Array(1f, 2f, 3f), Array(4f, 5f, 6f)),
      (Array(0f, 0f, 0f), Array(1f, 1f, 1f)),
    ).toDF("a", "b")
    val out = df.select(
      GraftFunctions.vecDot(col("a"), col("b")).as("d"),
      GraftFunctions.vecCosine(col("a"), col("b")).as("c")).collect()
    assert(out(0).getDouble(0) === 32.0)
    assert(math.abs(out(0).getDouble(1) - 32.0 / (math.sqrt(14) * math.sqrt(77))) < 1e-12)
    assert(out(1).getDouble(0) === 0.0)
    assert(out(1).getDouble(1) === 0.0) // zero-norm → 0.0, not NaN
  }

  test("SQL registration: functions callable from spark.sql") {
    GraftExtensions.register(spark)
    Seq((1L, "hello world hello world")).toDF("id", "text")
      .createOrReplaceTempView("ge_docs")
    val r = spark.sql(
      """SELECT simhash64(text) AS sh,
        |       size(minhash_sig(text, 2, 8, false)) AS k,
        |       jaccard_sorted(shingle_set(text, 2, false),
        |                      shingle_set(text, 2, false)) AS j,
        |       size(winnow(text, 4, 2)) AS nfp
        |FROM ge_docs""".stripMargin).head
    assert(r.getLong(0) !== 0L)
    assert(r.getInt(1) === 8)
    assert(r.getDouble(2) === 1.0)
    assert(r.getInt(3) > 0)
    spark.catalog.dropTempView("ge_docs")
    // every scalar function is registered under its SQL name, and so
    // is the aggregate
    (GraftFunctions.scalars.map(_.name) :+ "minhash_union").foreach { n =>
      assert(spark.catalog.functionExists(n), s"$n is not registered")
    }
  }

  test("hyperplane bucket: opposite vectors produce complementary buckets") {
    val planes = (0 until 8).flatMap(_ => Seq(0.5, -0.25, 0.125)).toIndexedSeq
    val df = Seq(Array(1f, 2f, 3f), Array(-1f, -2f, -3f)).toDF("v")
      .select(GraftFunctions.hyperplaneBucket(col("v"), planes, 8).as("b"))
    val Array(b1, b2) = df.collect().map(_.getLong(0))
    assert((b1 ^ b2) === 255L)
  }

  test("scatterLut places entries densely; unobserved cells stay 0") {
    val lut = Kernels.scatterLut(ad(Array(3L, 0L, 5L)), ad(Array(30L, -7L, 50L)), 8)
    assert(lut.toLongArray().toSeq === Seq(-7L, 0L, 0L, 30L, 0L, 50L, 0L, 0L))
  }

  test("adcLookupSum = Σⱼ lut[(j << w) + codes[j]] — hand case") {
    // m = 2 blocks, w = 2 bits: lut cells 0-3 = block 0, 4-7 = block 1
    val lut = ad(Array(10L, 11L, 12L, 13L, 20L, 21L, 22L, 23L))
    // codes = [2, 1] → lut[2] + lut[4 + 1] = 12 + 21 = 33
    assert(Kernels.adcLookupSum(ad(Array(2L, 1L)), lut, 2) === 33L)
    // empty codes → 0 (vacuous sum)
    assert(Kernels.adcLookupSum(ad(Array.emptyLongArray), lut, 2) === 0L)
  }

  test("adc lookup expressions agree between codegen plan and kernels") {
    val df = Seq((Array(2L, 1L), Array(3L, 0L), Array(30L, -7L)))
      .toDF("codes", "idxs", "vals")
      .select(
        GraftFunctions.adcLookupSum(
          col("codes"),
          GraftFunctions.scatterLut(col("idxs"), col("vals"), 8), 2).as("adc"))
    // lut = [-7, 0, 0, 30, 0, 0, 0, 0]; codes [2, 1] → lut[2] + lut[5] = 0
    assert(df.head.getLong(0) ===
      Kernels.adcLookupSum(ad(Array(2L, 1L)),
        Kernels.scatterLut(ad(Array(3L, 0L)), ad(Array(30L, -7L)), 8), 2))
    assert(df.head.getLong(0) === 0L)
  }
}
