package perfbench

import java.time.LocalDate

import org.apache.spark.sql.{Row, SparkSession}

/** Tests of the benchmark's own helpers: percentiles, interval union,
  * generator determinism and failure counting. Exits non-zero on the
  * first failed assertion.
  *
  * Run: python3 perfbench/run.py --selftest
  */
object SelfTest {

  private var checks = 0

  private def check(what: String, ok: Boolean): Unit = {
    checks += 1
    if (!ok) {
      System.err.println(s"[selftest] FAIL $what")
      sys.exit(1)
    }
  }

  private def close(a: Double, b: Double): Boolean = math.abs(a - b) < 1e-9

  def percentiles(): Unit = {
    val xs = Seq(5.0, 1.0, 4.0, 2.0, 3.0)
    check("median of 1..5", close(Stats.median(xs), 3.0))
    check("p0 is the minimum", close(Stats.percentile(xs, 0.0), 1.0))
    check("p100 is the maximum", close(Stats.percentile(xs, 1.0), 5.0))
    check("p25 interpolates on ranks", close(Stats.percentile(xs, 0.25), 2.0))
    check("median of two interpolates", close(Stats.median(Seq(1.0, 2.0)), 1.5))
    check("single sample", close(Stats.percentile(Seq(7.0), 0.9), 7.0))
    val hundred = (1 to 100).map(_.toDouble)
    check("p90 of 1..100", close(Stats.percentile(hundred, 0.9), 90.1))
    check("empty input rejected",
      scala.util.Try(Stats.percentile(Nil, 0.5)).isFailure)
  }

  def intervals(): Unit = {
    check("empty union", Stats.unionLength(Nil) == 0L)
    check("disjoint intervals add", Stats.unionLength(Seq(0L -> 10L, 20L -> 25L)) == 15L)
    check("overlap counted once", Stats.unionLength(Seq(0L -> 10L, 5L -> 15L)) == 15L)
    check("nested interval absorbed", Stats.unionLength(Seq(0L -> 100L, 10L -> 20L)) == 100L)
    check("touching intervals join", Stats.unionLength(Seq(10L -> 20L, 0L -> 10L)) == 20L)
    check("inverted and empty cover nothing", Stats.unionLength(Seq(5L -> 5L, 9L -> 3L)) == 0L)
    check("unsorted input", Stats.unionLength(Seq(30L -> 40L, 0L -> 5L, 3L -> 8L)) == 18L)
    check("clip to window",
      Stats.clip(Seq(0L -> 10L, 15L -> 30L, 40L -> 50L), 5L, 20L) == Seq(5L -> 10L, 15L -> 20L))
    val window = Span(0, "op", 1000L, 2000L, 1.0)
    check("no-job time is the window minus job union",
      close(Workload.noJobSeconds(window, Seq(900L -> 1200L, 1100L -> 1300L, 1900L -> 2500L)), 0.6))
  }

  def generators(): Unit = {
    val spec = InventorySpec(rowsPerArrival = 3000, arrivals = 3, daysPerArrival = 30,
      start = LocalDate.of(2023, 1, 1))
    val a = InventoryGen.generate(11L, spec)
    val b = InventoryGen.generate(11L, spec)
    val c = InventoryGen.generate(12L, spec)
    check("same seed, same input digest", a.digest == b.digest)
    check("same seed, same rows", a.arrivals.map(_.rows) == b.arrivals.map(_.rows))
    check("another seed, another input digest", a.digest != c.digest)
    check("exact duplicates planted", a.arrivals.forall(_.dups > 0))
    check("null dates only in the first arrival",
      a.arrivals.head.nullDates > 0 && a.arrivals.tail.forall(_.nullDates == 0))
    check("null-date rows are really null",
      a.arrivals.head.rows.count(_.isNullAt(1)) >= a.arrivals.head.nullDates)
    val products = a.arrivals.flatMap(_.rows).map(r => r.getString(4) -> r.getDouble(7)).distinct
    check("dim_product multi-row per product_id",
      products.groupBy(_._1).values.exists(_.size > 1))
    val storeAttrs = a.arrivals.map(_.rows.filter(_.getString(2) == "ST000")
      .map(r => (r.getInt(10), r.getInt(11))).distinct)
    check("tracked store attributes change between arrivals",
      storeAttrs.forall(_.size == 1) && storeAttrs.distinct.size > 1)
    check("arrival dates strictly increase",
      a.arrivals.sliding(2).forall { case Seq(x, y) =>
        y.rows.filter(!_.isNullAt(1)).forall(r => !r.getTimestamp(1).toInstant.isBefore(
          x.maxDate.plusDays(1).atStartOfDay(java.time.ZoneOffset.UTC).toInstant))
      })
    val ids = a.datedDistinct(2).map(_.getString(0))
    check("dated distinct rows are unique", ids.distinct.size == ids.size)
    check("expected fact rows match dated distinct rows", a.expectedFact(2) == ids.size.toLong)
    check("first load keeps duplicates", a.expectedRaw(0) == a.arrivals.head.rows.size.toLong)
    check("documents deterministic",
      CorpusGen.documents(200) == CorpusGen.documents(200))
    check("embeddings deterministic and unit norm", {
      val e = CorpusGen.embeddings(50)
      e.map(_.getSeq[Float](1)) == CorpusGen.embeddings(50).map(_.getSeq[Float](1)) &&
        e.forall(r => math.abs(math.sqrt(r.getSeq[Float](1).map(x => x.toDouble * x).sum) - 1) < 1e-5)
    })
  }

  def failureCounting(spark: SparkSession): Unit = {
    import spark.implicits._
    val df = Seq((1L, "a"), (2L, "b"), (3L, null)).toDF("id", "s")
    val right = Digest.frame(df)
    check("frame digest is order independent", Digest.frame(df.orderBy($"id".desc)) == right)
    val rows = Seq(Row(1L, "a"), Row(2L, null))
    check("row digest is order independent", Digest.rows(rows) == Digest.rows(rows.reverse))

    val l = new Ledger
    val good = l.attempt("good")(Digest.frame(df))(d => Ledger.expect("digest", d, right))
    val wrong = l.attempt("wrong digest")(Digest.frame(df))(d => Ledger.expect("digest", d, "0:0:3"))
    val thrown = l.attempt("throws")(Digest.frame(df.selectExpr("if(id < 2, id, raise_error('boom')) AS x")))(_ => None)
    val badCheck = l.attempt("check throws")(1)(_ => throw new IllegalStateException("boom"))
    check("correct operation is timed", good.exists(_._2 > 0))
    check("wrong digest yields no timing sample", wrong.isEmpty)
    check("throwing operation yields no timing sample", thrown.isEmpty)
    check("throwing check yields no timing sample", badCheck.isEmpty)
    check("attempted counts every operation", l.attempted == 4)
    check("failed counts the wrong digest and the throws", l.failed == 3)
    check("failures are named", l.failures.toSeq == Seq("wrong digest", "throws", "check throws"))
    check("verify counts a mismatch", !l.verify("zone")(Some("mismatch")) && l.failed == 4)
  }

  def main(args: Array[String]): Unit = {
    percentiles()
    intervals()
    generators()
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", args.headOption.getOrElse(System.getProperty("java.io.tmpdir")))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try failureCounting(spark) finally spark.stop()
    println(s"[selftest] ok: $checks checks passed")
  }
}
