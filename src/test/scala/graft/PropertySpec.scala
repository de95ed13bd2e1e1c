package graft

import java.sql.Timestamp

import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.expressions.Kernels

/** Property-based checks (SURVEY.md §5.2): kernel algebra on random
  * inputs, SCD2 invariants on random dimension states. Plain ScalaCheck
  * Prop/Test API (no scalatestplus shim in the dependency set).
  */
class PropertySpec extends SparkSpec {

  private def check(p: Prop, n: Int = 50): Unit = {
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(n), p)
    assert(r.passed, r.status.toString)
  }

  private val textGen: Gen[String] =
    Gen.listOf(Gen.oneOf("the", "cat", "dog", "runs", "fast", "x1", "zz", "", "a b"))
      .map(_.mkString(" "))

  test("kernel: shingle sets are sorted and distinct for arbitrary text") {
    check(Prop.forAll(textGen, Gen.choose(1, 6)) { (s, n) =>
      val u = UTF8String.fromString(s)
      Seq(true, false).forall { charLevel =>
        val set = Kernels.shingleSet(u, n, charLevel).toLongArray().toSeq
        set == set.sorted && set == set.distinct
      }
    })
  }

  test("kernel: jaccardSorted is symmetric, bounded, and 1.0 on self") {
    val arrGen = Gen.listOf(Gen.choose(-50L, 50L))
      .map(xs => UnsafeArrayData.fromPrimitiveArray(xs.distinct.sorted.toArray))
    check(Prop.forAll(arrGen, arrGen) { (a, b) =>
      val ab = Kernels.jaccardSorted(a, b)
      val ba = Kernels.jaccardSorted(b, a)
      ab == ba && ab >= 0.0 && ab <= 1.0 &&
        Kernels.jaccardSorted(a, a) == 1.0
    })
  }

  test("kernel: sortedIntersectSize agrees with Set intersection") {
    val arrGen = Gen.listOf(Gen.choose(-30L, 30L))
      .map(_.distinct.sorted.toArray)
    check(Prop.forAll(arrGen, arrGen) { (a, b) =>
      Kernels.sortedIntersectSize(a, b) == a.toSet.intersect(b.toSet).size
    })
  }

  test("kernel: minhash signature of a superset never exceeds the subset's minima") {
    // adding elements can only lower (or keep) each per-permutation min
    val arrGen = Gen.nonEmptyListOf(Gen.long).map(_.toArray)
    check(Prop.forAll(arrGen, arrGen) { (a, extra) =>
      def sig(hs: Array[Long]) =
        Kernels.minhashFromHashes(UnsafeArrayData.fromPrimitiveArray(hs), 8).toLongArray()
      val sub = sig(a)
      val sup = sig(a ++ extra)
      sub.zip(sup).forall { case (s1, s2) => s2 <= s1 }
    })
  }

  test("kernel: identical text → identical simhash; hamming to self is 0") {
    check(Prop.forAll(textGen) { s =>
      val u = UTF8String.fromString(s)
      Kernels.simhash(u) == Kernels.simhash(UTF8String.fromString(s))
    })
  }

  test("SCD2 corrected invariants hold on random dimension states") {
    import spark.implicits._
    val t1 = Timestamp.valueOf("2024-01-01 00:00:00")
    val t0 = Timestamp.valueOf("2023-01-01 00:00:00")
    val stateGen = for {
      existingKeys <- Gen.someOf(1L to 12L)
      newKeys <- Gen.someOf(1L to 15L)
      if existingKeys.nonEmpty && newKeys.nonEmpty
      exVals <- Gen.listOfN(existingKeys.size, Gen.choose(0L, 3L))
      newVals <- Gen.listOfN(newKeys.size, Gen.choose(0L, 3L))
    } yield (existingKeys.zip(exVals), newKeys.zip(newVals))
    // fewer cases — each runs Spark jobs
    check(Prop.forAll(stateGen) { case (ex, nw) =>
      val existing = ex.toSeq.toDF("k", "v")
        .withColumn("start_date", org.apache.spark.sql.functions.lit(t0))
        .withColumn("end_date",
          org.apache.spark.sql.functions.lit(null).cast("timestamp"))
        .withColumn("is_current", org.apache.spark.sql.functions.lit(true))
      val newBatch = nw.toSeq.toDF("k", "v")
      val out = graft.etl.Scd2.corrected(newBatch, existing, "k", Seq("v"), t1)
        .collect()
      val current = out.filter(_.getAs[Boolean]("is_current"))
      val currByKey = current.groupBy(_.getAs[Long]("k"))
      // (1) at most one current row per key
      val oneCurrent = currByKey.forall(_._2.length == 1)
      // (2) every new-batch key is current with the new value
      val nwMap = nw.toMap
      val newApplied = nw.forall { case (k, v) =>
        currByKey.get(k).exists(_.head.getAs[Long]("v") == v)
      }
      // (3) keys absent from the batch keep their existing current row
      val kept = ex.filterNot { case (k, _) => nwMap.contains(k) }
        .forall { case (k, v) => currByKey.get(k).exists(_.head.getAs[Long]("v") == v) }
      oneCurrent && newApplied && kept
    }, n = 15)
  }

  // The round-4 operator invariants run ONE Spark job over a large
  // seeded-random frame each (per-sample jobs would be too slow), with
  // the invariant asserted row-by-row against a driver-side replica.

  test("quantizeInt8Component: range, floor semantics, monotonicity on random floats") {
    import spark.implicits._
    val rnd = new scala.util.Random(4242)
    val xs = Array.fill(2000)((rnd.nextFloat() - 0.5f) * 4.0f) ++
      Array(-1.0f, 1.0f, 0.0f, -128f / 127f, 2.0f, -2.0f)
    val got = xs.toSeq.toDF("x")
      .select(org.apache.spark.sql.functions.col("x"),
        graft.functions.VectorFunctions.quantizeInt8Component(
          org.apache.spark.sql.functions.col("x")).as("q"))
      .collect().map(r => r.getFloat(0) -> r.getInt(1))
    got.foreach { case (x, q) =>
      assert(q >= -128 && q <= 127, s"out of rails: $x -> $q")
      val expect = math.max(-128L, math.min(127L, math.floor(x.toDouble * 127).toLong))
      assert(q.toLong === expect, s"floor mismatch: $x -> $q (want $expect)")
    }
    val sorted = got.sortBy(_._1)
    sorted.sliding(2).foreach {
      case Array((x1, q1), (x2, q2)) =>
        assert(q1 <= q2, s"not monotone: $x1->$q1 vs $x2->$q2")
      case _ =>
    }
  }

  test("packSequences: offsets in [0, budget), running sum replicated exactly") {
    import spark.implicits._
    val rnd = new scala.util.Random(99)
    val rows = (0 until 1500).map(i =>
      (i.toLong, s"g${rnd.nextInt(7)}", rnd.nextInt(900).toLong))
    val budget = 512L
    val got = graft.operators.Chunking.packSequences(
        rows.toDF("doc_id", "source", "n_tokens"), "doc_id", "n_tokens", "source", budget)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(3), r.getLong(4)))
    val expect = rows.groupBy(_._2).flatMap { case (_, grp) =>
      var cum = 0L
      grp.sortBy(_._1).map { case (id, g, tok) =>
        val before = cum; cum += tok
        (id, g) -> (before / budget, before % budget)
      }
    }.toMap
    got.foreach { case (id, g, packId, off) =>
      assert(off >= 0 && off < budget, s"offset out of range: $off")
      assert((packId, off) === expect((id, g)), s"coordinates diverge for ($id,$g)")
    }
    assert(got.length === rows.length)
  }

  test("funnel: stage counts are monotonically non-increasing on random logs") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val types = Seq("view", "click", "purchase", "error")
    val events = (0 until 3000).map { _ =>
      (rnd.nextInt(120).toLong, types(rnd.nextInt(types.length)),
        new java.sql.Timestamp(rnd.nextInt(1000000).toLong * 1000L))
    }
    val counts = graft.operators.Funnel.funnel(
        events.toDF("user_id", "event_type", "ts"),
        "user_id", "event_type", "ts", Seq("view", "click", "purchase"))
      .collect().map(_.getLong(2))
    assert(counts.sliding(2).forall { case Array(a, b) => b <= a; case _ => true },
      s"funnel widened: ${counts.toSeq}")
  }

  test("WavCodec: encode∘decode is the identity on arbitrary byte payloads") {
    check(Prop.forAll(Gen.listOf(Gen.choose(-128, 127).map(_.toByte)),
        Gen.choose(1000, 48000)) { (bytes, rate) =>
      val content = bytes.toArray
      val audio = graft.operators.WavCodec.decode(
        graft.operators.WavCodec.encode(content, rate))
      audio.sampleRate == rate &&
        audio.samples.length == content.length &&
        content.indices.forall(i =>
          audio.samples(i) == (((content(i) & 0xFF) - 128) * 256).toShort)
    }, n = 30)
  }

  test("denseIds: gapless 0..n−1 bijection in key order on random key sets") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    (0 until 3).foreach { _ =>
      val keys = (0 until 400).map(_ => rnd.nextInt(100000).toLong).distinct
      val out = graft.operators.Ids.denseIds(
          keys.toDF("k").repartition(7), "k", bucketWidth = 1000L)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(out.map(_._2).sorted.toSeq === out.indices.map(_.toLong),
        "ids must be exactly 0..n−1")
      assert(out.sortBy(_._1).map(_._2).toSeq === out.indices.map(_.toLong),
        "id order must equal key order")
    }
  }

  test("applyCdcLatest: idempotent and input-order independent on random change logs") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val changes = (0 until 500).map { i =>
      (rnd.nextInt(40).toLong, i.toLong,
        if (rnd.nextInt(4) == 0) "delete" else "upsert", rnd.nextInt(1000).toLong)
    }
    def state(df: org.apache.spark.sql.DataFrame) =
      graft.etl.RawLayer.applyCdcLatest(df, Seq("key"),
          Seq(org.apache.spark.sql.functions.col("change_id")),
          org.apache.spark.sql.functions.col("op") === "delete")
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val df = changes.toDF("key", "change_id", "op", "v")
    val once = state(df)
    assert(state(df.repartition(9)) === once,
      "current state must not depend on input partitioning")
    // applying the reduction to its own output changes nothing
    val reduced = graft.etl.RawLayer.applyCdcLatest(df, Seq("key"),
      Seq(org.apache.spark.sql.functions.col("change_id")),
      org.apache.spark.sql.functions.col("op") === "delete")
    assert(state(reduced) === once, "reduction must be idempotent")
  }
}
