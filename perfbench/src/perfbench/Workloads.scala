package perfbench

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.SparkEntry
import graft.etl.DashboardQueries

/** What a workload needs from the run. */
final case class Ctx(spark: SparkSession, seed: Long, work: String, expectedDir: String, cores: Int)

/** One benchmark workload: a closed loop of one client with one
  * outstanding operation. `measure` runs whole rounds of operations
  * until `seconds` of operation time have been measured and returns
  * the seconds of each successful operation (one arrival ingested and
  * served, one catalog pass).
  */
trait Workload {
  /** Generates and writes the inputs; repeated to time set-up. */
  def prepare(): Unit
  def warm(l: Ledger): Unit
  def measure(seconds: Double, l: Ledger, spans: Spans): Seq[Double]
  /** Per-layer metrics from the spans and jobs of the traced window. */
  def layers(spans: Spans, trace: JobTrace): Map[String, Double]
  def info: Map[String, Any]
}

object Workload {
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "etl_serve" => new EtlServe(ctx)
    case "catalog_jobheavy" => new CatalogJobHeavy(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def perOp(total: Double, n: Int): Double = if (n == 0) 0.0 else total / n

  /** Wall seconds inside `window` during which no Spark job was running. */
  def noJobSeconds(window: Span, jobs: Seq[(Long, Long)]): Double =
    math.max(0.0, window.seconds - Stats.unionLength(Stats.clip(jobs, window.startMs, window.endMs)) / 1e3)
}

/** The reference's data flow, one arrival at a time: an ingest cycle
  * over the seeded source (raw CDC ingest, staging, curated SCD2 star
  * schema, parquet publish) followed by one dashboard refresh, the
  * four dashboard queries over views of the tables just published.
  * Each round resets the zone (untimed) and replays every arrival.
  *
  * Checks, outside the timed region: per-cycle row counts and
  * watermark known by construction; fact_sales and dim_date digests
  * against frames built from the generator's rows; dim_store and
  * dim_product digests equal across rounds; each dashboard result's
  * digest equal to the same SQL planned without the fast paths (no
  * AQE, sort-merge joins only, no whole-stage codegen), computed once
  * per arrival in the warm-up round.
  */
final class EtlServe(ctx: Ctx) extends Workload {
  import ctx.spark

  private val spec = InventorySpec(rowsPerArrival = 20000, arrivals = 2, daysPerArrival = 365,
    start = LocalDate.of(2022, 1, 1))
  private val zone = new EtlZone(spark, s"${ctx.work}/etl", InventoryGen.generate(ctx.seed, spec))
  /** Q2's year, drawn from the seed among the two the source spans. */
  private val year = 2022 + new java.util.SplittableRandom(ctx.seed).nextInt(2)
  private val queries: Seq[(String, () => DataFrame)] = Seq(
    "q1" -> (() => DashboardQueries.run1(spark)),
    "q2" -> (() => DashboardQueries.run2(spark, year)),
    "q3" -> (() => DashboardQueries.run3(spark)),
    "q4" -> (() => DashboardQueries.run4(spark)))
  private var zoneReference: Option[Map[String, String]] = None
  private val dashExpected = scala.collection.mutable.Map[Int, Map[String, String]]()
  private var resultRows = Map.empty[String, Int]
  private var ingested = 0L
  private var round = 0

  def prepare(): Unit = zone.writeSource()

  /** Views over the curated tables cycle k published, then each query
    * with its analysis, physical planning and execution timed apart.
    */
  private def serve(k: Int, spans: Spans): Map[String, Array[Row]] = {
    zone.tables.foreach(t => spark.read.parquet(zone.curated(k, t)).createOrReplaceTempView(t))
    queries.map { case (q, run) =>
      q -> spans.time(q) {
        val df = spans.time(s"$q.analyze")(run())
        spans.time(s"$q.plan")(df.queryExecution.executedPlan)
        spans.time(s"$q.exec")(df.collect())
      }
    }.toMap
  }

  private def conservativeDigests(): Map[String, String] = {
    val keys = Seq("spark.sql.adaptive.enabled", "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.codegen.wholeStage")
    val saved = keys.map(k => k -> spark.conf.get(k))
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      queries.map { case (q, run) => q -> Digest.rows(run().collect().toSeq) }.toMap
    } finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  private def checkServe(k: Int, results: Map[String, Array[Row]]): Option[String] = {
    val want = dashExpected.getOrElseUpdate(k, conservativeDigests())
    resultRows = results.map { case (q, rows) => q -> rows.length }
    queries.map(_._1).flatMap(q =>
      Ledger.expect(s"dashboard $q digest", Digest.rows(results(q).toSeq), want(q))).headOption
  }

  /** One round; the seconds of each arrival that succeeded. */
  private def runRound(l: Ledger, spans: Spans): Seq[Double] = {
    zone.reset()
    round += 1
    val times = (0 until zone.arrivals).flatMap { k =>
      val r = l.attempt(s"etl_serve round $round arrival $k") {
        val n = spans.time("cycle")(zone.cycle(k, spans))
        n -> spans.time("serve")(serve(k, spans))
      } { case (n, results) => zone.checkCycle(k, n).orElse(checkServe(k, results)) }
      if (k > 0) zone.dropCurated(k - 1)
      r.foreach(ingested += _._1._1)
      r.map(_._2)
    }
    val last = zone.arrivals - 1
    l.verify(s"etl_serve round $round zone digests") {
      val got = zone.zoneDigests(last)
      val want = zoneReference.getOrElse {
        zoneReference = Some(got ++ zone.expectedDigests(last))
        zoneReference.get
      }
      val bad = zone.tables.filter(t => got(t) != want(t))
      if (bad.isEmpty) None else Some(s"digest mismatch in ${bad.mkString(", ")}")
    }
    times
  }

  def warm(l: Ledger): Unit = runRound(l, new Spans)

  def measure(seconds: Double, l: Ledger, spans: Spans): Seq[Double] = {
    ingested = 0L
    val out = scala.collection.mutable.ArrayBuffer[Double]()
    while (out.sum < seconds) {
      val r = runRound(l, spans)
      if (r.isEmpty) return out.toSeq
      out ++= r
    }
    out.toSeq
  }

  def layers(spans: Spans, trace: JobTrace): Map[String, Double] = {
    val cycles = spans.named("cycle")
    val n = cycles.size
    val mean = (name: String) => Workload.perOp(spans.named(name).map(_.seconds).sum, n)
    val qnames = queries.map(_._1)
    val phases = Map(
      "raw" -> Seq("raw"),
      "staging" -> Seq("pipeline", "staging"),
      "curated" -> zone.tables.map(t => s"curated.$t"))
    val byPhase = trace.attribute(spans.all.filter(s => phases.values.flatten.toSet(s.name)))
    val phaseMetrics = phases.toSeq.flatMap { case (p, names) =>
      val w = byPhase.collect { case (s, w) if names.contains(s.name) => w }.foldLeft(Work.zero)(_ + _)
      Seq(s"$p.jobs" -> w.jobs.toDouble, s"$p.tasks" -> w.tasks.toDouble,
        s"$p.exec_cpu_s" -> w.cpuS, s"$p.shuffle_write_mb" -> w.shuffleWriteMb,
        s"$p.spill_mb" -> w.spillMb, s"$p.output_mb" -> w.outputMb)
        .map { case (k, v) => k -> Workload.perOp(v, n) }
    }
    val byCycle = trace.attribute(cycles)
    val byQuery = trace.attribute(spans.all.filter(s => qnames.contains(s.name)))
    val dash = qnames.flatMap { q =>
      val med = (name: String) => Stats.median(spans.named(name).map(_.seconds * 1e3))
      val work = spans.named(q).map(s => byQuery.getOrElse(s, Work.zero))
      val wmed = (f: Work => Double) => Stats.median(work.map(f))
      Seq(
        s"dash.analyze_ms.$q" -> med(s"$q.analyze"),
        s"dash.plan_ms.$q" -> med(s"$q.plan"),
        s"dash.exec_ms.$q" -> med(s"$q.exec"),
        s"dash.jobs.$q" -> wmed(_.jobs.toDouble),
        s"dash.tasks.$q" -> wmed(_.tasks.toDouble),
        s"dash.exec_cpu_ms.$q" -> wmed(_.cpuS * 1e3),
        s"dash.shuffle_read_mb.$q" -> wmed(_.shuffleReadMb),
        s"dash.result_rows.$q" -> resultRows.getOrElse(q, 0).toDouble)
    }
    val last = zone.arrivals - 1
    val rawMb = zone.rawBytes / 1048576.0
    val curMb = zone.curatedBytes(last) / 1048576.0
    Map(
      "etl.cycle_s.p50" -> Stats.median(cycles.map(_.seconds)),
      "dash.serve_ms.p50" -> Stats.median(spans.named("serve").map(_.seconds * 1e3)),
      "raw.run_once_s" -> mean("raw"),
      "pipeline.run_batch_ms" -> mean("pipeline") * 1e3,
      "staging.materialize_s" -> mean("staging"),
      "etl.no_job_s" -> Workload.perOp(cycles.map(c =>
        Workload.noJobSeconds(c, byCycle.get(c).map(_.jobIntervals).getOrElse(Nil))).sum, n),
      "raw.zone_mb" -> rawMb,
      "curated.zone_mb" -> curMb,
      "etl.stored_bytes_ratio" -> (rawMb + curMb) / (zone.sourceBytes / 1048576.0),
      "etl.rows_per_s" -> ingested / cycles.map(_.seconds).sum
    ) ++ zone.tables.map(t => s"curated.write_s.$t" -> mean(s"curated.$t")) ++ phaseMetrics ++ dash
  }

  def info: Map[String, Any] = Map(
    "input_rows" -> zone.inv.rowCount, "input_bytes" -> zone.sourceBytes,
    "input_digest" -> zone.inv.digest, "arrivals" -> zone.arrivals, "q2_year" -> year)
}

/** A fixed set of catalog queries that each run tens of Spark jobs,
  * over a fixed generated corpus; the seed permutes the order within
  * each pass. One operation is one query call plus the collect of its
  * HashDump digest, which computes every column and is the check.
  */
final class CatalogJobHeavy(ctx: Ctx) extends Workload {
  import ctx.spark

  private val names = CatalogJobHeavy.names
  private val dir = s"${ctx.work}/corpus"
  private val rng = new scala.util.Random(ctx.seed)
  private val expected: Map[String, String] = {
    val src = scala.io.Source.fromFile(s"${ctx.expectedDir}/catalog_digests.tsv")
    try src.getLines().filterNot(_.startsWith("#")).map(_.split('\t')).map(a => a(0) -> a(1)).toMap
    finally src.close()
  }
  private var pass = 0

  def prepare(): Unit = CorpusGen.write(spark, dir)

  /** One pass in seeded order; its seconds when every query succeeded. */
  private def runPass(l: Ledger, spans: Spans): Option[Double] = {
    pass += 1
    val order = rng.shuffle(names)
    val times = spans.time("pass") {
      order.map { q =>
        l.attempt(s"catalog pass $pass $q") {
          spans.time(q) {
            val df = spans.time(s"$q.build")(SparkEntry.queries(q)(spark, dir))
            spans.time(s"$q.exec")(Digest.frame(df))
          }
        }(d => Ledger.expect(s"$q digest", d, expected.getOrElse(q, "none recorded"))).map(_._2)
      }
    }
    if (times.forall(_.isDefined)) Some(times.flatten.sum) else None
  }

  def warm(l: Ledger): Unit = runPass(l, new Spans)

  def measure(seconds: Double, l: Ledger, spans: Spans): Seq[Double] = {
    val out = scala.collection.mutable.ArrayBuffer[Double]()
    while (out.sum < seconds) {
      val r = runPass(l, spans)
      if (r.isEmpty) return out.toSeq
      out ++= r
    }
    out.toSeq
  }

  def layers(spans: Spans, trace: JobTrace): Map[String, Double] = {
    val passes = spans.named("pass")
    val n = passes.size
    val byPass = trace.attribute(passes)
    val byQuery = trace.attribute(spans.all.filter(s => names.contains(s.name)))
    val total = passes.map(p => byPass.getOrElse(p, Work.zero)).foldLeft(Work.zero)(_ + _)
    val busy = passes.map(p => Stats.unionLength(Stats.clip(
      byPass.get(p).map(_.jobIntervals).getOrElse(Nil), p.startMs, p.endMs)) / 1e3).sum
    val perQuery = names.flatMap { q =>
      val short = q.takeWhile(_ != '_')
      val med = (name: String) => Stats.median(spans.named(name).map(_.seconds))
      val work = spans.named(q).map(s => byQuery.getOrElse(s, Work.zero))
      Seq(
        s"catalog.build_s.$short" -> med(s"$q.build"),
        s"catalog.exec_s.$short" -> med(s"$q.exec"),
        s"catalog.wall_s.$short" -> med(q),
        s"catalog.jobs.$short" -> Stats.median(work.map(_.jobs.toDouble)),
        s"catalog.tasks.$short" -> Stats.median(work.map(_.tasks.toDouble)))
    }
    val per = (v: Double) => Workload.perOp(v, n)
    (perQuery ++ Seq(
      "catalog.jobs" -> per(total.jobs),
      "catalog.stages" -> per(total.stages),
      "catalog.tasks" -> per(total.tasks.toDouble),
      "catalog.tasks_per_job" -> (if (total.jobs == 0) 0.0 else total.tasks.toDouble / total.jobs),
      "catalog.exec_cpu_s" -> per(total.cpuS),
      "catalog.exec_run_s" -> per(total.runS),
      "catalog.gc_s" -> per(total.gcS),
      "catalog.shuffle_write_mb" -> per(total.shuffleWriteMb),
      "catalog.spill_mb" -> per(total.spillMb),
      "catalog.input_mb" -> per(total.inputMb),
      "catalog.output_mb" -> per(total.outputMb),
      "catalog.no_job_s" -> per(passes.map(_.seconds).sum - busy),
      "catalog.slot_util" -> (if (busy == 0) 0.0 else total.runS / (busy * ctx.cores))
    )).toMap
  }

  def info: Map[String, Any] = Map(
    "input_rows" -> (CorpusGen.Documents + CorpusGen.Embeddings),
    "input_bytes" -> Seq("documents", "embeddings").map(t => Main.bytes(spark, s"$dir/$t.parquet")).sum,
    "queries" -> names.mkString(","))
}

object CatalogJobHeavy {
  val names: Seq[String] = Seq(
    "q68_docs_incremental_dedup", "q178_emb_ann_ivfadc_index", "q191_docs_bpe_merges")
}
