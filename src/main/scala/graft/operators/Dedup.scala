package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.expressions.GraftFunctions
import graft.functions.TextFunctions

/** Document deduplication at training-pipeline scale: exact, MinHash+LSH,
  * SimHash, and n-gram Jaccard verification.
  *
  * Scale design:
  *  - per-document work (shingling, hashing, signatures) is ONE
  *    compiled kernel call per row via the custom Catalyst expressions
  *    in [[graft.expressions]] — no interpreted higher-order functions,
  *    no explode, no signature shuffle;
  *  - candidate generation is always a self-equi-join on a bounded
  *    blocking key (LSH band hash / signature band / anchor hash),
  *    shuffled on that key — never an all-pairs cross join;
  *  - verification (exact Jaccard) runs only on candidate pairs and
  *    compares precomputed hash sets, so text is never re-shingled per
  *    pair.
  */
object Dedup {

  /** Exact dedup: group identical texts by md5, keep the smallest id.
    * (md5 over the raw bytes; 128-bit collisions are not a practical
    * concern for dedup.)
    */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol).cast("binary")).as("text_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Explode a (doc_id, sig) frame into (doc_id, band, bh) banding
    * keys — shared by [[bandPairs]] and [[dedupeIncrement]] so the
    * bands/k guard can't be bypassed (bands > k would make r = 0 and
    * hash empty slices identically — a silent cross join).
    */
  private def bandedSignatures(sigs: DataFrame, bands: Int, k: Int): DataFrame = {
    require(bands >= 1 && bands <= k, s"need 1 <= bands <= k, got bands=$bands k=$k")
    val r = k / bands
    sigs.select(
      col("doc_id"),
      explode(array((0 until bands).map { b =>
        val len = if (b == bands - 1) k - b * r else r
        struct(lit(b).as("band"),
          xxhash64(slice(col("sig"), b * r + 1, len)).as("bh"))
      }: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band"), col("bb.bh"))
  }

  /** Candidate pairs of rows that share the block key `keys` — the
    * blocking join behind [[bandPairs]] and [[fuzzyPairs]]. `rows`
    * holds doc_id, the key columns and the `carry` payload columns,
    * each given as (column, left name, right name). Returns
    * (doc_a, doc_b, then every carried column under its left and right
    * names) with doc_a < doc_b; a pair sharing several blocks comes out
    * once per block.
    *
    * `cap = None` is the plain self-equi-join on the key. `cap` bounds
    * the per-block blowup: a mass-duplicated boilerplate block of m
    * rows otherwise emits m(m-1)/2 pairs. With a cap, block members
    * rank by doc_id and each pairs only with its next `cap` neighbors
    * in rank order — O(m·cap) pairs and O(m·cap) join work (an
    * equi-join on (key, rank), never a filter over an m²
    * intermediate). Chains keep every block CONNECTED, so
    * [[connectedComponents]] still recovers the full cluster; what's
    * lost is only direct pairs between far-apart ranks — pair-listing
    * recall for blocks wider than `cap` is the documented trade
    * (SCALING.md).
    *
    * Both branches join two corpus-sized frames, so the second side is
    * pinned sort-merge ([[neverBroadcast]]): the size estimate under a
    * window + explode over a checkpointed input reads tiny, and a
    * sweep caught the planner building a 13.7 M-row shifted side as a
    * broadcast HashedRelation.
    */
  private def blockPairs(rows: DataFrame, keys: Seq[String], cap: Option[Int],
      carry: Seq[(String, String, String)] = Nil): DataFrame =
    cap match {
      case None =>
        val sameKey = keys.map(k => col(s"l.$k") === col(s"r.$k")).reduce(_ && _)
        rows.as("l").join(neverBroadcast(rows).as("r"),
            sameKey && col("l.doc_id") < col("r.doc_id"))
          .select(Seq(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b")) ++
            carry.flatMap { case (c, l, r) => Seq(col(s"l.$c").as(l), col(s"r.$c").as(r)) }: _*)
      case Some(cap) =>
        require(cap >= 1, s"neighborCap must be >= 1, got $cap")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(keys.map(col): _*).orderBy(col("doc_id"))
        val ranked = rows.withColumn("rn", row_number().over(w))
        // right side emits `cap` keys (rn - j); equi-join pairs each doc
        // with its next <=cap in-block neighbors — no m² intermediate
        val shifted = ranked.select(col("doc_id").as("doc_b") +:
            (carry.map { case (c, _, r) => col(c).as(r) } ++ keys.map(col)) :+
            explode(sequence(col("rn") - cap, col("rn") - 1)).as("rn"): _*)
          .filter(col("rn") >= 1)
        ranked.select(col("doc_id").as("doc_a") +:
            (carry.map { case (c, l, _) => col(c).as(l) } ++ keys.map(col)) :+ col("rn"): _*)
          .join(neverBroadcast(shifted), keys :+ "rn")
          .select(Seq(col("doc_a"), col("doc_b")) ++
            carry.flatMap { case (_, l, r) => Seq(col(l), col(r)) }: _*)
    }

  /** LSH banding over a MinHash signature column: the k-long signature
    * splits into `bands` groups of k/bands (the last band absorbs the
    * k % bands remainder so no signature element is silently dropped),
    * each hashed to a bucket key; docs sharing any (band, bucket) are
    * candidate pairs, each listed once. `neighborCap` bounds each
    * bucket to its next-`cap`-neighbor chains ([[blockPairs]]).
    */
  def bandPairs(sigs: DataFrame, bands: Int, k: Int,
      neighborCap: Option[Int] = None): DataFrame =
    blockPairs(bandedSignatures(sigs, bands, k), Seq("band", "bh"), neighborCap)
      .distinct()

  /** Exact Jaccard similarity between the token-shingle SETS of two
    * text columns (ad-hoc pairwise use; the scalable pipelines verify
    * on precomputed sets instead).
    */
  def jaccard(a: Column, b: Column, shingleSize: Int): Column = {
    val sa = array_distinct(TextFunctions.tokenShingles(a, shingleSize))
    val sb = array_distinct(TextFunctions.tokenShingles(b, shingleSize))
    val inter = size(array_intersect(sa, sb)).cast("double")
    val union = size(sa) + size(sb) - size(array_intersect(sa, sb))
    when(union === 0, lit(1.0)).otherwise(inter / union)
  }

  /** The per-document kernel pass of [[nearDupPairsPrepared]]:
    * (doc_id, sh, sig) in ONE projection — the signature derives from
    * the set column (MinHashFromSet), and codegen subexpression
    * elimination computes the ShingleSet child once, so each document
    * is tokenized/hashed exactly once per evaluation. Callers that
    * reference the result more than once (verification joins, audit
    * gram counts) should MATERIALIZE it (cache / localCheckpoint /
    * reliable checkpoint on a cluster): the frame is unmaterialized
    * lineage, and every downstream reference re-runs the kernel over
    * the full corpus otherwise — q26 paid that three times over before
    * this split.
    */
  def prepareNearDup(docs: DataFrame, idCol: String, textCol: String,
      k: Int, shingleSize: Int = 3, charLevel: Boolean = false): DataFrame = {
    val shExpr = GraftFunctions.shingleSet(col(textCol), shingleSize, charLevel)
    docs.select(col(idCol).as("doc_id"), shExpr.as("sh"),
      GraftFunctions.minhashFromSet(shExpr, k).as("sig"))
  }

  /** Near-duplicate pairs over a precomputed (doc_id, sh, sig) frame
    * from [[prepareNearDup]]: MinHash LSH banding on `sig`, then exact
    * Jaccard ≥ threshold on the sorted `sh` sets of each candidate
    * pair, a linear merge per pair ([[graft.expressions.JaccardSorted]]).
    * Lets a caller compute the expensive shingle/signature pass ONCE
    * and share it between candidate generation, verification, and any
    * caller-side reuse of the sets ([[dedupeIncrement]]'s within-batch
    * step passes its artifact rows). Returns (doc_a, doc_b, jaccard).
    * Banding keys on signature fragments, so bucket collision
    * probability tracks actual similarity (≈ 1-(1-j^r)^bands) rather
    * than global shingle frequency.
    */
  def nearDupPairsPrepared(prepared: DataFrame, threshold: Double,
      k: Int, bands: Int, neighborCap: Option[Int] = None): DataFrame = {
    val cands = bandPairs(prepared.select(col("doc_id"), col("sig")), bands, k,
      neighborCap)
    val sets = neverBroadcast(prepared.select(col("doc_id"), col("sh")))
    cands
      .join(sets.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), Seq("doc_b"))
      .withColumn("jaccard", GraftFunctions.jaccardSorted(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Pin a corpus-sized PAYLOAD side (shingle sets, artifact tables,
    * exploded fingerprints) to a sort-merge join. The optimizer's size
    * estimate for these frames undercounts by orders of magnitude —
    * kernel-built variable-length arrays don't show in column-size
    * heuristics, and checkpointed frames inherit the original plan's
    * estimate — so at sweep scale the planner happily broadcasts a
    * multi-GB side it thinks is a few MB: the r11 500 k-doc sweep
    * killed q58's driver building two such broadcasts at once. A
    * payload side is NEVER correctly broadcast at 100 TB, so pinning
    * the shuffle here is the at-scale posture, not a local workaround;
    * the narrow candidate/id sides stay free for AQE to broadcast when
    * runtime sizes justify it. Sort-merge (not shuffled-hash): the
    * build side of a hash join is per-task heap proportional to the
    * payload partition, while SMJ spills deterministically.
    */
  private def neverBroadcast(df: DataFrame): DataFrame = df.hint("merge")

  /** Connected components over an undirected pair list by min-label
    * propagation with path halving: each round every node takes the
    * minimum of its own label, its neighbors' labels, and its label's
    * label (the halving step — without it a chain of length m needs m
    * rounds; with it convergence is O(log m)). Returns
    * (doc_id, component) where component = the minimum doc_id reachable.
    *
    * Each round is two shuffles (neighbor-min groupBy + the halving
    * self-join) over (id, label) pairs only — no text, no signatures —
    * executed as ONE Spark job: the convergence test is an observe()
    * metric collected during the round's own truncation action, not a
    * separate count() job. Labels are truncated per round so the plan
    * never grows superlinearly.
    *
    * Truncation mode: `checkpointDir = None` (default) uses
    * `localCheckpoint` — right for local mode, but the truncated
    * lineage lives in executor block storage, so on a real cluster an
    * executor loss mid-computation fails the job. Pass a reliable
    * `checkpointDir` (HDFS/S3 in production) and every round's labels
    * are written to parquet there and read back — durable truncation
    * with no session-global state. Superseded rounds are deleted as
    * the loop advances, storage holds at most two label snapshots, a
    * failure cleans up everything this call wrote, and only the final
    * round's files outlive the call, freed when the caller is done
    * with the result (or by a TTL on the directory). Snapshots use
    * fixed names under the dir — pass a DISTINCT dir per concurrent or
    * result-overlapping call (this holds for every `checkpointDir`
    * operator in this package).
    *
    * SINGLE-WRITER ASSUMPTION: the label loop sizes its shuffles by
    * temporarily setting `spark.sql.shuffle.partitions` on the session
    * (saved and restored on this thread, even on failure). Session
    * conf is process-global, so a query submitted CONCURRENTLY on the
    * same SparkSession while the loop runs would compile with the
    * loop's partition count (possibly 1). Run this call without
    * concurrent writers on the session, or hand concurrent work its
    * own session (`spark.newSession()` shares the catalog but isolates
    * the conf).
    */
  def connectedComponents(pairs: DataFrame,
      aCol: String = "doc_a", bCol: String = "doc_b",
      maxIter: Int = 30, checkpointDir: Option[String] = None): DataFrame = {
    // Reliable mode severs lineage by writing each round's labels to
    // parquet under `checkpointDir` and reading them back — durable
    // storage like rdd.checkpoint(), but with NO session-global
    // SparkContext.setCheckpointDir mutation (that setting can't be
    // truly restored, and a mid-loop failure would leak it). Rounds
    // are deleted as soon as they're superseded, so the dir holds at
    // most two snapshots mid-write; on ANY failure every file this
    // call created is removed before the exception propagates. Only
    // the final round's files outlive the call (the returned frame
    // reads them), freed when the caller is done with the result.
    var round = 0
    def deleteRound(i: Int): Unit = checkpointDir.foreach { d =>
      DurableSnapshots.delete(pairs, s"$d/labels-$i")
    }
    def truncate(df: DataFrame): DataFrame = {
      val out = DurableSnapshots.truncate(df, checkpointDir, s"labels-$round")
      checkpointDir.foreach { _ =>
        round += 1
        if (round >= 2) deleteRound(round - 2)
      }
      out
    }
    val edgesRaw = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .unionByName(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .distinct().cache()
    val spark = pairs.sparkSession
    val shufKey = "spark.sql.shuffle.partitions"
    val savedParts = spark.conf.get(shufKey)
    // AQE off for the label loop (r17): the loop pre-sizes every
    // shuffle from the MEASURED edge count below — exactly the
    // information AQE would re-derive, at the price of one scheduler
    // round-trip (a separate job) per exchange per round. With AQE on,
    // each truncation action ran ~6 exchange-materialization jobs of
    // pure fixed cost (the loop's frames are (id, label) pairs on
    // explicitly sized partitions — nothing to coalesce, no joins big
    // enough to re-plan); classic planning fuses each round into ONE
    // job. Results are identical (AQE never changes values), and the
    // conf is saved/restored on this thread under the SAME
    // single-writer contract the partition override above documents.
    val aqeKey = "spark.sql.adaptive.enabled"
    val savedAqe = spark.conf.get(aqeKey)
    var edges: DataFrame = null
    try {
      // Materialize the edge cache under the CALLER's shuffle sizing
      // (the distinct above is pairs-scale work), then size the label
      // loop from the measured edge count: every frame the loop
      // shuffles is ≤ |edges| rows of two longs, so the session
      // default — sized for corpus-scale scans — leaves each loop
      // stage scheduling mostly-empty tasks whose fixed cost dominates
      // the whole resolution on small graphs (measured at sf0.1: 3.2 k
      // pairs, 5.1 s CC → 1.1 s). ~1 M edge rows (≈ 32 MB shuffled)
      // per partition, so giant graphs still fan out; the truncation
      // actions compile their plans per-round, so the override applies
      // to every round and is restored even on failure.
      val nEdges = edgesRaw.count()
      val loopParts = math.max(1L, math.min(nEdges / 1000000L + 1L, 100000L))
      spark.conf.set(shufKey, loopParts.toString)
      spark.conf.set(aqeKey, "false") // see scaladoc note above; restored in finally
      // Re-materialize the edge set at the loop's own sizing, hashed
      // on the propagate join key: without this every loop stage still
      // schedules one map task per CALLER-conf cache block (32-task
      // map sides over a 3 k-row graph), which is where the fixed cost
      // lives. One extra edge-sized job here removes it from all
      // O(log m) rounds. Durable mode snapshots to parquet under
      // `<dir>/edges` (freed in the finally) — the cache-only edge set
      // would otherwise be the one loop input a lost executor could
      // force a full pairs-lineage recompute of. Non-durable mode uses
      // persist() (NOT localCheckpoint): the loop holds this frame for
      // its whole life and persist blocks free DETERMINISTICALLY in
      // the finally's unpersist, where checkpoint blocks would sit in
      // executor block storage until RDD GC — a cache leak for
      // long-lived sessions resolving many corpora. Lineage severance
      // buys nothing for edges (one repartition over the materialized
      // distinct; it is the LOOP-CARRIED labels that need truncation).
      edges = checkpointDir match {
        case Some(_) => DurableSnapshots.truncate(
          edgesRaw.repartition(loopParts.toInt, col("dst")),
          checkpointDir, "edges")
        case None =>
          val e = edgesRaw.repartition(loopParts.toInt, col("dst")).persist()
          e.count()
          e
      }
      edgesRaw.unpersist()
      // Seeded init: label = min(own id, min 1-hop neighbor). Same
      // single shuffle the old distinct-ids init cost, but star-shaped
      // clusters (the common near-dup shape — every member pairs with
      // the cluster min) are already converged after this seed, so most
      // real inputs finish in ONE verification iteration instead of two
      // propagation rounds plus one.
      var labels = truncate(edges.groupBy(col("src").as("doc_id"))
        .agg(min(col("dst")).as("nmin"))
        .select(col("doc_id"), least(col("doc_id"), col("nmin")).as("label")))
      // One propagation round: neighbor-min then path halving
      // (label := label(label) — without halving a chain of length m
      // needs m rounds; with it O(log m)). The input label rides along
      // as `old` for the convergence test; column pruning drops it
      // wherever nothing reads it.
      def propagate(in: DataFrame): DataFrame = {
        val neighborMin = edges
          .join(in.select(col("doc_id").as("dst"), col("label").as("nl")), Seq("dst"))
          .groupBy(col("src").as("doc_id")).agg(min(col("nl")).as("nmin"))
        val p = in.join(neighborMin, Seq("doc_id"), "left")
          .select(col("doc_id"), col("label").as("old"),
            least(col("label"), coalesce(col("nmin"), col("label"))).as("label"))
        p.as("p").join(p.select(col("doc_id").as("label"),
            col("label").as("ll")).as("g"), Seq("label"), "left")
          .select(col("doc_id"), col("old"),
            least(col("label"), coalesce(col("ll"), col("label"))).as("label"))
      }
      var iter = 0
      var done = false
      while (!done && iter < maxIter) {
        // TWO propagation rounds per truncation: the per-round cost at
        // the driver is job scheduling, not shuffle volume (each round
        // is (id,label) pairs only), so batching halves the job count
        // at unchanged total shuffle work. The convergence test RIDES
        // THE SAME JOB as the truncation via observe(): `changed`
        // counts round-2 labels that differ from round-1's output
        // (round 2's `old`), so changed == 0 means round 1's output was
        // already a fixed point of propagate — converged.
        val obs = new org.apache.spark.sql.Observation()
        val halved = truncate(propagate(propagate(labels))
          .observe(obs,
            sum(when(col("label") =!= col("old"), 1L).otherwise(0L)).as("changed"))
          // `old` is only needed by the observed aggregate — dropping it
          // here keeps it out of the checkpointed/written snapshot
          .select(col("doc_id"), col("label")))
        // sum() over an empty round is SQL NULL → 0 changed → converged
        val changed = obs.get.get("changed") match {
          case Some(n: Number) => n.longValue()
          case _ => 0L
        }
        labels = halved
        done = changed == 0
        iter += 1
      }
      labels.select(col("doc_id"), col("label").as("component"))
    } catch {
      case e: Throwable =>
        (0 until round).foreach(i => try deleteRound(i) catch { case _: Throwable => () })
        throw e
    } finally {
      spark.conf.set(shufKey, savedParts)
      spark.conf.set(aqeKey, savedAqe)
      checkpointDir.foreach { d =>
        try DurableSnapshots.delete(pairs, s"$d/edges")
        catch { case _: Throwable => () }
      }
      if (edges ne null) edges.unpersist()
      edgesRaw.unpersist()
    }
  }

  /** Near-duplicate RESOLUTION: pairs → connected components → one
    * surviving `keep_id` (the minimum id) per cluster. Returns every
    * document with its verdict — the fuzzy-dedup counterpart of
    * [[exact]]'s keep list; filter `doc_id === keep_id` for survivors
    * or `doc_id =!= keep_id` for the drop list.
    *
    * `checkpointDir` mirrors [[connectedComponents]]'s contract: None
    * (default) truncates via `localCheckpoint` — right for local mode,
    * wrong for a real cluster where an executor loss mid-resolution
    * kills the job unrecoverably. Pass a reliable dir (HDFS/S3) and
    * both truncation points — the shared signature snapshot and every
    * component round — are parquet-durable; everything this call wrote
    * under the dir is freed before return except the final component
    * labels, which the returned frame reads (freed when the caller is
    * done, or by a TTL on the directory).
    */
  def resolveNearDups(
      docs: DataFrame, idCol: String, textCol: String,
      threshold: Double, k: Int = 16, bands: Int = 4,
      shingleSize: Int = 3, charLevel: Boolean = false,
      neighborCap: Option[Int] = Some(8),
      checkpointDir: Option[String] = None): DataFrame = {
    // materialize the shingle/signature pass: the pair plan references
    // it three times (banding + both verification set lookups), and
    // the component loop's edge cache fill would otherwise re-run the
    // whole kernel pass through that tripled lineage
    val prepared = DurableSnapshots.truncateBulky(
      prepareNearDup(docs, idCol, textCol, k, shingleSize, charLevel),
      checkpointDir, "prepared")
    try {
      val pairs = nearDupPairsPrepared(prepared, threshold, k, bands, neighborCap)
      val comps = connectedComponents(pairs,
        checkpointDir = checkpointDir.map(d => s"$d/components"))
      docs.select(col(idCol).as("doc_id"))
        .join(comps, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("keep_id"))
    } finally checkpointDir.foreach { d =>
      // connectedComponents runs its rounds eagerly (each truncation is
      // a write action) and its result reads the final round's parquet,
      // so by this point nothing references the signature snapshot —
      // free it whether we are returning normally or unwinding.
      DurableSnapshots.delete(docs, s"$d/prepared")
    }
  }

  /** Edit-distance (Levenshtein) near-match pairs over a short key
    * column — the fuzzy-title/fuzzy-name join record linkage needs
    * (catalog titles, author names, URLs) where token/shingle methods
    * miss single-character typos. Blocking, not all-pairs: candidates
    * must share the first `prefixLen` normalized characters OR the
    * last `prefixLen`, and have |length difference| ≤ `maxDist` (a
    * length gap > d already forces edit distance > d, so the length
    * filter is lossless). Single-typo pairs are guaranteed candidates
    * only for keys of length ≥ 2·`prefixLen` (disjoint windows — an
    * edit sits in at most one); for shorter keys an edit in the
    * window overlap changes both blocks and the pair is missed, so
    * pick `prefixLen` ≤ half the shortest expected key. Within a block the join is a shuffle on the
    * block key; Spark's codegen'd
    * `levenshtein(l, r, threshold)` band-limits the DP to O(len·d)
    * and early-exits past the threshold. At 100 TB the prefix blocks
    * bound candidate volume the same way LSH bands do for
    * [[nearDupPairsPrepared]] — a hot prefix is the salting case
    * ([[ScaleJoins]]), not an algorithmic wall.
    */
  def fuzzyPairs(docs: DataFrame, idCol: String, keyCol: String,
      maxDist: Int = 3, prefixLen: Int = 6,
      neighborCap: Option[Int] = None): DataFrame = {
    require(maxDist >= 1, s"maxDist must be >= 1, got $maxDist")
    require(prefixLen >= 1, s"prefixLen must be >= 1, got $prefixLen")
    val base = docs.select(
        col(idCol).as("doc_id"),
        col(keyCol).as("key"),
        length(col(keyCol)).as("len"))
      .filter(col("key").isNotNull)
    // Dual blocking: candidates share the first `prefixLen` characters
    // OR the last `prefixLen` (suffix equality survives edits anywhere
    // before the tail, including front insertions/deletions that shift
    // every other position). A pair is missed only when edits touch
    // BOTH windows. For keys of length >= 2*prefixLen the windows are
    // disjoint, so every single-typo pair is caught — the guarantee
    // that closes the prefix-only scheme's structural miss. For
    // SHORTER keys the windows overlap and one edit inside the overlap
    // changes both blocks, so the single-typo guarantee does NOT hold:
    // size prefixLen <= (shortest expected key)/2 when that guarantee
    // matters. Two block rows per key; pairs found by both blocks
    // collapse in the distinct.
    val keyed = base.withColumn("blk",
      explode(array(
        concat(lit("p:"), substring(col("key"), 1, prefixLen)),
        concat(lit("s:"), expr(s"right(key, $prefixLen)")))))
    // `neighborCap` is [[bandPairs]]' bound applied to prefix blocks: a
    // block of m boilerplate-identical keys otherwise emits m(m-1)/2
    // pairs (a sf1.0 sweep measured q128 at 46× its sf0.1 cost from
    // exactly this — near-duplicate corpora make hot prefix blocks the
    // NORM, not a skew corner).
    val candidates = blockPairs(keyed, Seq("blk"), neighborCap,
        carry = Seq(("key", "lk", "rk"), ("len", "llen", "rlen")))
      .filter(abs(col("llen") - col("rlen")) <= maxDist)
      .select(col("doc_a"), col("doc_b"), col("lk"), col("rk"))
    candidates
      .distinct()
      .withColumn("dist", levenshtein(col("lk"), col("rk"), maxDist).cast("long"))
      // the thresholded builtin returns -1 when distance exceeds maxDist
      .filter(col("dist") >= 0 && col("dist") <= maxDist)
      .select(col("doc_a"), col("doc_b"), col("dist"))
  }

  /** 64-bit SimHash signatures: bit j of the signature is the sign of
    * Σ_tokens (±1 by bit j of hash(token)) — one compiled kernel call
    * per row ([[graft.expressions.SimHash64]]), no explode, no shuffle.
    */
  def simhashSignatures(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"), GraftFunctions.simhash64(col(textCol)).as("sh"))

  /** SimHash near-dup pairs within Hamming `maxHamming` (0..3; a larger
    * value throws, since the 4×16-bit banding could no longer see every
    * such pair), each listed once as (doc_a, doc_b, hamming) — the
    * [[hammingBandPairs]] join over [[simhashSignatures]].
    *
    * PRECONDITION: `idCol` must be unique in `docs`. Duplicate ids give
    * one output row per pair of input rows, and rows sharing an id are
    * never paired with each other.
    */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame =
    hammingBandPairs(simhashSignatures(docs, idCol, textCol), "doc_id", "sh",
      maxHamming, ("doc_a", "doc_b"))

  /** Hamming-banded near-dup pairs over a 64-bit hash column — the join
    * behind [[simhashPairs]] and [[Multimodal.perceptualPairs]]. The
    * hash splits into 4 disjoint 16-bit bands, so any pair within
    * Hamming 3 shares an intact band (a NECESSARY condition — the
    * banded join is a superset filter, never a miss, at
    * maxHamming ≤ 3; beyond 3 it would miss pairs silently, so it is
    * refused), then exact `bit_count` on the XOR keeps true near-dups.
    * The exchange carries (id, hash, band) rows only. Collisions of
    * UNRELATED hashes are ~2⁻¹⁶ per band, so bucket fan-out stays flat
    * as the corpus grows — EXCEPT under a skewed hash distribution,
    * which real corpora produce (at the sf10 sweep point the perceptual
    * band 3 — the top bits, all-zero padding rows for every short
    * document — held a 30 k-image bucket: ~1.7 B raw join pairs). Two
    * structural guards make that survivable: the Hamming filter runs
    * INSIDE the join projection, before any dedup, so losers never
    * reach an exchange; and each surviving pair is emitted only from
    * its CANONICAL band — the FIRST band where the two hashes agree,
    * computable from the XOR alone — so multi-band collisions are
    * dedup-by-construction and the result needs NO distinct shuffle.
    *
    * PRECONDITION: `idCol` must be unique in `sigs`. The canonical-band
    * gate dedups MULTI-BAND collisions of one pair, not duplicate input
    * rows: N rows per id yield N² copies of each pair.
    */
  private[operators] def hammingBandPairs(sigs: DataFrame, idCol: String,
      hashCol: String, maxHamming: Int, pairCols: (String, String)): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"maxHamming $maxHamming outside the 4×16-band guarantee (0..3)")
    def band(h: Column, b: Int): Column = shiftright(h, b * 16).bitwiseAND(0xFFFF)
    val banded = sigs.select(col(idCol), col(hashCol),
      explode(array((0 until 4).map { b =>
        struct(lit(b).as("band"), band(col(hashCol), b).as("bh"))
      }: _*)).as("bb"))
      .select(col(idCol), col(hashCol), col("bb.band"), col("bb.bh"))
    val xr = col(s"l.$hashCol").bitwiseXOR(col(s"r.$hashCol"))
    // first band where the hashes agree — ≤ l.band always exists here
    // (the join matched on l.band), so "l.band is canonical" is total
    val firstMatchBand = (0 until 4).foldRight(lit(4): Column) { (b, rest) =>
      when(band(xr, b) === 0, lit(b)).otherwise(rest)
    }
    banded.as("l").join(banded.as("r"),
        col("l.band") === col("r.band") && col("l.bh") === col("r.bh") &&
          col(s"l.$idCol") < col(s"r.$idCol"))
      .filter(bit_count(xr) <= maxHamming && col("l.band") === firstMatchBand)
      .select(col(s"l.$idCol").as(pairCols._1), col(s"r.$idCol").as(pairCols._2),
        bit_count(xr).as("hamming"))
  }

  /** Winnowing document fingerprint (Schleimer et al., SIGMOD'03):
    * k-gram hashes → min per sliding window of w → distinct selected
    * hashes. Returns (id, fingerprints: array<long>) — per-row compute.
    */
  def fingerprints(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8, w: Int = 4): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      GraftFunctions.winnow(col(textCol), k, w).as("fingerprints"))

  /** Compact per-document dedup artifacts — what a pipeline PERSISTS
    * for every kept document so later batches dedup against history
    * without touching its text: exact content hash, MinHash signature
    * (k longs), sorted shingle-hash set. One projection, one compiled
    * kernel pass per row (codegen subexpression elimination shares the
    * shingle set between the `sh` column and the signature).
    */
  def artifacts(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 16, shingleSize: Int = 3, charLevel: Boolean = false): DataFrame = {
    val shExpr = GraftFunctions.shingleSet(col(textCol), shingleSize, charLevel)
    docs.select(col(idCol).as("doc_id"),
      md5(col(textCol).cast("binary")).as("text_hash"),
      shExpr.as("sh"),
      GraftFunctions.minhashFromSet(shExpr, k).as("sig"))
  }

  /** The EXACT-hash stage of incremental dedup in isolation: batch
    * docs whose md5 exists in the kept history are dropped, then
    * within-batch exact copies resolve to the min id. This is the
    * dominant (and fully SQL-expressible) path of [[dedupeIncrement]]
    * — exposed separately so the driver oracle value-checks it (q83)
    * and so pipelines that only need exact semantics skip the
    * signature machinery. Two hash shuffles, ids+hashes only.
    */
  def exactIncrement(batch: DataFrame, history: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val bh = batch.select(col(idCol).as("doc_id"),
      md5(col(textCol).cast("binary")).as("text_hash"))
    val hh = history.select(md5(col(textCol).cast("binary")).as("text_hash")).distinct()
    bh.join(hh, Seq("text_hash"), "left_anti")
      .groupBy(col("text_hash")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
  }

  /** Incremental dedup — the 100 TB curation shape: each new batch
    * dedups against the KEPT HISTORY's compact artifacts instead of
    * re-deduplicating the world. Steps, all bounded by batch size ×
    * blocking-key collisions:
    *  1. drop batch docs whose exact hash exists in history
    *     (left_anti on text_hash);
    *  2. drop batch docs near-duplicating history: LSH bands of the
    *     batch join LSH bands of history, candidates verified by exact
    *     Jaccard on the precomputed sets;
    *  3. resolve WITHIN-batch exact + near duplicates to min-id
    *     survivors (connected components, capped banding).
    *
    * Returns the surviving artifact rows — `union` them into the
    * history for the next batch. `historyArt` is referenced THREE
    * times (hash anti-join, banding, set lookup): pass a PERSISTED
    * artifact table (its role in a real pipeline), not a frame that
    * re-derives artifacts from text on every reference. Re-running
    * the same batch yields zero survivors (idempotent ingest).
    *
    * `checkpointDir` mirrors [[resolveNearDups]]: None (default)
    * truncates the batch-bounded frames via `localCheckpoint` (local
    * mode); a reliable dir makes every truncation point parquet-
    * durable for cluster runs. The intermediate `no_exact` snapshot is
    * freed before return; `fresh_exact` and the final component labels
    * back the returned frame (freed by the caller / a dir TTL).
    */
  def dedupeIncrement(
      batchArt: DataFrame, historyArt: DataFrame,
      threshold: Double, k: Int = 16, bands: Int = 4,
      neighborCap: Option[Int] = Some(8),
      checkpointDir: Option[String] = None): DataFrame = {
    def banded(art: DataFrame) =
      bandedSignatures(art.select(col("doc_id"), col("sig")), bands, k)
    // 1. exact-vs-history. The surviving-batch frames are materialized
    // (they are batch-bounded): the plan below references them many
    // times — banding, candidate joins, set lookups, and one
    // re-evaluation per connected-components round — and without a
    // boundary every reference re-derives the artifacts from text.
    val noExact = DurableSnapshots.truncateBulky(batchArt.join(
      historyArt.select(col("text_hash")).distinct(), Seq("text_hash"), "left_anti"),
      checkpointDir, "no_exact")
    // 2. near-vs-history: banded equi-join, Jaccard verify on sets.
    val cands = banded(noExact).as("b")
      .join(banded(historyArt).as("h"), Seq("band", "bh"))
      .select(col("b.doc_id").as("batch_id"), col("h.doc_id").as("hist_id"))
      .distinct()
    // the history-set lookup is LEFT + loud failure on a missing
    // artifact row. Both sides now derive from the same `historyArt`,
    // so the case cannot occur; it stays because dropping it changes
    // q68's plan
    val contaminated = cands
      .join(neverBroadcast(noExact.select(col("doc_id").as("batch_id"), col("sh").as("sh_b"))),
        Seq("batch_id"))
      .join(neverBroadcast(historyArt.select(col("doc_id").as("hist_id"), col("sh").as("sh_h"))),
        Seq("hist_id"), "left")
      .filter(
        when(col("sh_h").isNull,
          raise_error(concat(lit("dedupeIncrement: history artifact missing for banded doc_id "),
            col("hist_id").cast("string"))).cast("boolean"))
        .otherwise(GraftFunctions.jaccardSorted(col("sh_b"), col("sh_h")) >= threshold))
      .select(col("batch_id").as("doc_id")).distinct()
    // everything from here on (including the fresh_exact truncation —
    // the write that forces the whole step-2 evaluation and carries
    // the missing-artifact raise_error) runs inside the cleanup scope: on
    // ANY failure both snapshots this call wrote are freed; on success
    // only the dead no_exact one is, because fresh_exact and the final
    // component labels back the returned frame (caller/TTL frees them)
    var ok = false
    try {
      val fresh = noExact.join(contaminated, Seq("doc_id"), "left_anti")
      // 3. within-batch: exact (min id per hash) then near (components)
      val exactKeep = fresh.groupBy(col("text_hash")).agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id"))
      val freshExact = DurableSnapshots.truncateBulky(
        fresh.join(exactKeep, Seq("doc_id"), "left_semi"),
        checkpointDir, "fresh_exact")
      val innerPairs = nearDupPairsPrepared(freshExact, threshold, k, bands, neighborCap)
        .select(col("doc_a"), col("doc_b"))
      val comps = connectedComponents(innerPairs,
        checkpointDir = checkpointDir.map(d => s"$d/components"))
      val result = freshExact.join(comps, Seq("doc_id"), "left")
        .filter(col("component").isNull || col("component") === col("doc_id"))
        .drop("component")
      ok = true
      result
    } finally checkpointDir.foreach { d =>
      DurableSnapshots.delete(batchArt, s"$d/no_exact")
      if (!ok) DurableSnapshots.delete(batchArt, s"$d/fresh_exact")
    }
  }

  /** Winnowing-fingerprint overlap join (the plagiarism-detection /
    * partial-copy shape): docs sharing at least `minShared` selected
    * fingerprints are candidate pairs, with the shared count as the
    * match strength. Catches contained or partially copied passages
    * that whole-document MinHash dilutes away.
    *
    * Ubiquitous fingerprints — appearing in more than `maxDocFreq`
    * docs, i.e. boilerplate — are dropped BEFORE the self-join: that
    * both removes noise matches and bounds every fingerprint bucket to
    * maxDocFreq² pairs, the same blocking-key discipline as LSH
    * banding. The join shuffles (doc_id, fp) pairs only, never text.
    */
  def fingerprintPairs(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8, w: Int = 4, minShared: Int = 2,
      maxDocFreq: Int = 1000,
      checkpointDir: Option[String] = None): DataFrame = {
    // materialize the exploded (doc_id, fp) pairs once: the plan below
    // references them four times (doc-frequency filter + both join
    // sides), and without a boundary each reference re-winnows every
    // document. `checkpointDir` = the usual durable-truncation option
    // (the snapshot backs the RETURNED lazy frame, so it lives until
    // the caller is done — free by dir TTL or caller cleanup)
    val fps = DurableSnapshots.truncateBulky(
      fingerprints(docs, idCol, textCol, k, w)
        .select(col("doc_id"), explode(col("fingerprints")).as("fp")),
      checkpointDir, "fingerprints")
    val rare = fps.groupBy(col("fp"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDocFreq && col("df") >= 2)
      .select(col("fp"))
    val filtered = fps.join(rare, Seq("fp"))
    filtered.as("l").join(neverBroadcast(filtered).as("r"),
        col("l.fp") === col("r.fp") && col("l.doc_id") < col("r.doc_id"))
      .groupBy(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("shared_fingerprints"))
      .filter(col("shared_fingerprints") >= minShared)
  }

  /** Corpus-frequent span removal (the C4/RefinedWeb boilerplate
    * scrub, the span-level cousin of suffix-array substring dedup):
    * any token `n`-gram appearing in ≥ `minDf` documents is
    * boilerplate, and every token position it covers is dropped; the
    * document is rebuilt from the surviving tokens in order. Returns
    * (doc_id, cleaned, n_removed).
    *
    * Whole-document dedup cannot catch a shared banner pasted onto
    * otherwise-unique pages — this removes the banner and keeps the
    * page. `minDf` must sit ABOVE the corpus's natural n-gram
    * document frequency (measure it; the q169 catalog query derives
    * it from the corpus count) or organic phrases get scrubbed.
    *
    * Scale: per-doc gram generation is codegen'd HOFs (transform/
    * slice — no per-gram rows until the single explode); the df count
    * is one shuffle of distinct (gram, doc) pairs; the frequent-gram
    * set is by construction SMALL (true boilerplate), so the
    * coverage join broadcasts it; the rebuild is one groupBy(doc_id)
    * whose collect_list is bounded by document length. Reconstruction
    * is whitespace-normalized (tokens joined by single spaces).
    */
  def removeFrequentSpans(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 5, minDf: Long = 6L): DataFrame = {
    require(n >= 2, s"n must be >= 2, got $n")
    require(minDf >= 2, s"minDf must be >= 2, got $minDf")
    val toks = docs
      .filter(length(trim(col(textCol))) > 0)
      .select(col(idCol).as("doc_id"),
        tokens(textCol).as("toks"))
    // (doc_id, 0-based gram start, gram) — one explode, grams built
    // inside codegen
    val grams = toks.select(col("doc_id"),
        expr(s"transform(sequence(1, greatest(size(toks) - ${n - 1}, 0)), " +
          s"i -> array_join(slice(toks, i, $n), ' '))").as("gs"))
      .select(col("doc_id"), posexplode(col("gs")).as(Seq("pos0", "gram")))
    val frequent = grams.select(col("doc_id"), col("gram")).distinct()
      .groupBy(col("gram")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
      .select(col("gram"))
    val covered = grams.join(broadcast(frequent), Seq("gram"))
      .select(col("doc_id"), explode(expr(s"sequence(pos0 + 1, pos0 + $n)")).as("p"))
      .distinct()
    rebuildWithout(toks, covered)
  }

  /** Maximal repeated-span mining — the ExactSubstr dedup shape
    * (Lee et al. 2022, "Deduplicating Training Data Makes Language
    * Models Better"): report, per document, the maximal token runs
    * whose every `w`-token window occurs ≥ 2 times ANYWHERE in the
    * corpus (other documents or the same one). The suffix-array
    * construction the paper uses is replaced by the windowed
    * equivalent that distributes: a repeated substring of ≥ w tokens
    * contains only repeated w-windows, so the union of repeated-window
    * positions, merged into consecutive runs, recovers the repeated
    * spans (distinct nearby repeats that touch or overlap merge into
    * one reported run — the standard windowed coarsening).
    * Returns (doc_id, span_start — 1-based token index, span_len).
    *
    * Where [[removeFrequentSpans]] scrubs CORPUS-FREQUENT fixed
    * n-grams (boilerplate, df ≥ minDf documents), this finds ANY
    * duplicated run (count ≥ 2 occurrences, within-document repeats
    * included) and reports its maximal extent — the pass you run to
    * measure/excise verbatim duplication that whole-doc and near-dup
    * dedup both miss.
    *
    * Scale shape — every exchange is narrow:
    *  - windows are built inside codegen and leave the scan as
    *    (doc_id, pos, 8-byte xxhash64(gram)) — the gram TEXT never
    *    crosses a shuffle (the r10 narrow-exchange rule; 64-bit
    *    collisions mark a non-repeated window repeated with ~n²/2⁶⁴
    *    odds — the [[fingerprints]] precedent, negligible at any
    *    realistic corpus);
    *  - the occurrence count is map-side combinable on the hash; the
    *    repeated-set join is hash-keyed and pinned sort-merge
    *    ([[neverBroadcast]] — the repeated set is NOT guaranteed
    *    small, unlike boilerplate);
    *  - covered positions dedup and island-merge as 16-byte
    *    (doc_id, pos) rows; the per-document window is bounded by
    *    document length.
    */
  def repeatedSpans(docs: DataFrame, idCol: String, textCol: String,
      w: Int = 10): DataFrame = {
    require(w >= 2, s"window must be >= 2 tokens, got $w")
    val grams = windowGramHashes(rebalancedToks(docs, idCol, textCol), w)
    // Occurrence count as ONE window over the single gram pass instead
    // of groupBy + join back (r16): the join's probe side re-ran the
    // whole tokenize + gram-hash lineage (a DAG diamond Spark
    // recomputes), and the count-window shuffles the same narrow
    // (doc_id, pos, gh) rows the SMJ shuffled — one exchange and one
    // gram pass instead of two of each. Per-gh partition sizes equal
    // the old join's per-key match groups, so skew exposure is
    // unchanged; counts and the ≥2 cut are identical by definition.
    val wCnt = org.apache.spark.sql.expressions.Window.partitionBy(col("gh"))
    val covered = grams
      .withColumn("c", count(lit(1)).over(wCnt))
      .filter(col("c") >= 2)
      .select(col("doc_id"), explode(expr(s"sequence(pos, pos + ${w - 1})")).as("p"))
      .distinct()
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("p"))
    covered.withColumn("grp", col("p") - row_number().over(win))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("p")).cast("long").as("span_start"),
        count(lit(1)).cast("long").as("span_len"))
      .select(col("doc_id"), col("span_start"), col("span_len"))
  }

  /** Tokenized (doc_id, toks) for the span-mining family, with the
    * scan REBALANCED to the session parallelism when the source
    * arrives in fewer splits (r16 — the [[Similarity.bruteForceTopK]]
    * rule): the downstream per-window slice+join+hash is compute-dense
    * (O(len·w) per document), so parallelism must come from the ROW
    * count, not the byte size — a 5 K-doc sf0.1 corpus is ONE parquet
    * split, and the gram stage ran 9 s on one core while 31 idled. At
    * real scale the scan already has ≥ cores splits and this is a
    * no-op (no exchange is added).
    */
  private def rebalancedToks(
      docs: DataFrame, idCol: String, textCol: String): DataFrame =
    Rebalance.toParallelism(
      docs.filter(length(trim(col(textCol))) > 0)
        .select(col(idCol).as("doc_id"), col(textCol).as("__text")))
      .select(col("doc_id"),
        tokens("__text").as("toks"))

  /** (doc_id, pos — 1-based, gh = xxhash64 of the space-joined
    * `w`-token window), with the hash computed ONCE per window (r16).
    * The previous shape built the whole per-document gram array inside
    * the generator expression; InferFiltersFromGenerate then copied
    * that O(len·w) builder into a pushed-down scan filter (size > 0
    * AND isnotnull), so every document paid the full gram construction
    * once in the filter and again in the Generate — per CONSUMER of
    * the frame (~4× per doc in the q193 plan). Here the generator
    * explodes only the cheap position sequence (the inferred filter
    * duplicates a size() call, nothing else) and the O(w)
    * slice+join+hash runs in the projection above it, exactly once per
    * window row. Hash values are the identical expression, so results
    * are bit-identical.
    */
  private def windowGramHashes(toks: DataFrame, w: Int): DataFrame =
    toks
      .select(col("doc_id"), col("toks"),
        explode(expr(s"CASE WHEN size(toks) >= $w THEN " +
          s"sequence(1, size(toks) - ${w - 1}) " +
          "ELSE CAST(array() AS array<int>) END")).as("pos"))
      .select(col("doc_id"), col("pos"),
        expr(s"xxhash64(array_join(slice(toks, pos, $w), ' '))").as("gh"))

  /** Exact-substring dedup with keep-first semantics — the removal
    * mode of Lee et al. 2022 on top of [[repeatedSpans]]' windowed
    * construction: every token position covered by a NON-FIRST
    * occurrence of a repeated `w`-window is dropped (first = globally
    * smallest (doc_id, pos) — a total order, so the kept copy is
    * deterministic), and documents are rebuilt from the surviving
    * tokens. A verbatim duplicated run therefore survives exactly
    * once, in its earliest document; later copies vanish even when
    * the surrounding documents are otherwise unique — the duplication
    * whole-document and near-dup dedup both miss.
    * Returns (doc_id, cleaned, n_removed).
    *
    * Same narrow-exchange shape as [[repeatedSpans]] (8-byte gram
    * hashes, (doc_id, pos) coverage rows); the first-occurrence cut is
    * one rank window partitioned by gram hash — corpus-sized key
    * count, per-key row counts = occurrence multiplicities.
    */
  def removeRepeatedSpans(docs: DataFrame, idCol: String, textCol: String,
      w: Int = 10): DataFrame = {
    require(w >= 2, s"window must be >= 2 tokens, got $w")
    // same rebalanced single-hash gram pass as [[repeatedSpans]] (r16)
    val toks = rebalancedToks(docs, idCol, textCol)
    val grams = windowGramHashes(toks, w)
    val wOcc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("gh")).orderBy(col("doc_id"), col("pos"))
    val nonFirst = grams
      .withColumn("rn", row_number().over(wOcc))
      .filter(col("rn") >= 2)
    val covered = nonFirst
      .select(col("doc_id"), explode(expr(s"sequence(pos, pos + ${w - 1})")).as("p"))
      .distinct()
    rebuildWithout(toks, covered)
  }

  /** Whitespace tokens of the text column named `textCol`, empty
    * tokens dropped — the span family's one tokenizer.
    */
  private def tokens(textCol: String): Column =
    expr(s"filter(split(trim(`$textCol`), '\\\\s+'), x -> x != '')")

  /** The span family's rebuild: each (doc_id, toks) document keeps the
    * tokens whose 1-based position is NOT in `covered` (doc_id, p), in
    * order, joined by single spaces. Returns (doc_id, cleaned,
    * n_removed); a fully covered document comes back as "".
    */
  private def rebuildWithout(toks: DataFrame, covered: DataFrame): DataFrame = {
    val tokPos = toks
      .select(col("doc_id"), posexplode(col("toks")).as(Seq("p0", "tok")))
      .select(col("doc_id"), (col("p0") + 1).as("p"), col("tok"))
    val rebuilt = tokPos.join(covered, Seq("doc_id", "p"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(
        // positions are unique per doc, so the struct sort is a total
        // order and the collect_list's arrival order cannot leak
        expr("array_join(transform(array_sort(collect_list(struct(p, tok))), s -> s.tok), ' ')")
          .as("cleaned"),
        count(lit(1)).as("n_kept"))
    toks.select(col("doc_id"), size(col("toks")).cast("long").as("n_toks"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cleaned"), lit("")).as("cleaned"),
        (col("n_toks") - coalesce(col("n_kept"), lit(0L))).as("n_removed"))
  }
}
