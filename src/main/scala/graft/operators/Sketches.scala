package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** Deterministic integer sketches: count-min (heavy-hitter estimation)
  * and signed random projection (compact embedding signatures).
  *
  * Both are pure integer arithmetic end-to-end, so any SQL engine
  * reproduces them bit-exactly — unlike seeded-RNG or float-dot
  * sketches, the output does not depend on partitioning, task retries,
  * summation order, or engine version. That makes them driver-oracle
  * checkable AND idempotent across incremental runs: re-sketching the
  * same rows yields the same cells, so sketches from separate batches
  * can be merged by summing counters.
  */
object Sketches {

  /** Multiplicative-hash constants (Knuth's 2654435761 and the public
    * xxhash/Murmur-family odd primes). The key is folded to 31 bits
    * BEFORE the multiply so the product stays under 2^63 for any
    * BIGINT key — ANSI mode throws on the bare product past ~3.4e9
    * keys (round-4 sampling postmortem), non-ANSI would silently wrap.
    */
  private val HashConstants = Seq(2654435761L, 2246822519L, 3266489917L, 668265263L)

  private val Fold = 2147483648L // 2^31

  private def cellOf(key: Column, a: Long, width: Int): Column =
    pmod(pmod(pmod(key.cast("long"), lit(Fold)) * lit(a), lit(Fold)), lit(width.toLong))

  /** Count-min sketch cells over `keyCol`: `depth` hash rows × `width`
    * counters, emitted as (d, cell, cnt). ONE shuffle whose reduce side
    * is depth×width rows regardless of corpus size — the sketch crosses
    * the wire, never the keys. Estimates are biased up only (hash
    * collisions add counts, never subtract): est(k) ≥ true(k), with the
    * standard (ε=e/width, δ=e^-depth) overcount bound.
    */
  def countMinCells(df: DataFrame, keyCol: String, depth: Int, width: Int): DataFrame = {
    require(depth >= 1 && depth <= HashConstants.size,
      s"depth must be 1..${HashConstants.size}, got $depth")
    require(width >= 2, s"width must be >= 2, got $width")
    df.select(explode(array(hashRows(col(keyCol), depth, width): _*)).as("h"))
      .groupBy(col("h.d").as("d"), col("h.cell").as("cell"))
      .agg(count(lit(1)).as("cnt"))
  }

  private def hashRows(key: Column, depth: Int, width: Int): Seq[Column] =
    HashConstants.take(depth).zipWithIndex.map { case (a, d) =>
      struct(lit(d.toLong).as("d"), cellOf(key, a, width).as("cell"))
    }

  /** Point estimate for every distinct key: min over the key's `depth`
    * cells. The cell table is depth×width rows → broadcast to the
    * distinct-key side; keys never join each other, so the plan is one
    * distinct-shuffle plus a map-side hash lookup at any scale.
    */
  def countMinEstimates(df: DataFrame, keyCol: String, depth: Int, width: Int): DataFrame = {
    val cells = countMinCells(df, keyCol, depth, width)
    df.select(col(keyCol)).distinct()
      .select(col(keyCol), explode(array(hashRows(col(keyCol), depth, width): _*)).as("h"))
      .select(col(keyCol), col("h.d").as("__d"), col("h.cell").as("__cell"))
      .join(broadcast(cells), col("__d") === col("d") && col("__cell") === col("cell"))
      .groupBy(col(keyCol))
      .agg(min(col("cnt")).as("cms_est"))
  }

  /** Deterministic Bloom bitset of a key column: `k` bit positions per
    * key from the folded multiplicative family, distinct positions
    * collected (bounded by `nBits` rows — a build-side artifact like an
    * IVF codebook, NOT a per-row driver loop) and OR'd into an
    * Array[Long]. Same-hash determinism means two engines — or two
    * incremental batches — building over the same keys produce the
    * identical bitset (merge = bitwise OR).
    */
  def bloomBits(df: DataFrame, keyCol: String, nBits: Int, k: Int): Array[Long] = {
    require(k >= 1 && k <= HashConstants.size, s"k must be 1..${HashConstants.size}, got $k")
    require(nBits >= 64 && (nBits & (nBits - 1)) == 0,
      s"nBits must be a power of two >= 64, got $nBits")
    val positions = HashConstants.take(k)
      .map(a => pmod(pmod(pmod(col(keyCol).cast("long"), lit(Fold)) * lit(a), lit(Fold)),
        lit(nBits.toLong)))
    val bits = new Array[Long](nBits / 64)
    df.select(explode(array(positions: _*)).as("p")).distinct()
      .collect().foreach { r =>
        val p = r.getLong(0)
        bits((p / 64).toInt) |= 1L << (p % 64)
      }
    bits
  }

  /** Might-contain test against a literal bitset — all codegen'd
    * builtins (element_at + shiftleft + bitwise and), no UDF. False
    * positives possible, false negatives never.
    */
  def mightContain(key: Column, bits: Array[Long], k: Int): Column = {
    val nBits = bits.length * 64
    HashConstants.take(k).map { a =>
      val p = pmod(pmod(pmod(key.cast("long"), lit(Fold)) * lit(a), lit(Fold)),
        lit(nBits.toLong))
      // functions.shiftleft only takes a literal shift; the SQL
      // builtin (same codegen) accepts a column
      (element_at(lit(bits), (p / 64).cast("int") + 1)
        .bitwiseAND(call_function("shiftleft", lit(1L), (p % 64).cast("int"))) =!= 0L)
    }.reduce(_ && _)
  }

  /** Exact semi-join with a Bloom prefilter on the large side — the
    * runtime-filter pattern: the bitset (nBits/8 bytes) ships in the
    * plan, rows failing it never reach the shuffle, and the exact
    * LEFT SEMI join removes the false positives. Result EQUALS the
    * plain semi-join (the oracle assertion in q96); the win at 100 TB
    * is shuffle volume proportional to the match rate, not the scan.
    */
  def bloomSemiJoin(large: DataFrame, largeKey: String,
      small: DataFrame, smallKey: String,
      nBits: Int = 1 << 16, k: Int = 3): DataFrame = {
    val bits = bloomBits(small, smallKey, nBits, k)
    large.filter(mightContain(col(largeKey), bits, k))
      .join(small.select(col(smallKey).as(largeKey)).distinct(),
        Seq(largeKey), "left_semi")
  }

  /** HyperLogLog-style distinct-count registers, deterministic and
    * oracle-portable. The folded Knuth hash yields 31 uniform bits; the
    * LOW `p` bits pick one of 2^p buckets and the remaining `width =
    * 31-p` bits produce the classic rank = leading-zero-count + 1,
    * computed WITHOUT floats as `width - (length(bin(rem)) - 1)` (for
    * rem > 0; an all-zero remainder saturates at width+1). Registers
    * are the per-bucket MAX rank — 2^p tiny rows of sketch state
    * regardless of corpus size, mergeable across batches/partitions by
    * elementwise max (the same monoid law as [[MinHashUnion]]'s
    * elementwise min). Spark's own approx_count_distinct carries
    * engine-private HLL state no other engine can replay; this one is
    * three integer ops and a string length, so the driver oracle
    * reproduces every register exactly. Buckets no key hashes into are
    * absent from the output (they read as rank 0 when estimating).
    * The cardinality ESTIMATE (harmonic mean) is intentionally left to
    * the test/report helper [[hllEstimate]] on the collected registers:
    * it needs doubles, which stay out of every hashed column.
    */
  def hllRegisters(df: DataFrame, keyCol: String, p: Int = 8): DataFrame = {
    require(p >= 4 && p <= 16, s"p must be 4..16, got $p")
    val width = 31 - p
    // A single multiplicative hash of sequential ids is a Weyl lattice:
    // equidistributed, but with NO exponential small-value tail, and
    // max-rank registers come out ~1.5 bits short (measured 2.7× under-
    // estimate). The murmur-style xorshift-multiply finalizer below
    // restores the geometric rank distribution — still three integer
    // ops any SQL engine reproduces bit-exactly. All values stay in the
    // 31-bit domain, so the products stay under 2^62.1 (ANSI-safe).
    val h1 = pmod(pmod(col(keyCol).cast("long"), lit(Fold)) * lit(HashConstants.head), lit(Fold))
    val h2 = pmod(h1.bitwiseXOR(shiftright(h1, 16)) * lit(HashConstants(1)), lit(Fold))
    val h = h2.bitwiseXOR(shiftright(h2, 13))
    df.select(h.as("__h"))
      .select(
        pmod(col("__h"), lit(1L << p)).as("bucket"),
        shiftright(col("__h"), p).as("__rem"))
      .select(col("bucket"),
        when(col("__rem") === 0, lit((width + 1).toLong))
          .otherwise(lit((width + 1).toLong) - length(bin(col("__rem"))).cast("long"))
          .as("rank"))
      .groupBy(col("bucket"))
      .agg(max(col("rank")).as("register"))
  }

  /** Driver-side cardinality estimate from collected registers —
    * standard HLL harmonic mean with the small-range linear-counting
    * correction. Test/report helper: doubles are fine HERE because the
    * estimate is never hashed or joined, only read by a human (or a
    * spec asserting relative error).
    */
  def hllEstimate(registers: Map[Long, Long], p: Int): Double = {
    val m = 1 << p
    val alpha = m match {
      case 16 => 0.673
      case 32 => 0.697
      case 64 => 0.709
      case _ => 0.7213 / (1.0 + 1.079 / m)
    }
    val sum = (0 until m).map(b => math.pow(2.0, -registers.getOrElse(b.toLong, 0L).toDouble)).sum
    val raw = alpha * m * m / sum
    val zeros = m - registers.count(_._2 > 0)
    if (raw <= 2.5 * m && zeros > 0) m * math.log(m.toDouble / zeros) else raw
  }

  /** Signed random projection of int8-quantized vectors onto `nPlanes`
    * ±1 hyperplanes: (id, plane, proj) with proj = Σ_pos q(pos)·sign(pos,
    * plane), a BIGINT. The per-coordinate sign extracts bit 16 of a
    * Knuth multiply — NOT the low bit, which an odd multiplier leaves
    * equal to the input's parity (a non-mixing alternating pattern).
    *
    * Components are quantized ONCE through the codegen'd scalar
    * expression then fan out by plane (the q65/q74 posexplode pattern —
    * an array HOF would re-run interpreted per referencing aggregate).
    * Row inflation before the (id, plane) shuffle is dim×nPlanes, all
    * map-side-combinable. Unlike the float-dot hyperplane LSH in
    * [[Similarity]], the integer projection is exactly reproducible in
    * SQL, so the whole path is driver-oracle checkable.
    */
  def signedProjection(df: DataFrame, idCol: String, vecCol: String,
      nPlanes: Int): DataFrame = {
    require(nPlanes >= 1, s"nPlanes must be >= 1, got $nPlanes")
    df.select(col(idCol), posexplode(col(vecCol)).as(Seq("pos", "x")))
      .select(col(idCol), col("pos"),
        VectorFunctions.quantizeInt8Component(col("x")).cast("long").as("qc"))
      .select(col(idCol), col("pos"), col("qc"),
        explode(sequence(lit(0L), lit((nPlanes - 1).toLong))).as("plane"))
      .withColumn("sign",
        when(expr(s"pmod((pos * $nPlanes + plane) * 2654435761 DIV 65536, 2)") === 0,
          lit(1L)).otherwise(lit(-1L)))
      .groupBy(col(idCol), col("plane"))
      .agg(sum(col("qc") * col("sign")).as("proj"))
  }
}
