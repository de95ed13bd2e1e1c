package graft.expressions

import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.types.UTF8String

/** Primitive compute kernels behind the scalar functions of
  * [[GraftFunctions]]: tight compiled loops over raw bytes, no
  * per-element Column evaluation, no intermediate object churn. Spark's
  * `StaticInvoke` calls them through the static forwarders Scala emits
  * for top-level objects, so the entry points take and return
  * Catalyst's own types (`UTF8String`/`ArrayData` in,
  * `ArrayData`/`long`/`double` out) and convert to primitive arrays
  * here, once.
  *
  * Hashing: FNV-1a over the shingle bytes finished with the splitmix64
  * avalanche — stable across JVMs/runs (no seed from the environment).
  * MinHash permutations g_i(h) = mix64(h ^ seed_i) — the standard
  * "one hash, k cheap derived permutations" construction.
  */
object Kernels {

  @inline private def mix64(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  @inline private def hashRange(b: Array[Byte], from: Int, until: Int): Long = {
    var h = 0xCBF29CE484222325L
    var i = from
    while (i < until) {
      h = (h ^ (b(i) & 0xFFL)) * 0x100000001B3L
      i += 1
    }
    mix64(h)
  }

  private val GOLDEN = 0x9E3779B97F4A7C15L

  @inline private def perm(h: Long, i: Int): Long = mix64(h ^ mix64(GOLDEN * (i + 1)))

  /** The i-th MinHash permutation seed, exposed so the q49 oracle SQL
    * embeds the SAME constants this kernel hashes with — generated, so
    * engine and oracle cannot drift (the signIvfOracle design rule).
    */
  private[graft] def permSeed(i: Int): Long = mix64(GOLDEN * (i + 1))

  /** A kernel's long-array result as Catalyst array data. */
  private def longs(a: Array[Long]): ArrayData = UnsafeArrayData.fromPrimitiveArray(a)

  @inline private def isSpace(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == '\r' || b == '\f'

  /** Token start/end offsets (whitespace-delimited), flattened as
    * [s0,e0,s1,e1,...].
    */
  private def tokenSpans(b: Array[Byte]): Array[Int] = {
    val spans = new java.util.ArrayList[Integer]()
    var i = 0
    val n = b.length
    while (i < n) {
      while (i < n && isSpace(b(i))) i += 1
      if (i < n) {
        val s = i
        while (i < n && !isSpace(b(i))) i += 1
        spans.add(s); spans.add(i)
      }
    }
    val out = new Array[Int](spans.size())
    var j = 0
    while (j < out.length) { out(j) = spans.get(j); j += 1 }
    out
  }

  /** All character (byte) n-gram hashes; length = max(len-n+1, 0). */
  def charShingleHashes(s: UTF8String, n: Int): Array[Long] = {
    val b = s.getBytes
    val cnt = b.length - n + 1
    if (cnt <= 0) return Array.emptyLongArray
    val out = new Array[Long](cnt)
    var i = 0
    while (i < cnt) { out(i) = hashRange(b, i, i + n); i += 1 }
    out
  }

  /** All token n-gram hashes: hash of each token combined positionally. */
  def tokenShingleHashes(s: UTF8String, n: Int): Array[Long] = {
    val b = s.getBytes
    val spans = tokenSpans(b)
    val nTok = spans.length / 2
    val cnt = nTok - n + 1
    if (cnt <= 0) return Array.emptyLongArray
    val tokHash = new Array[Long](nTok)
    var t = 0
    while (t < nTok) { tokHash(t) = hashRange(b, spans(2 * t), spans(2 * t + 1)); t += 1 }
    val out = new Array[Long](cnt)
    var i = 0
    while (i < cnt) {
      var h = 0xCBF29CE484222325L
      var j = 0
      while (j < n) { h = (h * 0x100000001B3L) ^ tokHash(i + j); j += 1 }
      out(i) = mix64(h)
      i += 1
    }
    out
  }

  private def shingleHashes(s: UTF8String, n: Int, charLevel: Boolean): Array[Long] =
    if (charLevel) charShingleHashes(s, n) else tokenShingleHashes(s, n)

  /** Sorted distinct shingle-hash set (char or token level). Sorted so
    * set intersection is a linear merge.
    */
  def shingleSet(s: UTF8String, n: Int, charLevel: Boolean): ArrayData = {
    val h = shingleHashes(s, n, charLevel)
    java.util.Arrays.sort(h)
    var w = math.min(h.length, 1)
    var i = 1
    while (i < h.length) {
      if (h(i) != h(w - 1)) { h(w) = h(i); w += 1 }
      i += 1
    }
    longs(if (w == h.length) h else java.util.Arrays.copyOf(h, w))
  }

  /** MinHash signature straight from text: one pass over the shingle
    * hashes, k running minima — no shuffle, no intermediate arrays
    * beyond the signature itself. Empty text → Long.MaxValue sentinels
    * (all empty docs collide, which is the desired dedup behavior).
    */
  def minhash(s: UTF8String, n: Int, k: Int, charLevel: Boolean): ArrayData =
    longs(signature(shingleHashes(s, n, charLevel), k))

  /** MinHash signature from a precomputed hash array. */
  def minhashFromHashes(hs: ArrayData, k: Int): ArrayData = longs(signature(hs.toLongArray(), k))

  private def signature(hs: Array[Long], k: Int): Array[Long] = {
    val sig = new Array[Long](k)
    java.util.Arrays.fill(sig, Long.MaxValue)
    var i = 0
    while (i < hs.length) {
      val h = hs(i)
      var j = 0
      while (j < k) {
        val g = perm(h, j)
        if (g < sig(j)) sig(j) = g
        j += 1
      }
      i += 1
    }
    sig
  }

  /** 64-bit SimHash over whitespace tokens. Empty text → 0. */
  def simhash(s: UTF8String): Long = {
    val b = s.getBytes
    val spans = tokenSpans(b)
    val votes = new Array[Int](64)
    var t = 0
    while (t < spans.length) {
      val h = hashRange(b, spans(t), spans(t + 1))
      var j = 0
      while (j < 64) {
        if (((h >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
        j += 1
      }
      t += 2
    }
    var sig = 0L
    var j = 0
    while (j < 64) {
      if (votes(j) > 0) sig |= (1L << j)
      j += 1
    }
    sig
  }

  /** Winnowing fingerprint selection (Schleimer et al., SIGMOD'03):
    * min of each sliding window of `w` over the k-gram hashes, distinct
    * in first-occurrence order. Fewer grams than one window → the
    * single global min; no grams → empty.
    */
  def winnow(s: UTF8String, k: Int, w: Int): ArrayData = {
    val h = charShingleHashes(s, k)
    val sel = new java.util.LinkedHashSet[java.lang.Long]()
    if (h.nonEmpty && h.length < w) sel.add(h.min)
    var i = 0
    while (i + w <= h.length) {
      var m = h(i)
      var j = i + 1
      while (j < i + w) { if (h(j) < m) m = h(j); j += 1 }
      sel.add(m)
      i += 1
    }
    val out = new Array[Long](sel.size())
    val it = sel.iterator()
    var idx = 0
    while (it.hasNext) { out(idx) = it.next(); idx += 1 }
    longs(out)
  }

  /** Intersection size of two SORTED long arrays — linear merge. */
  def sortedIntersectSize(a: Array[Long], b: Array[Long]): Int = {
    var i = 0
    var j = 0
    var c = 0
    while (i < a.length && j < b.length) {
      val x = a(i)
      val y = b(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }

  /** Jaccard of two sorted distinct hash sets; both empty → 1.0. */
  def jaccardSorted(a: ArrayData, b: ArrayData): Double = {
    val inter = sortedIntersectSize(a.toLongArray(), b.toLongArray())
    val union = a.numElements() + b.numElements() - inter
    if (union == 0) 1.0 else inter.toDouble / union
  }

  /** Random-hyperplane LSH bucket: bit j = sign(v · plane_j), planes
    * flattened row-major. All plane dots in one kernel call; the planes
    * are a constant array read in place, never copied per row.
    */
  def hyperplaneBucket(vec: ArrayData, planes: ArrayData, nPlanes: Int): Long = {
    // stride comes from the plane matrix, NOT the vector: if the
    // vector is shorter than the configured dim the extra coefficients
    // are ignored; if longer, the tail is ignored — but offsets never
    // misalign across planes.
    val v = vec.toFloatArray()
    val dim = planes.numElements() / nPlanes
    val n = math.min(dim, v.length)
    var sig = 0L
    var j = 0
    while (j < nPlanes) {
      val off = j * dim
      var s = 0.0
      var i = 0
      while (i < n) {
        s += v(i).toDouble * planes.getDouble(off + i)
        i += 1
      }
      if (s > 0) sig |= (1L << j)
      j += 1
    }
    sig
  }

  /** Dot product over float arrays (double accumulation). */
  def dotF(va: ArrayData, vb: ArrayData): Double = {
    val a = va.toFloatArray()
    val b = vb.toFloatArray()
    val n = math.min(a.length, b.length)
    var s = 0.0
    var i = 0
    while (i < n) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }

  /** Cosine similarity over float arrays — dot and both norms in ONE
    * pass. Zero-norm input → 0.0 (not NaN).
    */
  def cosineF(va: ArrayData, vb: ArrayData): Double = {
    val a = va.toFloatArray()
    val b = vb.toFloatArray()
    val n = math.min(a.length, b.length)
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a(i).toDouble
      val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Scatter (idx, val) pairs into a zero-filled dense array of `size`
    * longs — the per-query ADC lookup-table build. Unobserved cells
    * stay 0 and are never read (a corpus code always names a cell the
    * codebook was trained on). Out-of-range idx throws loudly rather
    * than truncating.
    */
  def scatterLut(idxs: ArrayData, vals: ArrayData, size: Int): ArrayData = {
    val out = new Array[Long](size)
    var i = 0
    while (i < idxs.numElements()) {
      out(idxs.getLong(i).toInt) = vals.getLong(i)
      i += 1
    }
    longs(out)
  }

  /** ADC score of one corpus vector against one query's dense lookup
    * table: Σⱼ lut[(j << w) + codes(j)] — m O(1) array reads per
    * (query, vector) pair, replacing the (sub, code)-keyed join +
    * m-row aggregation that exploded the compressed-domain scan to
    * |pairs|·m shuffled rows. Takes ArrayData DIRECTLY: `toLongArray`
    * would copy the m·2^w-cell table once per scored pair — a 16 KB
    * memcpy multiplied by |Q|·n pairs dwarfed the m lookups it fed.
    */
  def adcLookupSum(codes: ArrayData, lut: ArrayData, w: Int): Long = {
    var s = 0L
    var j = 0
    val n = codes.numElements()
    while (j < n) {
      s += lut.getLong((j << w) + codes.getLong(j).toInt)
      j += 1
    }
    s
  }

  /** ADC-score a BUFFERED corpus block (`codesFlat` = nRows × m packed
    * codes, row-major; `ids` the matching vector ids) against ONE
    * query's dense lookup table, offering every non-self pair straight
    * into that query's bounded top-k heap. The blocked corpus-streamed
    * scan's inner kernel (see `Similarity.adcScanBlocked`): the caller
    * iterates LUT-major over a cache-sized block, so this loop reads
    * the SAME 16 KB table for every row — L1-resident — while the
    * codes stream sequentially; the heap offer is one compare against
    * the current k-th in the common (losing) case, and NO per-pair
    * object is ever allocated. Same integer arithmetic as
    * [[adcLookupSum]] and the same total order as [[BoundedTopK]], so
    * the blocked scan's survivors are bit-identical to the broadcast
    * branch's.
    */
  def adcBlockTopK(
      codesFlat: Array[Long], ids: Array[Long], nRows: Int, m: Int,
      lut: Array[Long], w: Int, queryId: Long, heap: TopKHeap): Unit = {
    var i = 0
    var base = 0
    while (i < nRows) {
      if (ids(i) != queryId) {
        var s = 0L
        var j = 0
        while (j < m) {
          s += lut((j << w) + codesFlat(base + j).toInt)
          j += 1
        }
        heap.offer(s, ids(i))
      }
      i += 1
      base += m
    }
  }
}
