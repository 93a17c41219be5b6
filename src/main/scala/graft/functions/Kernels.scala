package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, EvalMode, Expression, Literal, Multiply, NumericEvalContext, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{Decimal, DecimalType, DoubleType, LongType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass JVM kernels backing the custom Catalyst expressions — plain
  * static-callable loops so generated code can invoke them from inside
  * whole-stage codegen (no boxing, no per-element Catalyst eval).
  */
object Kernels {

  /** Exact cosine over 1000x-quantized integer vectors. Bit-identical to the
    * portable formula used by the DuckDB oracles (see SimilarityOps):
    * q[i] = floor(x*1000 + 0.5) as long; cos = dot / (sqrt(na)*sqrt(nb)).
    */
  def quantCosine(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0L
    var na = 0L
    var nb = 0L
    var i = 0
    while (i < n) {
      val qa = math.floor(a.getFloat(i) * 1000.0 + 0.5).toLong
      val qb = math.floor(b.getFloat(i) * 1000.0 + 0.5).toLong
      dot += qa * qb
      na += qa * qa
      nb += qb * qb
      i += 1
    }
    if (na == 0L || nb == 0L) 0.0
    else dot.toDouble / (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble))
  }

  /** Integer dot product of two pre-quantized long vectors. */
  def quantDot(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0L
    var i = 0
    while (i < n) {
      dot += a.getLong(i) * b.getLong(i)
      i += 1
    }
    dot
  }

  /** Plain float cosine (double accumulation, left-to-right). */
  def cosine(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  private def hashString(s: UTF8String, seed: Long): Long =
    XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, seed)

  /** MinHash signature: perm k = min over elements of xxh64(bytes, seed=k).
    * One pass over the array per permutation set — replaces the
    * explode + groupBy + k aggregates formulation (no shuffle at all).
    * Empty input → Long.MaxValue sentinel per perm.
    */
  def minhashSig(items: ArrayData, perms: Int): ArrayData = {
    val out = new Array[Long](perms)
    java.util.Arrays.fill(out, Long.MaxValue)
    val n = items.numElements()
    var i = 0
    while (i < n) {
      val s = items.getUTF8String(i)
      if (s != null) {
        var k = 0
        while (k < perms) {
          val h = hashString(s, k.toLong)
          if (h < out(k)) out(k) = h
          k += 1
        }
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** HLL rank of a 64-bit hash's 56-bit tail: leading-zero count of
    * (h << 8) plus one, capped at 57 for an all-zero tail — exactly the
    * rho inside [[graft.functions.HllNdv256]], exposed as a column kernel
    * so RELATIONAL sketch builds (per-partition register maxima merged by
    * plain max aggregates/windows) share the aggregate's arithmetic.
    */
  def rho57(h: Long): Int = {
    val w = h << 8
    if (w == 0L) 57 else java.lang.Long.numberOfLeadingZeros(w) + 1
  }

  // --- Exact micro-units of a double ----------------------------------------
  // `(d.cast(DECIMAL(28,6)) * 1000000).cast(LONG)` without a Decimal per row.
  // The cast renders d with Double.toString (the JVM's own rendering: on
  // JDK 17 not always the shortest), rounds that decimal HALF_UP to six
  // places and takes its unscaled value. The rendering round-trips, so it
  // lies within ulp(d)/2 of d, and d * 1e6 in double lies within about
  // 1.5 ulp of the rendering times 1e6. Unless that product is within
  // 4 ulp of a half-micro, both round to the same integer, and the double
  // product decides. Everything else takes the cast chain's own path.

  /** [[exactMicros]]'s answer for a value off its fast path. The fast path
    * never returns it: its results are below 2^32 * 1e6 in magnitude.
    */
  final val NotFast: Long = Long.MinValue

  private final val FastLimit = 4294967296.0 // 2^32

  /** The micro-units of `d` by double arithmetic alone, or [[NotFast]]
    * when `d` is NaN, infinite, at least 2^32 in magnitude, or within
    * 4 ulp of a half-micro — there [[exactMicrosSlow]] decides.
    */
  def exactMicros(d: Double): Long =
    if (!(math.abs(d) < FastLimit)) NotFast
    else {
      val x = d * 1e6
      val a = math.abs(x)
      val whole = math.floor(a)
      val frac = a - whole // exact
      if (math.abs(frac - 0.5) <= 4 * math.ulp(a)) NotFast
      else {
        val r = if (frac > 0.5) whole.toLong + 1 else whole.toLong
        if (x < 0) -r else r
      }
    }

  /** The cast chain itself, per eval mode (LEGACY, ANSI): Spark's own
    * `Cast` and `Multiply`, built as the analyser builds them for
    * `(c.cast(DECIMAL(28,6)) * 1000000).cast(LONG)`, so every NULL (NaN,
    * ±Inf, decimal overflow) and every ANSI error
    * (NUMERIC_VALUE_OUT_OF_RANGE, CAST_OVERFLOW) is the cast's own.
    */
  private val castChains: Array[Expression] = Array(false, true).map { ansi =>
    val mode = EvalMode.fromBoolean(ansi)
    Cast(Multiply(
      Cast(BoundReference(0, DoubleType, nullable = true),
        DecimalType(28, 6), None, mode),
      Literal(Decimal(1000000), DecimalType(7, 0)),
      NumericEvalContext(mode)), LongType, None, mode)
  }

  /** [[exactMicros]] off its fast path: the cast chain, evaluated on `d`.
    * NULL comes back as `null`.
    */
  def exactMicrosSlow(d: Double, ansi: Boolean): java.lang.Long =
    castChains(if (ansi) 1 else 0).eval(InternalRow(d))
      .asInstanceOf[java.lang.Long]

  /** 64-bit SimHash over a token multiset: bit i of the signature is the
    * sign of Σ_tokens count(t) * (bit_i(xxh64(t)) ? +1 : -1).
    */
  def simhash64(tokens: ArrayData): Long = {
    val counts = new java.util.HashMap[UTF8String, Integer]()
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      val s = tokens.getUTF8String(i)
      if (s != null) counts.merge(s, 1, (a, b) => a + b)
      i += 1
    }
    val bitSums = new Array[Int](64)
    val it = counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val h = hashString(e.getKey, 42L)
      val w = e.getValue.intValue()
      var bit = 0
      while (bit < 64) {
        if (((h >>> bit) & 1L) == 1L) bitSums(bit) += w
        else bitSums(bit) -= w
        bit += 1
      }
    }
    var sig = 0L
    var bit = 0
    while (bit < 64) {
      if (bitSums(bit) > 0) sig |= (1L << bit)
      bit += 1
    }
    sig
  }

  private val SPACE = UTF8String.fromString(" ")

  /** Contiguous n-token shingles joined with single spaces; empty array when
    * fewer than n tokens. Single pass — the Column-combinator formulation
    * (transform over sequence + element_at) re-evaluates the token array per
    * element because Catalyst does not CSE across lambda scopes.
    */
  def wordShingles(tokens: ArrayData, n: Int): ArrayData = {
    val len = tokens.numElements()
    if (len < n) return new GenericArrayData(Array.empty[Any])
    val toks = new Array[UTF8String](len)
    var i = 0
    while (i < len) { toks(i) = tokens.getUTF8String(i); i += 1 }
    val out = new Array[Any](len - n + 1)
    i = 0
    while (i <= len - n) {
      val parts = new Array[UTF8String](n)
      var j = 0
      while (j < n) { parts(j) = toks(i + j); j += 1 }
      out(i) = UTF8String.concatWs(SPACE, parts: _*)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** ln(i) for i in 0..1024 (entry 0 = 0.0) — the SHARED log table behind
    * engine-portable entropies ([[graft.ops.TextOps]] re-exports it and
    * the DuckDB oracle embeds the same doubles as literals).
    */
  val LnTable: Array[Double] =
    Array.tabulate(1025)(i => if (i == 0) 0.0 else math.log(i.toDouble))

  /** Shannon entropy in bits of a row-local multiset:
    * (N·lnN − Σ c·ln c) / (N·ln 2), counts folded in ascending binary
    * item order from 0.0 — bit-identical to the higher-order-function
    * formulation it replaces (sorted-distinct fold) but ONE tree-map
    * pass instead of O(distinct × N) interpreted lambda scans (measured
    * ~10x on text_entropy at sf0.1; Spark HOFs don't participate in
    * whole-stage codegen). Counts above 1024 overrun the table — the
    * same loud failure as the element_at form. NULL items contribute to
    * N but not to the count sum (the `c === x` filter semantics).
    */
  def entropyBits(items: ArrayData): Double = {
    val n = items.numElements()
    val counts = new java.util.TreeMap[UTF8String, Integer]()
    var i = 0
    while (i < n) {
      if (!items.isNullAt(i))
        counts.merge(items.getUTF8String(i), Integer.valueOf(1),
          (a, b) => Integer.valueOf(a.intValue + b.intValue))
      i += 1
    }
    var acc = 0.0
    val it = counts.values().iterator()
    while (it.hasNext) {
      val c = it.next().intValue
      acc = acc + c.toDouble * LnTable(c)
    }
    (n.toDouble * LnTable(n) - acc) / (n.toDouble * LnTable(2))
  }

  /** Occurrence count of the single most frequent token — one hash map per
    * ROW, so repetition scoring never explodes tokens into a shuffle (the
    * explode + groupBy(doc, token) formulation moves N×tokens rows through
    * an exchange; this is a codegen'd map-side scan). 0 for an empty array.
    */
  def topTokenCount(tokens: ArrayData): Int = {
    val len = tokens.numElements()
    if (len == 0) return 0
    val counts = new java.util.HashMap[UTF8String, Integer](len * 2)
    var best = 0
    var i = 0
    while (i < len) {
      // NULL elements are skipped (SQL aggregate semantics) — the function
      // is SQL-registered, so arbitrary containsNull arrays can reach it
      if (!tokens.isNullAt(i)) {
        val t = tokens.getUTF8String(i)
        val c = counts.merge(t, Integer.valueOf(1), (a, b) =>
          Integer.valueOf(a.intValue + b.intValue))
        if (c.intValue > best) best = c.intValue
      }
      i += 1
    }
    best
  }

  /** Winnowing document fingerprints (Schleimer/Wilkerson/Aiken): rolling
    * polynomial hashes of k-byte grams, then the minimum in each window of w
    * consecutive hashes; distinct minima, sorted. Guarantees any shared
    * substring of length >= k + w - 1 yields a shared fingerprint.
    */
  def winnowFingerprints(s: UTF8String, k: Int, w: Int): ArrayData = {
    val bytes = s.getBytes
    if (bytes.length < k)
      return new GenericArrayData(Array.empty[Any])
    val n = bytes.length - k + 1
    val hashes = new Array[Long](n)
    val Base = 257L
    var pow = 1L
    var i = 0
    while (i < k - 1) { pow *= Base; i += 1 }
    var h = 0L
    i = 0
    while (i < k) { h = h * Base + (bytes(i) & 0xFF); i += 1 }
    hashes(0) = h
    i = k
    while (i < bytes.length) {
      h = (h - (bytes(i - k) & 0xFF) * pow) * Base + (bytes(i) & 0xFF)
      hashes(i - k + 1) = h
      i += 1
    }
    val out = new java.util.TreeSet[java.lang.Long]()
    val lastWin = math.max(0, n - w)
    var j = 0
    while (j <= lastWin) {
      var m = hashes(j)
      var t = j + 1
      val end = math.min(j + w, n)
      while (t < end) { if (hashes(t) < m) m = hashes(t); t += 1 }
      out.add(m)
      j += 1
    }
    val arr = new Array[Any](out.size)
    val it = out.iterator()
    i = 0
    while (it.hasNext) { arr(i) = it.next().longValue(); i += 1 }
    new GenericArrayData(arr)
  }

  /** Bucket ids of quantized vector `q` under `tables` LSH tables of
    * `bits` sign-bit integer hyperplanes each — plane k = tables*bits
    * deterministic weights w(k,i) = ((k*131 + i*31 + 7) mod 61) - 30; bit
    * j of table tb is the sign of the plane (tb*bits + j) dot product.
    * Single pass over the vector per plane (replaces a 64-expression
    * Column-combinator tree that re-materialized `sequence`/`zip_with`
    * per plane per row). The formula is replicated verbatim by the DuckDB
    * oracles (SimilarityOps / DedupOps).
    */
  def lshBuckets(q: ArrayData, tables: Int, bits: Int): ArrayData = {
    val dims = q.numElements()
    val out = new Array[Long](tables)
    var k = 0
    val planes = tables * bits
    while (k < planes) {
      var dot = 0L
      var i = 0
      while (i < dims) {
        dot += q.getLong(i) * (((k * 131 + i * 31 + 7) % 61) - 30).toLong
        i += 1
      }
      if (dot > 0L) out(k / bits) |= 1L << (k % bits)
      k += 1
    }
    new GenericArrayData(out)
  }

  /** Index of the first position where the two long arrays agree, or -1 —
    * the exactly-once emit test for multi-table LSH self-joins (a pair is
    * produced only from its first shared bucket). Allocation-free: the
    * Column-combinator form (slice + zip_with + exists) allocated two
    * arrays per candidate row.
    */
  def firstMatch(a: ArrayData, b: ArrayData): Int = {
    val n = math.min(a.numElements(), b.numElements())
    var i = 0
    while (i < n) {
      if (a.getLong(i) == b.getLong(i)) return i
      i += 1
    }
    -1
  }

  /** Jaccard of two SORTED, DISTINCT long arrays via linear merge. */
  def jaccardSortedLongs(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements()
    val nb = b.numElements()
    if (na == 0 && nb == 0) return 0.0
    var i = 0
    var j = 0
    var inter = 0
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    inter.toDouble / (na + nb - inter).toDouble
  }

  /** Intersection size of two SORTED long arrays — one linear merge, the
    * containment numerator (|A∩B|; the caller divides by |A| for Broder
    * containment, or compares cross-multiplied integers to avoid the
    * float boundary).
    */
  def intersectSortedLongs(a: ArrayData, b: ArrayData): Long = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var inter = 0L
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    inter
  }

  /** Jaccard similarity of two string arrays as distinct sets. */
  def jaccard(a: ArrayData, b: ArrayData): Double = {
    val sa = new java.util.HashSet[UTF8String]()
    var i = 0
    while (i < a.numElements()) {
      val s = a.getUTF8String(i); if (s != null) sa.add(s); i += 1
    }
    val sb = new java.util.HashSet[UTF8String]()
    i = 0
    while (i < b.numElements()) {
      val s = b.getUTF8String(i); if (s != null) sb.add(s); i += 1
    }
    if (sa.isEmpty && sb.isEmpty) return 0.0
    var inter = 0
    val it = sa.iterator()
    while (it.hasNext) if (sb.contains(it.next())) inter += 1
    inter.toDouble / (sa.size + sb.size - inter).toDouble
  }

  /** Z-order (Morton) interleave of the low 32 bits of two non-negative
    * keys: bit i of `a` lands at position 2i, bit i of `b` at 2i+1 — z
    * fills all 64 bits. The multi-dimensional clustering key lakehouse
    * tables sort by so range predicates on EITHER column prune contiguous
    * file ranges. 32-bit width (r5, was 20) covers every TPC-H key domain
    * through sf~700k; the ordering is identical for keys < 2^20, so the
    * widening is oracle-compatible. Formula is plain shift/mask
    * arithmetic so the DuckDB oracle replicates it bit-for-bit (bit 31 of
    * `b` lands in the sign bit in BOTH engines' two's-complement BIGINT,
    * so even that extreme sorts identically).
    */
  def zorder2(a: Long, b: Long): Long = {
    // loud failure instead of silent truncation: keys >= 2^32 (or
    // negative) would alias onto the same z value, degrading the
    // clustering property to hash-like collisions — and the oracle
    // replicates the same truncation, so the gate could never catch it
    require(((a | b) >>> 32) == 0L,
      s"zorder2 keys must be in [0, 2^32), got ($a, $b)")
    var z = 0L
    var i = 0
    while (i < 32) {
      z |= ((a >> i) & 1L) << (2 * i)
      z |= ((b >> i) & 1L) << (2 * i + 1)
      i += 1
    }
    z
  }

  // --- Bloom filter over pre-hashed 64-bit keys -----------------------------
  // Kirsch-Mitzenmacher double hashing: position_i = h1 + i*h2 (mod m).
  // h2 is forced odd so the stride cycles the full power-of-two bit space.
  // Both sides (build aggregate and probe expression) share these two
  // methods, so the byte layout can never diverge.

  private final val BloomMix = 0x9E3779B97F4A7C15L // golden-ratio odd mixer

  /** Loud failure on a blob that is not a BloomBits product: an empty or
    * non-power-of-two-length buffer would otherwise index out of bounds
    * (mask = -1) or silently probe a layout no builder produced — the
    * probe expression accepts any BinaryType column, so the invariant the
    * aggregate enforces at build time must be re-checked here.
    */
  private def checkBloomBuf(buf: Array[Byte]): Unit =
    require(buf.length > 0 && (buf.length & (buf.length - 1)) == 0,
      s"bloom blob must be a positive power-of-two byte length, " +
        s"got ${buf.length}B — not a bloom_bits product?")

  /** Set the k bloom bits for hash `h` in `buf` (numBits = buf.length*8,
    * REQUIRED to be a power of two by the building aggregate). */
  def bloomSet(buf: Array[Byte], h: Long, numHashes: Int): Unit = {
    checkBloomBuf(buf)
    val mask = (buf.length.toLong << 3) - 1L
    val h2 = (h * BloomMix) | 1L
    var i = 0
    while (i < numHashes) {
      val idx = ((h + i.toLong * h2) & mask).toInt
      buf(idx >>> 3) = (buf(idx >>> 3) | (1 << (idx & 7))).toByte
      i += 1
    }
  }

  /** Probe: false = DEFINITELY absent; true = maybe present. */
  def bloomMightContain(buf: Array[Byte], h: Long, numHashes: Int): Boolean = {
    checkBloomBuf(buf)
    val mask = (buf.length.toLong << 3) - 1L
    val h2 = (h * BloomMix) | 1L
    var i = 0
    while (i < numHashes) {
      val idx = ((h + i.toLong * h2) & mask).toInt
      if ((buf(idx >>> 3) & (1 << (idx & 7))) == 0) return false
      i += 1
    }
    true
  }

  /** Bounded Levenshtein distance (Ukkonen band): returns
    * `min(lev(a, b), k+1)` in O(k·min(n, m)) time and O(m) space — the
    * fuzzy-join kernel. An unbounded O(n·m) distance is wasted work in a
    * thresholded pair search (every candidate beyond the band saturates
    * to k+1 anyway, and the length pre-check rejects most pairs in O(1)).
    * Distances are over Java chars (UTF-16 code units), matching both
    * Spark's and DuckDB's `levenshtein` on the BMP.
    */
  def levenshteinWithin(a: UTF8String, b: UTF8String, k: Int): Int = {
    require(k >= 0, s"levenshtein_within: negative threshold $k")
    val s = a.toString
    val t = b.toString
    val n = s.length
    val m = t.length
    val inf = k + 1
    if (math.abs(n - m) > k) return inf
    var prev = new Array[Int](m + 1)
    var cur = new Array[Int](m + 1)
    java.util.Arrays.fill(prev, inf)
    var j = 0
    while (j <= math.min(m, k)) { prev(j) = j; j += 1 }
    var i = 1
    while (i <= n) {
      java.util.Arrays.fill(cur, inf)
      var best = inf
      if (i <= k) { cur(0) = i; best = i }
      val lo = math.max(1, i - k)
      val hi = math.min(m, i + k)
      var jj = lo
      while (jj <= hi) {
        val cost = if (s.charAt(i - 1) == t.charAt(jj - 1)) 0 else 1
        var v = prev(jj - 1) + cost
        val del = prev(jj) + 1
        if (del < v) v = del
        val ins = cur(jj - 1) + 1
        if (ins < v) v = ins
        if (v > inf) v = inf
        cur(jj) = v
        if (v < best) best = v
        jj += 1
      }
      // the entire band saturated: no path back under the threshold
      if (best >= inf) return inf
      val tmp = prev; prev = cur; cur = tmp
      i += 1
    }
    math.min(prev(m), inf)
  }

  /** Viterbi segmentation of `word` under a unigram LM with integer piece
    * costs (cost ≈ 1000·ln(1/p), so MINIMIZING total cost maximizes the
    * segmentation likelihood — SentencePiece's hard-EM E step over a
    * char+bigram lattice). `pieces`/`costs` are parallel arrays (the
    * vocabulary: every corpus character plus the top-k bigrams); unknown
    * bigrams are simply not candidates, unknown characters cost INF (a
    * char outside the vocabulary cannot occur when the vocabulary was
    * built from the same corpus). DP over positions with the bigram
    * preferred on exact cost ties (`<=`) — the tie rule the DuckDB oracle
    * mirrors. Returns the chosen pieces in order.
    */
  def unigramViterbi(word: UTF8String, pieces: ArrayData,
      costs: ArrayData): ArrayData = {
    val s = word.toString
    val n = s.length
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    val np = pieces.numElements()
    val m = new java.util.HashMap[String, java.lang.Long](np * 2)
    var i = 0
    while (i < np) {
      if (!pieces.isNullAt(i))
        m.put(pieces.getUTF8String(i).toString,
          java.lang.Long.valueOf(costs.getLong(i)))
      i += 1
    }
    // small enough that n consecutive unknown-char adds can never wrap
    // best() negative (Long.MaxValue/4 accumulated additively overflowed
    // at 4+ out-of-vocabulary chars — ADVICE r8); 2^40 keeps headroom for
    // words up to ~8M chars while still dominating any real piece cost
    val INF = 1L << 40
    val best = new Array[Long](n + 1)
    val choice = new Array[Int](n + 1)
    var p = 1
    while (p <= n) {
      val c1 = m.get(s.substring(p - 1, p))
      var b = best(p - 1) + (if (c1 == null) INF else c1.longValue)
      var ch = 1
      if (p >= 2) {
        val cb = m.get(s.substring(p - 2, p))
        if (cb != null && best(p - 2) + cb.longValue <= b) {
          b = best(p - 2) + cb.longValue
          ch = 2
        }
      }
      best(p) = b
      choice(p) = ch
      p += 1
    }
    val out = new Array[Any](n) // at most n pieces
    var cnt = 0
    var q = n
    while (q > 0) {
      val k = choice(q)
      out(cnt) = UTF8String.fromString(s.substring(q - k, q))
      cnt += 1
      q -= k
    }
    // reverse into emission order
    val res = new Array[Any](cnt)
    var r = 0
    while (r < cnt) { res(r) = out(cnt - 1 - r); r += 1 }
    new GenericArrayData(res)
  }
}
