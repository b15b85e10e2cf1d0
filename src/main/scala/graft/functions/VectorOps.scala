package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.types.UTF8String

/** Tight-loop kernels behind graft's native expressions. Catalyst's
  * higher-order functions (transform/aggregate/zip_with) are CodegenFallback
  * — interpreted per element — which makes them the bottleneck for
  * vector/sketch math at scale. These run as single JIT'd loops; the
  * expressions in NativeExpressions call them from both eval and codegen.
  */
object VectorOps {

  /** Cosine similarity of two double arrays (sequential accumulation, so
    * results are bit-stable and match a single-threaded oracle).
    */
  def cosine(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      // null elements are treated as absent dimensions (the return type must
      // stay primitive so the codegen call site assigns into a double)
      if (!a.isNullAt(i) && !b.isNullAt(i)) {
        val x = a.getDouble(i); val y = b.getDouble(i)
        dot += x * y; na += x * x; nb += y * y
      }
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** MinHash signature via double hashing (Kirsch-Mitzenmacher): per
    * shingle, TWO XXH64 string hashes (h1, h2) — hash family i is the
    * wrapping combination h1 + i*h2, and the signature keeps the per-family
    * minimum over the shingle set. The r5 kernel hashed every shingle
    * numHashes TIMES (64 full string passes per shingle): at 100 TB the
    * signature pass IS the minhash cost, and the combined family cuts the
    * string-hash work 32x while keeping the collision property
    * Pr[min_i(A) == min_i(B)] ~= J(A,B) that banding needs (the standard
    * construction for multi-hash sketches; h2 is forced odd so families
    * stay distinct mod 2^64). Empty set => Long.MaxValue sentinel (matches
    * TextFunctions.minhashSignature's coalesce).
    */
  def minhashSig(shingles: ArrayData, numHashes: Int): ArrayData = {
    val m = shingles.numElements()
    val sig = Array.fill(numHashes)(Long.MaxValue)
    var j = 0
    while (j < m) {
      val s = if (shingles.isNullAt(j)) null else shingles.getUTF8String(j)
      if (s == null) { j += 1 } else {
      val base = s.getBaseObject; val off = s.getBaseOffset; val len = s.numBytes
      val h1 = XXH64.hashUnsafeBytes(base, off, len, 0L)
      val h2 = XXH64.hashUnsafeBytes(base, off, len, 0x9E3779B97F4A7C15L) | 1L
      var i = 0
      var h = h1
      while (i < numHashes) {
        if (h < sig(i)) sig(i) = h
        h += h2
        i += 1
      }
      j += 1
      }
    }
    new GenericArrayData(sig)
  }

  /** 64-bit SimHash from pre-hashed tokens: majority vote per bit. */
  def simhash64(tokenHashes: ArrayData): Long = {
    val n = tokenHashes.numElements()
    val votes = new Array[Int](64)
    var j = 0
    var nonNull = 0
    while (j < n) {
      if (tokenHashes.isNullAt(j)) { j += 1 }
      else {
      nonNull += 1
      val h = tokenHashes.getLong(j)
      var i = 0
      while (i < 64) {
        if (((h >>> i) & 1L) == 1L) votes(i) += 1
        i += 1
      }
      j += 1
      }
    }
    var out = 0L
    var i = 0
    while (i < 64) {
      if (votes(i) * 2 > nonNull) out |= (1L << i)
      i += 1
    }
    out
  }

  /** Deterministic hyperplane-LSH bucket: sign bits of numPlanes ±1-weight
    * projections; weights derived from XXH64(plane*65536+dim) — stateless,
    * identical on every executor.
    */
  def hyperplaneSig(vec: ArrayData, numPlanes: Int): Long = {
    val rows = planeWeights(numPlanes, 1, vec.numElements())
    if (rows != null) sigForTableCached(vec, numPlanes, 0, rows)
    else sigForTable(vec, numPlanes, 0L)
  }

  /** Materialized +-1 weight rows for the XXH64-derived hyperplane family:
    * row (table, plane) holds w(d) = sign of XXH64.hashLong(p*65536+d, t)
    * for d < dim — EXACTLY the per-element derivation sigForTable used to
    * run inline, which cost planes x tables x dim hashLong calls PER ROW
    * (x_dedup_embedding's 25-table/18-plane schedule: ~29k hashes per
    * vector, an order of magnitude over the projection's own mult-adds).
    * Keyed by (planes, tables, dim); a handful of configs exist per JVM,
    * and the cap routes pathological config churn to the legacy inline
    * path rather than growing the map unboundedly. Weights are seed-pure,
    * so cache hits are bit-identical to the inline derivation on every
    * executor.
    */
  private val planeWeightCache =
    new java.util.concurrent.ConcurrentHashMap[Long, Array[Array[Double]]]()
  private final val PlaneWeightCacheCap = 64

  private def planeWeights(numPlanes: Int, numTables: Int,
      dim: Int): Array[Array[Double]] = {
    val key = (numPlanes.toLong * 131071 + numTables) * 1048573 + dim
    val cached = planeWeightCache.get(key)
    if (cached != null) return cached
    if (planeWeightCache.size >= PlaneWeightCacheCap) return null
    val w = new Array[Array[Double]](numTables * numPlanes)
    var t = 0
    while (t < numTables) {
      var p = 0
      while (p < numPlanes) {
        val row = new Array[Double](dim)
        var d = 0
        while (d < dim) {
          row(d) =
            if ((XXH64.hashLong(p.toLong * 65536 + d, t.toLong) & 8L) == 8L) 1.0
            else -1.0
          d += 1
        }
        w(t * numPlanes + p) = row
        p += 1
      }
      t += 1
    }
    planeWeightCache.putIfAbsent(key, w)
    w
  }

  /** One table's signature from cached weight rows (rows = the full
    * (tables x planes) matrix; table selects its stripe). Bit-identical
    * to the inline-hash path: same weights, same ascending-d accumulation.
    */
  private def sigForTableCached(vec: ArrayData, numPlanes: Int, table: Int,
      rows: Array[Array[Double]]): Long = {
    val n = vec.numElements()
    var sig = 0L
    var p = 0
    while (p < numPlanes) {
      val w = rows(table * numPlanes + p)
      var proj = 0.0
      var d = 0
      while (d < n) {
        if (!vec.isNullAt(d)) proj += vec.getDouble(d) * w(d)
        d += 1
      }
      if (proj > 0) sig |= (1L << p)
      p += 1
    }
    sig
  }

  /** One table's signature: sign bits of numPlanes projections whose
    * +-1 weights come from XXH64(plane*65536+dim, table). Shared by the
    * single-signature and OR-amplified variants.
    */
  private def sigForTable(vec: ArrayData, numPlanes: Int, table: Long): Long = {
    val n = vec.numElements()
    var sig = 0L
    var p = 0
    while (p < numPlanes) {
      var proj = 0.0
      var d = 0
      while (d < n) {
        if (!vec.isNullAt(d)) {
          val w = if ((XXH64.hashLong(p.toLong * 65536 + d, table) & 8L) == 8L) 1.0 else -1.0
          proj += vec.getDouble(d) * w
        }
        d += 1
      }
      if (proj > 0) sig |= (1L << p)
      p += 1
    }
    sig
  }

  /** Index (0-based) of the centroid with the highest cosine similarity to
    * `vec`; ties break to the lowest index. Centroids arrive as an
    * array<array<double>> literal, so the k-means assignment step is a
    * narrow per-row projection — no replication of the corpus, no shuffle
    * (the fix for the crossJoin+window argmin the round-1 review flagged:
    * that plan exchanged the whole corpus once per Lloyd's iteration).
    */
  def nearestCentroid(vec: ArrayData, centroids: ArrayData): Int = {
    val m = centroids.numElements()
    var best = -1
    var bestSim = Double.NegativeInfinity
    var c = 0
    while (c < m) {
      if (!centroids.isNullAt(c)) {
        val sim = cosine(vec, centroids.getArray(c))
        if (sim > bestSim) { bestSim = sim; best = c }
      }
      c += 1
    }
    best
  }

  /** numTables independent hyperplane-LSH signatures (OR-amplification):
    * signature t draws its ±1 plane weights from XXH64 seeded by t, so
    * element 0 is bit-identical to hyperplaneSig (seed 0). Candidate
    * generation ORs over the tables — at cosine 0.95 a single 8-plane
    * signature collides with probability ~0.4; eight OR'd tables push
    * recall past 0.98 while each bucket join stays shuffle-linear.
    */
  def hyperplaneSigs(vec: ArrayData, numPlanes: Int, numTables: Int): ArrayData = {
    val sigs = new Array[Long](numTables)
    val rows = planeWeights(numPlanes, numTables, vec.numElements())
    var t = 0
    while (t < numTables) {
      sigs(t) =
        if (rows != null) sigForTableCached(vec, numPlanes, t, rows)
        else sigForTable(vec, numPlanes, t.toLong)
      t += 1
    }
    new GenericArrayData(sigs)
  }

  /** Multi-probe LSH probe set (Lv et al., VLDB'07): per table, the base
    * signature plus the (nProbes-1) CHEAPEST sign perturbations, where
    * flipping a set of planes costs the sum of their |projection| margins —
    * the planes whose sign decision was closest to the boundary are the
    * ones a true near neighbor most likely landed on the other side of.
    * Perturbation sets are enumerated cheapest-first with the shift/expand
    * successor heap over margin-ascending plane ranks (each set generated
    * exactly once; successors never cost less than their parent).
    *
    * Why it matters at scale: recall that OR-amplification buys with MORE
    * TABLES, multi-probe buys with more lookups into the SAME table — the
    * corpus-side cost (tables x hashes per vector, tables x index copies
    * for a persisted index) drops by the table ratio while only the
    * driver-small query side fans out. lshTopK with (T=2, probes=4)
    * matches the recall of (T=8, probes=1) at a quarter of the corpus
    * hashing/explode work (measured in LshScheduleSpec).
    *
    * Layout: table-major — element t*nProbes+j is table t's j-th probe;
    * j=0 is the base signature, bit-identical to hyperplaneSigs' element t.
    * If nProbes exceeds the 2^numPlanes-1 possible perturbations the tail
    * repeats the base signature (harmless duplicate lookups).
    */
  def hyperplaneProbes(vec: ArrayData, numPlanes: Int, numTables: Int,
      nProbes: Int): ArrayData = {
    val out = new Array[Long](numTables * nProbes)
    val n = vec.numElements()
    val proj = new Array[Double](numPlanes)
    val rows = planeWeights(numPlanes, numTables, n)
    var t = 0
    while (t < numTables) {
      // projections + signature for this table (same weights as sigForTable)
      var sig = 0L
      var p = 0
      while (p < numPlanes) {
        var pr = 0.0
        var d = 0
        if (rows != null) {
          val w = rows(t * numPlanes + p)
          while (d < n) {
            if (!vec.isNullAt(d)) pr += vec.getDouble(d) * w(d)
            d += 1
          }
        } else while (d < n) {
          if (!vec.isNullAt(d)) {
            val w = if ((XXH64.hashLong(p.toLong * 65536 + d, t.toLong) & 8L) == 8L) 1.0 else -1.0
            pr += vec.getDouble(d) * w
          }
          d += 1
        }
        proj(p) = pr
        if (pr > 0) sig |= (1L << p)
        p += 1
      }
      out(t * nProbes) = sig
      if (nProbes > 1) {
        // plane indices in ascending |margin| order (insertion sort — ≤63)
        val order = new Array[Int](numPlanes)
        var i = 0
        while (i < numPlanes) { order(i) = i; i += 1 }
        i = 1
        while (i < numPlanes) {
          val v = order(i); val mv = math.abs(proj(v))
          var j = i - 1
          while (j >= 0 && math.abs(proj(order(j))) > mv) {
            order(j + 1) = order(j); j -= 1
          }
          order(j + 1) = v
          i += 1
        }
        val margin = new Array[Double](numPlanes)
        i = 0
        while (i < numPlanes) { margin(i) = math.abs(proj(order(i))); i += 1 }
        // cheapest-first enumeration: sets over RANKS as a Long bitmask;
        // successors of a set whose max rank is m: shift (m -> m+1) and
        // expand (add m+1)
        // heap entries: {costBits (raw double bits — cost is finite
        // non-negative, safe to round-trip), rank-set bitmask, max rank}
        val heap = new java.util.PriorityQueue[Array[Long]](
          (a: Array[Long], b: Array[Long]) => java.lang.Double.compare(
            java.lang.Double.longBitsToDouble(a(0)),
            java.lang.Double.longBitsToDouble(b(0))))
        heap.add(Array(java.lang.Double.doubleToRawLongBits(margin(0)), 1L, 0L))
        var emitted = 1
        while (emitted < nProbes && !heap.isEmpty) {
          val top = heap.poll()
          val cost = java.lang.Double.longBitsToDouble(top(0))
          val set = top(1)
          val maxRank = top(2).toInt
          var probe = sig
          var s = set
          var r = 0
          while (s != 0L) {
            if ((s & 1L) != 0L) probe ^= (1L << order(r))
            s >>>= 1; r += 1
          }
          out(t * nProbes + emitted) = probe
          emitted += 1
          if (maxRank + 1 < numPlanes) {
            heap.add(Array(java.lang.Double.doubleToRawLongBits(
              cost - margin(maxRank) + margin(maxRank + 1)),
              (set ^ (1L << maxRank)) | (1L << (maxRank + 1)),
              (maxRank + 1).toLong))
            heap.add(Array(java.lang.Double.doubleToRawLongBits(
              cost + margin(maxRank + 1)),
              set | (1L << (maxRank + 1)),
              (maxRank + 1).toLong))
          }
        }
        while (emitted < nProbes) { out(t * nProbes + emitted) = sig; emitted += 1 }
      }
      t += 1
    }
    new GenericArrayData(out)
  }

  /** Plain-array cosine (for RDD-side k-means partials; same math as the
    * ArrayData overload).
    */
  def cosineArr(a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i)
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Max-cosine centroid index given precomputed INVERSE centroid norms
    * (0.0 for a zero-norm centroid — every such candidate scores 0, the
    * cosineArr convention). The fit-loop hot path: cosineArr recomputes
    * both vector norms per pair (6 flops/dim); for an argmax over a fixed
    * query the query norm is order-preserving and the centroid norms are
    * iteration constants, so only the dot product remains (2 flops/dim —
    * measured ~2.5x on the Lloyd kernel). Ties -> lowest index, same
    * strict-> scan as nearestCentroidArr; ranking can differ from it only
    * by final-ulp rounding on near-exact ties.
    */
  def nearestCentroidDotArr(vec: Array[Double],
      centroids: Array[Array[Double]], invNorms: Array[Double]): Int = {
    var best = -1
    var bestSim = Double.NegativeInfinity
    var c = 0
    while (c < centroids.length) {
      val r = centroids(c)
      val n = math.min(vec.length, r.length)
      var dot = 0.0
      var d = 0
      while (d < n) { dot += vec(d) * r(d); d += 1 }
      val sim = dot * invNorms(c)
      if (sim > bestSim) { bestSim = sim; best = c }
      c += 1
    }
    best
  }

  /** Batched exact top-2 max-cosine centroids for a BLOCK of query rows:
    * the centroid-major loop loads each codebook row once per block of m
    * queries instead of once per query, amortizing the 2 MB codebook's
    * cache traffic m-fold — the per-row kernel is L3-bandwidth-bound at
    * nlist 4096 (NOTES round 9: ~220 us/row per-row pruned vs ~145 batched,
    * identical assignments). Math is BIT-IDENTICAL to nearest2Centroids'
    * clean fast path: same ascending-dimension single-accumulator dot,
    * same dot/(sqrt(na)*norm) expression, same strict-> tie scan in
    * ascending centroid order, zero norms score 0.0, a 1-centroid
    * codebook repeats the winner. Results land in best/second (parallel
    * to vs); norms are the PLAIN L2 norms (not inverses — an inverse
    * multiply would change final ulps vs the division the per-row path
    * does). Rows whose length differs from dim must be routed through
    * nearest2Centroids by the caller; this kernel assumes uniform dim.
    */
  def nearest2CentroidsBatch(vs: Array[Array[Double]], m: Int,
      cb: Array[Array[Double]], norms: Array[Double],
      best: Array[Int], second: Array[Int]): Unit = {
    val nlist = cb.length
    val dim = if (nlist > 0) cb(0).length else 0
    val bestSim = new Array[Double](m)
    val secondSim = new Array[Double](m)
    val qn = new Array[Double](m)
    var b = 0
    while (b < m) {
      best(b) = -1; bestSim(b) = Double.NegativeInfinity
      second(b) = -1; secondSim(b) = Double.NegativeInfinity
      val v = vs(b)
      var s = 0.0
      var d = 0
      while (d < v.length) { s += v(d) * v(d); d += 1 }
      qn(b) = math.sqrt(s)
      b += 1
    }
    var c = 0
    while (c < nlist) {
      val r = cb(c)
      val nc = norms(c)
      b = 0
      while (b < m) {
        val v = vs(b)
        var dot = 0.0
        var d = 0
        while (d < dim) { dot += v(d) * r(d); d += 1 }
        val sim = if (qn(b) == 0.0 || nc == 0.0) 0.0
          else dot / (qn(b) * nc)
        if (sim > bestSim(b)) {
          secondSim(b) = bestSim(b); second(b) = best(b)
          bestSim(b) = sim; best(b) = c
        } else if (sim > secondSim(b)) { secondSim(b) = sim; second(b) = c }
        b += 1
      }
      c += 1
    }
    b = 0
    while (b < m) {
      if (second(b) < 0) second(b) = best(b)
      b += 1
    }
  }

  /** L2 norms of the codebook rows (companion to nearest2CentroidsBatch). */
  def l2Norms(rows: Array[Array[Double]]): Array[Double] =
    rows.map { r =>
      var nn = 0.0
      var d = 0
      while (d < r.length) { nn += r(d) * r(d); d += 1 }
      math.sqrt(nn)
    }

  /** Inverse L2 norms for nearestCentroidDotArr (0.0 marks a zero-norm
    * row so its cosine scores 0 rather than +/-inf). */
  def inverseNorms(rows: Array[Array[Double]]): Array[Double] =
    rows.map { r =>
      var nn = 0.0
      var d = 0
      while (d < r.length) { nn += r(d) * r(d); d += 1 }
      if (nn == 0.0) 0.0 else 1.0 / math.sqrt(nn)
    }

  /** Plain-array nearest centroid (ties -> lowest index), matching the
    * ArrayData overload bit-for-bit.
    */
  def nearestCentroidArr(vec: Array[Double], centroids: Array[Array[Double]]): Int = {
    var best = -1
    var bestSim = Double.NegativeInfinity
    var c = 0
    while (c < centroids.length) {
      val sim = cosineArr(vec, centroids(c))
      if (sim > bestSim) { bestSim = sim; best = c }
      c += 1
    }
    best
  }

  /** Squared L2 distance (missing/null dims contribute 0 — same absent-
    * dimension convention as cosine above).
    */
  def sqDist(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i)) {
        val d = a.getDouble(i) - b.getDouble(i)
        acc += d * d
      }
      i += 1
    }
    acc
  }

  def sqDistArr(a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var acc = 0.0
    var i = 0
    while (i < n) { val d = a(i) - b(i); acc += d * d; i += 1 }
    acc
  }

  /** Index of the min-squared-L2 centroid (ties -> lowest index) — the
    * assignment metric PQ codebooks use (Jégou TPAMI'11 / FAISS fit each
    * subspace's k-means in L2): cosine assignment would discard subvector
    * MAGNITUDE, merging codes for subvectors that differ only in norm and
    * leaving the ADC reconstruction error unbounded when energy varies
    * across subspaces. Cosine remains the final full-vector search metric;
    * only the per-subspace quantizer is Euclidean.
    */
  def nearestCentroidL2(vec: ArrayData, centroids: ArrayData): Int = {
    val m = centroids.numElements()
    var best = -1
    var bestDist = Double.PositiveInfinity
    var c = 0
    while (c < m) {
      if (!centroids.isNullAt(c)) {
        val d = sqDist(vec, centroids.getArray(c))
        if (d < bestDist) { bestDist = d; best = c }
      }
      c += 1
    }
    best
  }

  /** Indices of the TWO max-cosine centroids, best first (ties -> lowest
    * index; a 1-centroid codebook repeats the winner). Multi-assignment is
    * the boundary fix for cluster-bucketed semantic dedup (SemDeDup,
    * Abbas et al. arXiv:2303.09540 §B notes near-dups straddling a k-means
    * face are invisible to a single-cluster pass): a pair split by the
    * Voronoi boundary still meets if EITHER point's runner-up list reaches
    * across it, at exactly 2x the bucket-join work — the same cost shape
    * as IVF's nprobe on the query side.
    */
  def nearest2Centroids(vec: ArrayData, centroids: ArrayData): ArrayData = {
    val cm = centroidMatrix(centroids)
    if (cm != null && cm.clean) {
      // Fast path: the centroid literal is one ArrayData instance reused
      // for EVERY row (a folded typedlit), so the matrix is converted to
      // primitive arrays once per executor, not once per row, and the
      // query vector's norm is hoisted out of the per-centroid loop —
      // together ~3x on the n x nlist assignment pass that dominates
      // semantic dedup at large n (NOTES round 9, 100x ScaleCheck corpus).
      // Bit-identical to the general path on clean input: same ascending
      // accumulation order, same dot/(sqrt(na)*sqrt(nb)) expression.
      val len = vec.numElements()
      var hasNull = false
      var i = 0
      while (i < len && !hasNull) { hasNull = vec.isNullAt(i); i += 1 }
      if (!hasNull && len == cm.dim) {
        val v = vec.toDoubleArray()
        var na = 0.0
        i = 0
        while (i < len) { val x = v(i); na += x * x; i += 1 }
        val sqNa = math.sqrt(na)
        if (na > 0.0 && cm.coarse != null)
          return nearest2Pruned(v, sqNa, cm)
        val rows = cm.rows
        var best = -1; var bestSim = Double.NegativeInfinity
        var second = -1; var secondSim = Double.NegativeInfinity
        var c = 0
        while (c < rows.length) {
          val r = rows(c)
          var dot = 0.0
          var d = 0
          while (d < len) { dot += v(d) * r(d); d += 1 }
          val sim =
            if (na == 0.0 || cm.norms(c) == 0.0) 0.0
            else dot / (sqNa * cm.norms(c))
          if (sim > bestSim) {
            secondSim = bestSim; second = best
            bestSim = sim; best = c
          } else if (sim > secondSim) { secondSim = sim; second = c }
          c += 1
        }
        if (second < 0) second = best
        return new GenericArrayData(Array(best, second))
      }
    }
    nearest2CentroidsGeneral(vec, centroids)
  }

  /** Exact top-2 via angular pruning over the coarse index (built once per
    * centroid literal in centroidMatrix). The reverse triangle inequality
    * on the sphere — angle(v,c) >= |angle(v,g) - angle(c,g)| for any group
    * center g — upper-bounds every member's cosine from ONE dot product
    * with its group center, so most of the n x nlist kernel work is
    * skipped once two good candidates are in hand. Pruning is by STRICT
    * comparison against the running second-best angle (with a 1e-6 rad
    * slack absorbing acos round-off), so the result is EXACTLY the
    * brute-force top-2 under the (sim desc, index asc) order — the same
    * ranking the ascending brute scan with strict `>` produces.
    */
  private def nearest2Pruned(v: Array[Double], sqNa: Double,
      cm: CentroidMatrix): ArrayData = {
    val ci = cm.coarse
    val g = ci.centers.length
    val len = v.length
    val eps = 1e-6
    // angle from v to every group center (centers are unit vectors)
    val tv = new Array[Double](g)
    var gi = 0
    while (gi < g) {
      val cen = ci.centers(gi)
      var dot = 0.0
      var d = 0
      while (d < len) { dot += v(d) * cen(d); d += 1 }
      var cosv = dot / sqNa
      if (cosv > 1.0) cosv = 1.0 else if (cosv < -1.0) cosv = -1.0
      tv(gi) = math.acos(cosv)
      gi += 1
    }
    // visit groups by ascending angular distance to their member-angle
    // band: the most promising group first, so the second-best angle
    // tightens immediately and later groups prune wholesale
    val prio = new Array[Double](g)
    val order = new Array[Int](g)
    gi = 0
    while (gi < g) {
      var p = tv(gi) - ci.maxAngle(gi)
      val q = ci.minAngle(gi) - tv(gi)
      if (q > p) p = q
      if (p < 0.0) p = 0.0
      prio(gi) = p
      order(gi) = gi
      gi += 1
    }
    // insertion sort on (prio, index): G ~ sqrt(nlist), tiny
    var a = 1
    while (a < g) {
      val o = order(a); val pk = prio(o)
      var b = a - 1
      while (b >= 0 && (prio(order(b)) > pk ||
        (prio(order(b)) == pk && order(b) > o))) {
        order(b + 1) = order(b); b -= 1
      }
      order(b + 1) = o
      a += 1
    }
    var best = -1; var bestSim = Double.NegativeInfinity
    var second = -1; var secondSim = Double.NegativeInfinity
    // second-best as an ANGLE so member pruning needs no cos() per skip
    var secondAngle = Double.PositiveInfinity
    def offer(idx: Int, sim: Double): Unit = {
      if (sim > bestSim || (sim == bestSim && idx < best)) {
        secondSim = bestSim; second = best
        bestSim = sim; best = idx
      } else if (sim > secondSim || (sim == secondSim && idx < second)) {
        secondSim = sim; second = idx
      } else return
      if (second >= 0)
        secondAngle =
          if (secondSim >= 1.0) 0.0
          else if (secondSim <= -1.0) math.Pi
          else math.acos(secondSim)
    }
    // zero-norm centroids score exactly 0 (the brute convention)
    var z = 0
    while (z < ci.zeroNorm.length) { offer(ci.zeroNorm(z), 0.0); z += 1 }
    val rows = cm.rows
    var oi = 0
    var done = false
    while (oi < g && !done) {
      val cg = order(oi)
      if (second >= 0 && prio(cg) - eps > secondAngle) done = true // groups sorted: all later ones prune too
      else {
        val mem = ci.members(cg)
        val ang = ci.angles(cg)
        val t = tv(cg)
        var j = 0
        while (j < mem.length) {
          var dist = t - ang(j)
          if (dist < 0.0) dist = -dist
          if (second < 0 || dist - eps <= secondAngle) {
            val c = mem(j)
            val r = rows(c)
            var dot = 0.0
            var d = 0
            while (d < len) { dot += v(d) * r(d); d += 1 }
            offer(c, dot / (sqNa * cm.norms(c)))
          }
          j += 1
        }
      }
      oi += 1
    }
    if (second < 0) second = best
    new GenericArrayData(Array(best, second))
  }

  private def nearest2CentroidsGeneral(vec: ArrayData, centroids: ArrayData): ArrayData = {
    val m = centroids.numElements()
    var best = -1; var bestSim = Double.NegativeInfinity
    var second = -1; var secondSim = Double.NegativeInfinity
    var c = 0
    while (c < m) {
      if (!centroids.isNullAt(c)) {
        val sim = cosine(vec, centroids.getArray(c))
        if (sim > bestSim) {
          secondSim = bestSim; second = best
          bestSim = sim; best = c
        } else if (sim > secondSim) { secondSim = sim; second = c }
      }
      c += 1
    }
    if (second < 0) second = best
    new GenericArrayData(Array(best, second))
  }

  /** Memoized primitive conversion of a centroid-matrix literal. `clean`
    * means: no null rows, no null elements, uniform dimension — the fast
    * path's preconditions (null elements carry "absent dimension"
    * semantics the hoisted-norm loop can't honor; mixed dims make the
    * query norm centroid-dependent). The cache is THREAD-LOCAL, single
    * entry per task thread: each Spark task deserializes its own literal
    * instance, so under local[32] a process-wide identity cache ping-
    * pongs between 32 concurrent instances and rebuilds per call (the
    * r9 regression that surfaced when the build got a coarse index —
    * 82s at the 100x corpus). Thread confinement makes the unit of reuse
    * match the unit of literal identity (one task = one instance = one
    * partition of rows), removes all shared mutable state (no race by
    * construction), and bounds rebuilds at one per task. The per-thread
    * miss-streak counter still turns the cache off when the argument is
    * not a reused literal (a genuinely per-row centroid column): past the
    * bound, calls fall back to the general path instead of paying an
    * O(nlist*dim) conversion per row.
    */
  private final class CentroidMatrix(val key: ArrayData,
      val rows: Array[Array[Double]],
      val norms: Array[Double], val dim: Int, val clean: Boolean,
      val coarse: CoarseIndex)

  /** Angular coarse index over a large centroid codebook: the codebook's
    * own spherical k-means into ~sqrt(nlist) groups, with each member's
    * exact angle to its (unit) group center. Built once per literal at
    * cache-build time (~sqrt-factor more work than ONE row's brute
    * assignment), it turns the per-row n x nlist scan into G center dots
    * plus a mostly-pruned member walk — the index powering
    * nearest2Pruned's exact reverse-triangle bound. Group QUALITY only
    * affects pruning efficiency, never correctness: bounds are computed
    * from the actual member angles, whatever the partition.
    */
  private final class CoarseIndex(val centers: Array[Array[Double]],
      val members: Array[Array[Int]], val angles: Array[Array[Double]],
      val minAngle: Array[Double], val maxAngle: Array[Double],
      val zeroNorm: Array[Int])

  /** Below this codebook size brute force wins (the coarse walk has fixed
    * overhead per row); above it the pruned path takes over. */
  private final val CoarseMinCentroids = 192

  private def buildCoarse(rows: Array[Array[Double]], norms: Array[Double],
      dim: Int): CoarseIndex = {
    val m = rows.length
    val nzIdx = (0 until m).filter(norms(_) > 0.0).toArray
    val zero = (0 until m).filter(norms(_) == 0.0).toArray
    if (nzIdx.length < 8) return null
    val nz = nzIdx.length
    val unit = new Array[Array[Double]](nz)
    var i = 0
    while (i < nz) {
      val c = nzIdx(i); val r = rows(c); val u = new Array[Double](dim)
      val inv = 1.0 / norms(c)
      var d = 0
      while (d < dim) { u(d) = r(d) * inv; d += 1 }
      unit(i) = u; i += 1
    }
    val g = math.max(2, math.min(nz / 4, math.ceil(math.sqrt(nz)).toInt))
    // deterministic init (evenly strided members), 3 Lloyd sweeps + a
    // final assignment — all driver/executor-local primitive arrays
    val centers = Array.tabulate(g)(k => unit(k.toLong.toInt * nz / g).clone())
    val assign = new Array[Int](nz)
    def assignAll(): Unit = {
      var i2 = 0
      while (i2 < nz) {
        val u = unit(i2)
        var bi = 0; var bd = Double.NegativeInfinity
        var k = 0
        while (k < g) {
          val cen = centers(k)
          var dot = 0.0; var d = 0
          while (d < dim) { dot += u(d) * cen(d); d += 1 }
          if (dot > bd) { bd = dot; bi = k }
          k += 1
        }
        assign(i2) = bi
        i2 += 1
      }
    }
    var iter = 0
    while (iter < 3) {
      assignAll()
      val sums = Array.fill(g)(new Array[Double](dim))
      val cnt = new Array[Int](g)
      i = 0
      while (i < nz) {
        val s = sums(assign(i)); val u = unit(i)
        var d = 0
        while (d < dim) { s(d) += u(d); d += 1 }
        cnt(assign(i)) += 1
        i += 1
      }
      var k = 0
      while (k < g) {
        if (cnt(k) > 0) {
          var nn = 0.0; var d = 0
          while (d < dim) { val x = sums(k)(d); nn += x * x; d += 1 }
          if (nn > 0.0) {
            val inv = 1.0 / math.sqrt(nn)
            d = 0
            while (d < dim) { sums(k)(d) *= inv; d += 1 }
            centers(k) = sums(k)
          }
        }
        k += 1
      }
      iter += 1
    }
    assignAll()
    val lists = Array.fill(g)(scala.collection.mutable.ArrayBuffer.empty[Int])
    i = 0
    while (i < nz) { lists(assign(i)) += i; i += 1 }
    val members = new Array[Array[Int]](g)
    val angles = new Array[Array[Double]](g)
    val minA = new Array[Double](g)
    val maxA = new Array[Double](g)
    var k = 0
    while (k < g) {
      val l = lists(k)
      val mem = new Array[Int](l.length)
      val ang = new Array[Double](l.length)
      var lo = Double.PositiveInfinity
      var hi = Double.NegativeInfinity
      var j = 0
      while (j < l.length) {
        val ui = l(j)
        val u = unit(ui); val cen = centers(k)
        var dot = 0.0; var d = 0
        while (d < dim) { dot += u(d) * cen(d); d += 1 }
        if (dot > 1.0) dot = 1.0 else if (dot < -1.0) dot = -1.0
        val a = math.acos(dot)
        mem(j) = nzIdx(ui) // original codebook index, ascending within group
        ang(j) = a
        if (a < lo) lo = a
        if (a > hi) hi = a
        j += 1
      }
      members(k) = mem; angles(k) = ang
      minA(k) = lo; maxA(k) = hi // empty group: +inf/-inf => always pruned
      k += 1
    }
    new CoarseIndex(centers, members, angles, minA, maxA, zero)
  }
  private final class N2cSlot {
    var cm: CentroidMatrix = null
    var misses: Int = 0
  }
  private val n2cSlot = new ThreadLocal[N2cSlot] {
    override def initialValue(): N2cSlot = new N2cSlot
  }
  private final val N2cMissBail = 64

  /** Returns null when the access pattern defeated the cache (see above)
    * — callers must then use the general per-row path.
    */
  private def centroidMatrix(c: ArrayData): CentroidMatrix = {
    val slot = n2cSlot.get()
    val cached = slot.cm
    if (cached != null && (cached.key eq c)) {
      // Literal is stable again: re-arm the streak counter
      if (slot.misses != 0) slot.misses = 0
      return cached
    }
    if (slot.misses >= N2cMissBail) return null
    slot.misses += 1
    val m = c.numElements()
    val rows = new Array[Array[Double]](m)
    val norms = new Array[Double](m)
    var clean = m > 0
    var dim = -1
    var i = 0
    while (i < m && clean) {
      if (c.isNullAt(i)) clean = false
      else {
        val r = c.getArray(i)
        val len = r.numElements()
        if (dim < 0) dim = len
        if (len != dim) clean = false
        else {
          var j = 0
          while (j < len && clean) { clean = !r.isNullAt(j); j += 1 }
          if (clean) {
            val arr = r.toDoubleArray()
            rows(i) = arr
            var nb = 0.0
            j = 0
            while (j < len) { val x = arr(j); nb += x * x; j += 1 }
            norms(i) = math.sqrt(nb)
          }
        }
      }
      i += 1
    }
    val coarse =
      if (clean && m >= CoarseMinCentroids) buildCoarse(rows, norms, dim)
      else null
    val res = new CentroidMatrix(c, rows, norms, dim, clean, coarse)
    slot.cm = res
    res
  }

  /** Plain-array twin of nearestCentroidL2 (RDD-side k-means partials). */
  def nearestCentroidL2Arr(vec: Array[Double], centroids: Array[Array[Double]]): Int = {
    var best = -1
    var bestDist = Double.PositiveInfinity
    var c = 0
    while (c < centroids.length) {
      val d = sqDistArr(vec, centroids(c))
      if (d < bestDist) { bestDist = d; best = c }
      c += 1
    }
    best
  }

  /** Deterministic Johnson-Lindenstrauss random projection to outDim
    * dimensions: +-1/sqrt(outDim) weights drawn from XXH64(j*65536+d, 7777)
    * — stateless, identical on every executor, no fitted model to ship.
    * Pairwise cosines/distances are preserved within the JL distortion
    * bound, which the x_dim_reduce query measures in-row.
    */
  private val jlWeightCache =
    new java.util.concurrent.ConcurrentHashMap[Long, Array[Array[Double]]]()

  def project(vec: ArrayData, outDim: Int): ArrayData = {
    val n = vec.numElements()
    val out = new Array[Double](outDim)
    val scale = 1.0 / math.sqrt(outDim)
    // same materialize-once treatment as planeWeights (seed 7777 family)
    val key = outDim.toLong * 1048573 + n
    var rows = jlWeightCache.get(key)
    if (rows == null && jlWeightCache.size < PlaneWeightCacheCap) {
      rows = Array.tabulate(outDim) { j =>
        Array.tabulate(n) { d =>
          if ((XXH64.hashLong(j.toLong * 65536 + d, 7777L) & 8L) == 8L) 1.0
          else -1.0
        }
      }
      jlWeightCache.putIfAbsent(key, rows)
    }
    var j = 0
    while (j < outDim) {
      var acc = 0.0
      var d = 0
      if (rows != null) {
        val w = rows(j)
        while (d < n) {
          if (!vec.isNullAt(d)) acc += vec.getDouble(d) * w(d)
          d += 1
        }
      } else while (d < n) {
        if (!vec.isNullAt(d)) {
          val w = if ((XXH64.hashLong(j.toLong * 65536 + d, 7777L) & 8L) == 8L) 1.0 else -1.0
          acc += vec.getDouble(d) * w
        }
        d += 1
      }
      out(j) = acc * scale
      j += 1
    }
    new GenericArrayData(out)
  }

  private val ShingleSep = UTF8String.fromString(" ")

  /** Distinct word k-shingles from a token array. Short docs (< k tokens)
    * yield the whole text as one shingle — mirrors
    * TextFunctions.shingles' guard branch.
    */
  /** Intersection size of two ascending-sorted long arrays — one merge
    * pass, zero allocation (the graft_sorted_intersect kernel).
    */
  def sortedIntersectCount(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements(); val nb = b.numElements()
    var i = 0; var j = 0; var n = 0
    while (i < na && j < nb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { n += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    n
  }

  def shingleSet(tokens: ArrayData, k: Int): ArrayData = {
    val n = tokens.numElements()
    val toks = new Array[UTF8String](n)
    var i = 0
    while (i < n) {
      toks(i) = if (tokens.isNullAt(i)) UTF8String.EMPTY_UTF8 else tokens.getUTF8String(i)
      i += 1
    }
    val seen = new java.util.LinkedHashSet[UTF8String]()
    if (n < k) {
      seen.add(UTF8String.concatWs(ShingleSep, toks: _*))
    } else {
      i = 0
      val window = new Array[UTF8String](k)
      while (i <= n - k) {
        var j = 0
        while (j < k) { window(j) = toks(i + j); j += 1 }
        seen.add(UTF8String.concatWs(ShingleSep, window: _*))
        i += 1
      }
    }
    new GenericArrayData(seen.toArray.asInstanceOf[Array[AnyRef]])
  }
}
