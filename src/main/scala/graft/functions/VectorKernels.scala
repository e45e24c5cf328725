package graft.functions

import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

/** Vector kernels operating directly on Catalyst ArrayData so the
  * generated code runs one fused loop per row — no per-element
  * boxing, no intermediate arrays (vs composing zip_with+aggregate,
  * which materializes a product array per row). */
object VectorKernels {

  /** `x` to 6 decimals as floor(x·1e6 + 0.5)/1e6, not BigDecimal
    * HALF_UP: the pure IEEE chain is what the DuckDB oracle computes,
    * bit-for-bit — the decimal-string rounding could split from it on
    * a half-boundary. */
  def round6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6

  /** Cosine similarity of two equal-length double arrays; 0.0 when
    * either norm is 0. Single pass, index order (bit-for-bit
    * reproducible across engines using the same naive loop). */
  def cosine(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getDouble(i)
      val y = b.getDouble(i)
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Exact quantized squared norm: each element rounds to a
    * 1e-6-unit long, the squares sum in exact integer arithmetic —
    * the merge-order-proof norm the audit lane keys on (identical to
    * the `aggregate(...)` HOF formulation, but one fused compiled
    * loop per row instead of an interpreted per-element lambda). */
  def quantNormSq(a: ArrayData): Long = {
    val n = a.numElements()
    var s = 0L
    var i = 0
    while (i < n) {
      val u = math.floor(a.getDouble(i) * 1e6 + 0.5).toLong
      s += u * u
      i += 1
    }
    s
  }

  /** Fused IVF cell routing: the `nprobe` nearest coarse-quantizer
    * cells of one row's embedding, by the 6-dp-quantized score
    * ‖c‖² − 2·c·x with the cell-id tie-break. TERM-FOR-TERM the
    * literal-centroid struct-array formulation it replaces
    * (`array_sort`/`array_min` over `quantize(lit(Σc²) − 2.0·dot, 6)` structs):
    * the dot accumulates in [[dot]]'s index order, `cc(c)` is the
    * driver-side `c.map(x ⇒ x·x).sum` fold, the quantizer is the same
    * floor(x·1e6 + 0.5)/1e6 IEEE chain, and ordering is (d, b)
    * lexicographic — so buckets, plans and oracles are unchanged. The
    * win is structural: the centroid table rides a PLAN REFERENCE
    * object (serialized once per stage) instead of an O(nlist·dim)
    * literal expression tree, which is what capped nlist at 256 —
    * with this kernel the √n sizing law continues past ~1M vectors
    * (see [[graft.operators.Similarity.adaptiveNlist]]). Scan-stage,
    * zero shuffles, one compiled loop per row. */
  def nearestCells(emb: ArrayData, cc: Array[Double],
      mat: Array[Array[Double]], nprobe: Int): ArrayData = {
    val k = math.min(nprobe, mat.length)
    val keys = new Array[Double](k) // d ascending; ties keep lower b
    val kb = new Array[Int](k)
    var size = 0
    val n = emb.numElements()
    var c = 0
    while (c < mat.length) {
      val m = mat(c)
      val len = math.min(n, m.length)
      var d0 = 0.0; var i = 0
      while (i < len) { d0 += emb.getDouble(i) * m(i); i += 1 }
      val d = round6(cc(c) - 2.0 * d0)
      // Ordering is Spark's nan-safe double compare — the array_sort
      // ordering this kernel replaced: NaN sorts strictly AFTER
      // +Infinity (not tied with it — a genuine +Inf key is reachable
      // via overflow in cc(c) − 2·d0) and NaN == NaN, so a NaN key
      // inserts after its equals like any other. A plain `<` would
      // never displace a NaN incumbent (every comparison false).
      // cells scan in ascending b, so an equal key never displaces
      // (the incumbent's b is smaller) and inserts after its equals
      if (size < k || nanSafeLt(d, keys(size - 1))) {
        var pos = 0
        while (pos < size && !nanSafeLt(d, keys(pos))) pos += 1
        val last = math.min(size, k - 1)
        var j = last
        while (j > pos) { keys(j) = keys(j - 1); kb(j) = kb(j - 1); j -= 1 }
        keys(pos) = d; kb(pos) = c
        if (size < k) size += 1
      }
      c += 1
    }
    new GenericArrayData((0 until size).map(j =>
      new GenericInternalRow(Array[Any](keys(j), kb(j)))).toArray[Any])
  }

  /** `a < b` under Spark SQL's double ordering (NaN greater than
    * everything including +Infinity, NaN equal to NaN) — the
    * ordering `array_sort` applies, kept so the kernel's result is
    * term-for-term the formulation it replaced. */
  private def nanSafeLt(a: Double, b: Double): Boolean =
    if (java.lang.Double.isNaN(a)) false
    else java.lang.Double.isNaN(b) || a < b

  /** Two-level IVF routing — the 10⁸⁺ assignment path (probe the
    * `nprobeSuper` nearest super-cells, argmin over their sub-cells):
    * one compiled pass per row costing O((superK + nprobeSuper·subK)
    * ·dim) dots instead of the flat quantizer's O(superK·subK·dim).
    * Super ranking is EXACTLY [[nearestCells]] (6-dp-quantized
    * ‖c‖²−2·c·x, id tie-break); the sub argmin scans probed supers in
    * ascending id so product-cell ties keep the LOWEST pid (strict
    * nan-safe less-than never displaces an equal incumbent) — the
    * same (d, id)-lexicographic law, replayable in SQL. `subCc`/
    * `subMat` are indexed by product id = super·subK + sub. */
  def twoLevelCell(emb: ArrayData, sCc: Array[Double],
      sMat: Array[Array[Double]], subCc: Array[Double],
      subMat: Array[Array[Double]], subK: Int, nprobeSuper: Int): Int = {
    val ranked = nearestCells(emb, sCc, sMat, nprobeSuper)
    val np = ranked.numElements()
    val supers = new Array[Int](np)
    var j = 0
    while (j < np) { supers(j) = ranked.getStruct(j, 2).getInt(1); j += 1 }
    java.util.Arrays.sort(supers)
    val n = emb.numElements()
    var bestD = 0.0
    var bestPid = -1
    j = 0
    while (j < np) {
      var sub = 0
      while (sub < subK) {
        val pid = supers(j) * subK + sub
        val m = subMat(pid)
        val len = math.min(n, m.length)
        var d0 = 0.0; var i = 0
        while (i < len) { d0 += emb.getDouble(i) * m(i); i += 1 }
        val d = round6(subCc(pid) - 2.0 * d0)
        if (bestPid < 0 || nanSafeLt(d, bestD)) { bestD = d; bestPid = pid }
        sub += 1
      }
      j += 1
    }
    bestPid
  }

  /** Two-level QUERY routing — the probe list of the serving path:
    * the `probeCells` best product cells among the `nprobeSuper`
    * nearest super-cells' subs, in (d, pid)-rank order. TERM-FOR-TERM
    * the driver replay ([[graft.operators.Similarity
    * .twoLevelProbeCells]] — Scala's TotalOrdering sorts NaN after
    * +Inf exactly like [[nanSafeLt]], and the driver's ascending
    * (super, sub) scan with a stable sort keeps the LOWEST pid on
    * ties, as strict-less insertion does here), so a stream routing
    * queries through this kernel probes the SAME cells the batch
    * lane's driver router picks. One compiled pass per row, O((superK
    * + nprobeSuper·subK)·dim) dots. */
  def twoLevelProbeCells(emb: ArrayData, sCc: Array[Double],
      sMat: Array[Array[Double]], subCc: Array[Double],
      subMat: Array[Array[Double]], subK: Int, nprobeSuper: Int,
      probeCells: Int): ArrayData = {
    val ranked = nearestCells(emb, sCc, sMat, nprobeSuper)
    val np = ranked.numElements()
    val supers = new Array[Int](np)
    var j = 0
    while (j < np) { supers(j) = ranked.getStruct(j, 2).getInt(1); j += 1 }
    java.util.Arrays.sort(supers)
    val n = emb.numElements()
    val k = math.min(probeCells, np * subK)
    val keys = new Array[Double](k)
    val kp = new Array[Int](k)
    var size = 0
    j = 0
    while (j < np) {
      var sub = 0
      while (sub < subK) {
        val pid = supers(j) * subK + sub
        val m = subMat(pid)
        val len = math.min(n, m.length)
        var d0 = 0.0; var i = 0
        while (i < len) { d0 += emb.getDouble(i) * m(i); i += 1 }
        val d = round6(subCc(pid) - 2.0 * d0)
        if (size < k || nanSafeLt(d, keys(size - 1))) {
          var pos = 0
          while (pos < size && !nanSafeLt(d, keys(pos))) pos += 1
          val last = math.min(size, k - 1)
          var q = last
          while (q > pos) { keys(q) = keys(q - 1); kp(q) = kp(q - 1); q -= 1 }
          keys(pos) = d; kp(pos) = pid
          if (size < k) size += 1
        }
        sub += 1
      }
      j += 1
    }
    new GenericArrayData((0 until size).map(kp(_): Any).toArray)
  }

  /** Plain dot product (used by the LSH hyperplane signatures). */
  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += a.getDouble(i) * b.getDouble(i); i += 1 }
    s
  }

  /** Packed hyperplane sign signature against a PLAN-REFERENCED
    * plane matrix (bits × dim): bit k set when `dot(emb, planes(k))
    * ≥ 0`. TERM-FOR-TERM the literal formulation it replaces
    * (`Σ when(dot(emb, array(lit…)) >= 0, 1<<k)`): each dot
    * accumulates in [[dot]]'s index order over min(lengths), and the
    * sign test mirrors Spark SQL's nan-safe `>=` (NaN compares
    * greater than everything, so a NaN dot SETS the bit — exactly
    * what `GreaterThanOrEqual`'s nanSafeCompareDoubles codegen did).
    * Bit-OR accumulation equals the integer sum (disjoint powers of
    * two), so signatures, buckets and oracles are unchanged. */
  def hyperplaneSig(emb: ArrayData, planes: Array[Array[Double]]): Int = {
    val n0 = emb.numElements()
    var sig = 0
    var bit = 0
    while (bit < planes.length) {
      val p = planes(bit)
      val n = math.min(n0, p.length)
      var d = 0.0
      var i = 0
      while (i < n) { d += emb.getDouble(i) * p(i); i += 1 }
      if (d >= 0 || java.lang.Double.isNaN(d)) sig |= (1 << bit)
      bit += 1
    }
    sig
  }

  /** Centered matrix-vector product: y_k = Σ_i w(k)(i)·(x_i − μ_i),
    * rows of `w` evaluated left-to-right (deterministic fold). The
    * projection kernel of [[graft.expressions.MatVecExpr]] — the
    * PCA-whitening apply step. */
  def matVec(emb: ArrayData, mu: Array[Double],
      w: Array[Array[Double]]): ArrayData = {
    val n = math.min(emb.numElements(), mu.length)
    val out = new Array[Any](w.length)
    var k = 0
    while (k < w.length) {
      val row = w(k)
      var s = 0.0; var i = 0
      val len = math.min(n, row.length)
      while (i < len) { s += row(i) * (emb.getDouble(i) - mu(i)); i += 1 }
      out(k) = s
      k += 1
    }
    new GenericArrayData(out)
  }

  /** Fused top-k cosine scan of one row's embedding against a
    * plan-referenced corpus matrix (see
    * [[graft.expressions.TopKCosineExpr]]). Semantics are
    * TERM-FOR-TERM those of the join + [[graft.expressions.TopKAgg]]
    * formulation it replaces: the cosine accumulates in the same
    * x*y / x*x / y*y order as [[cosine]], ranking is (cosine floor-quantized
    * to 6dp DESC, id ASC), `selfId` is excluded, and the
    * payload is the unrounded cosine — so the DuckDB oracle is
    * unchanged. The k-slot insertion arrays stay cheap because k is
    * small; the 6dp quantization is only paid by
    * candidates within 1e-6 of the current worst kept key, which a
    * raw-cosine pre-check filters (|round6(x) − x| ≤ 5e-7, so
    * anything further below the worst rounded key cannot enter). */
  def topkCosine(emb: ArrayData, selfId: Long, ids: Array[Long],
      mat: Array[Array[Double]], k: Int): ArrayData = {
    val keys = new Array[Double](k) // rounded, best-first
    val kid = new Array[Long](k)
    val pay = new Array[Double](k)
    var size = 0
    val n = emb.numElements()
    var c = 0
    while (c < mat.length) {
      if (ids(c) != selfId) {
        val m = mat(c)
        val len = math.min(n, m.length)
        var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < len) {
          val x = emb.getDouble(i); val y = m(i)
          dot += x * y; na += x * x; nb += y * y; i += 1
        }
        val cos = if (na == 0.0 || nb == 0.0) 0.0
          else dot / (math.sqrt(na) * math.sqrt(nb))
        if (size < k || cos > keys(size - 1) - 1e-6) {
          val key = round6(cos)
          val beatsWorst = size < k || key > keys(size - 1) ||
            (key == keys(size - 1) && ids(c) < kid(size - 1))
          if (beatsWorst) {
            var pos = 0
            while (pos < size && !(key > keys(pos) ||
              (key == keys(pos) && ids(c) < kid(pos)))) pos += 1
            val last = math.min(size, k - 1)
            var j = last
            while (j > pos) {
              keys(j) = keys(j - 1); kid(j) = kid(j - 1); pay(j) = pay(j - 1)
              j -= 1
            }
            keys(pos) = key; kid(pos) = ids(c); pay(pos) = cos
            if (size < k) size += 1
          }
        }
      }
      c += 1
    }
    new GenericArrayData((0 until size).map(j =>
      new GenericInternalRow(Array[Any](kid(j), pay(j)))).toArray[Any])
  }

  /** LARGEST-TRIANGLE-THREE-BUCKETS selection (Steinarsson 2013) over
    * a sorted integer series — the shape-preserving visual
    * downsampler that pairs with the M4 min/max reduction: endpoints
    * always kept, the middle points split into `nOut−2` equal
    * buckets, and each bucket keeps the point forming the largest
    * triangle with the PREVIOUS kept point and the NEXT bucket's
    * average. The recurrence is sequential (each choice feeds the
    * next triangle), so it runs as one compiled pass here.
    *
    * All-INTEGER argmax: with prev kept (xa, ya), candidate (xp, yp)
    * and next-bucket sums (SX, SY, c), the doubled triangle area
    * scaled by c is |((xa·c − SX)·(yp − ya)) − ((xa − xp)·(SY − ya·c))|
    * — multiplying the bucket average through by its count preserves
    * the argmax and keeps every comparison exact 64-bit (ties break
    * on the earlier x, a total order). Returns the selected POSITIONS
    * (0-based); series ≤ nOut pass through whole. */
  def lttbSelect(xs: ArrayData, ys: ArrayData, nOut: Int): ArrayData = {
    val n = xs.numElements()
    if (n <= nOut) return ArrayData.toArrayData(Array.tabulate(n)(i => i))
    val nMid = n - 2
    val bOut = nOut - 2
    val sel = new Array[Int](nOut)
    sel(0) = 0
    sel(nOut - 1) = n - 1
    var prevIdx = 0
    var b = 0
    while (b < bOut) {
      // middle j (0-based among middles) is global i = j + 1;
      // bucket(j) = j * bOut div nMid, so bucket b covers the js with
      // j*bOut in [b*nMid, (b+1)*nMid)
      val jLo = ((b.toLong * nMid + bOut - 1) / bOut).toInt
      val jHi = (((b + 1).toLong * nMid + bOut - 1) / bOut).toInt - 1
      // next anchor: bucket b+1's sums, or the last point
      var sx = 0L; var sy = 0L; var c = 0L
      if (b + 1 < bOut) {
        val kLo = (((b + 1).toLong * nMid + bOut - 1) / bOut).toInt
        val kHi = (((b + 2).toLong * nMid + bOut - 1) / bOut).toInt - 1
        var k = kLo
        while (k <= kHi) {
          sx += xs.getLong(k + 1); sy += ys.getLong(k + 1); c += 1; k += 1
        }
      } else {
        sx = xs.getLong(n - 1); sy = ys.getLong(n - 1); c = 1
      }
      val xa = xs.getLong(prevIdx); val ya = ys.getLong(prevIdx)
      var best = -1L; var bestI = -1
      var j = jLo
      while (j <= jHi) {
        val i = j + 1
        val xp = xs.getLong(i); val yp = ys.getLong(i)
        val cross = (xa * c - sx) * (yp - ya) - (xa - xp) * (sy - ya * c)
        val score = math.abs(cross)
        if (score > best) { best = score; bestI = i }
        j += 1
      }
      sel(b + 1) = bestI
      prevIdx = bestI
      b += 1
    }
    ArrayData.toArrayData(sel)
  }

  /** Banded Dynamic Time Warping distance between two double series
    * (|a_i − b_j| local cost, unit steps, Sakoe–Chiba band widened to
    * at least |n−m| so the corner stays reachable). Classic O(n·m)
    * DP with two rolling rows — O(min band width) live state, one
    * compiled pass, no allocation beyond the two rows. The DP
    * evaluation order is fixed (row-major), so the double result is
    * bit-deterministic for given inputs — a Scala recompute with the
    * same order matches exactly. Returns NaN for an empty side. */
  def dtwBanded(a: ArrayData, b: ArrayData, band: Int): Double = {
    val n = a.numElements()
    val m = b.numElements()
    if (n == 0 || m == 0) return Double.NaN
    val w = math.max(band, math.abs(n - m)) // reachability floor
    val inf = Double.PositiveInfinity
    var prev = Array.fill(m + 1)(inf)
    var cur = Array.fill(m + 1)(inf)
    prev(0) = 0.0
    var i = 1
    while (i <= n) {
      java.util.Arrays.fill(cur, inf)
      val lo = math.max(1, i - w)
      val hi = math.min(m, i + w)
      val ai = a.getDouble(i - 1)
      var j = lo
      while (j <= hi) {
        val c = math.abs(ai - b.getDouble(j - 1))
        var best = prev(j)          // insertion
        if (prev(j - 1) < best) best = prev(j - 1) // match
        if (cur(j - 1) < best) best = cur(j - 1)   // deletion
        cur(j) = c + best
        j += 1
      }
      val t = prev; prev = cur; cur = t
      i += 1
    }
    prev(m)
  }
}
