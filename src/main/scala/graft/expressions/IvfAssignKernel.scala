package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

/** The broadcastable IVF coarse-quantizer payload: the centroid matrix
  * plus each centroid's self-dot `cn2`, precomputed ONCE driver-side in
  * index order — the same summation order as
  * [[ArrayDotProduct]], so `cn2(c)` is bit-identical to the
  * `dot(centroid, centroid)` column the DataFrame assignment path
  * computes (the d2 values, and therefore every assignment tie-break,
  * agree exactly between the two routes).
  *
  * At production cell counts the matrix is megabytes (2¹² cells × 64
  * dims × 8 B ≈ 2 MB), which is why [[IvfNearestCells]] carries it as a
  * `Broadcast` HANDLE rather than a plan literal — same stance as
  * [[BloomProbe]]: the task binary stays bytes-sized and executors
  * torrent the matrix once each.
  */
final case class IvfCentroidSet(cents: Array[Array[Double]], cn2: Array[Double]) {
  require(cents.nonEmpty, "empty centroid set")
  require(cents.length == cn2.length, "cents/cn2 length mismatch")
  def numCells: Int = cents.length
  def dim: Int = cents(0).length
}

/** A [[IvfCentroidSet]] plus a GROUPING of its cells for two-level
  * assignment: group centroids (`gCents`, with self-dots `gn2`) and
  * each group's member-cell list (`members`). Built driver-side by
  * [[IvfAssignKernel.groupedCentroidSet]] — a deterministic Lloyd's
  * run over the CELL CENTROIDS themselves (≤2¹⁴ points, milliseconds),
  * not the corpus. The flat set rides along so the exact single-level
  * scan stays available from the same payload. */
final case class IvfGroupedCentroidSet(flat: IvfCentroidSet,
    gCents: Array[Array[Double]], gn2: Array[Double],
    members: Array[Array[Int]]) {
  require(gCents.length == members.length, "group count mismatch")
  def numGroups: Int = gCents.length
}

object IvfAssignKernel {

  /** Build the payload from a centroid matrix (cell id = row index —
    * the same contract as `Similarity.centroidTable`). */
  def centroidSet(cents: Array[Array[Double]]): IvfCentroidSet = {
    val cn2 = new Array[Double](cents.length)
    var c = 0
    while (c < cents.length) {
      val cent = cents(c)
      var s = 0.0
      var i = 0
      while (i < cent.length) { s += cent(i) * cent(i); i += 1 }
      cn2(c) = s
      c += 1
    }
    IvfCentroidSet(cents, cn2)
  }

  /** The `m` nearest cells of one vector, ordered by (d2 asc, cell asc)
    * — element 0 is the home cell. One O(cells × dim) scan per row with
    * a bounded insertion buffer (m ≤ probes, never the cell count), so
    * the caller's plan carries NO per-cell row expansion: the
    * N×cells intermediate the window-ranked assignment materializes
    * (fatal at 2¹²⁺ cells — see `Similarity.ivfTopKQuantized`) never
    * exists.
    *
    * d2 per (v, cell) is `nrm² + cn2 − 2·⟨v,c⟩` with ⟨v,c⟩ summed in
    * index order — bit-identical to the DataFrame formula, which is
    * what makes the large route digest-equal to the oracle-exact one.
    * Returns null when the vector's length differs from the centroid
    * dim or any element is null (the DataFrame path yields null d2
    * there; such vectors are not assignable under either route).
    */
  def topCells(v: ArrayData, nrm: Double, cs: IvfCentroidSet,
      m: Int): ArrayData = {
    val dim = cs.dim
    if (v.numElements() != dim) return null
    val vec = new Array[Double](dim)
    var i = 0
    while (i < dim) {
      if (v.isNullAt(i)) return null
      vec(i) = v.getDouble(i)
      i += 1
    }
    val nCells = cs.numCells
    val keep = math.min(m, nCells)
    val nv2 = nrm * nrm
    val bestD = new Array[Double](keep)
    val bestC = new Array[Int](keep)
    var filled = 0
    var c = 0
    while (c < nCells) {
      val cent = cs.cents(c)
      var dp = 0.0
      i = 0
      while (i < dim) { dp += vec(i) * cent(i); i += 1 }
      val d2 = nv2 + cs.cn2(c) - 2.0 * dp
      // strict-< insertion while scanning cells in ascending order =
      // the (d2 asc, cell asc) tie-break of the row_number route
      if (filled < keep || d2 < bestD(filled - 1)) {
        var p = if (filled < keep) filled else keep - 1
        while (p > 0 && d2 < bestD(p - 1)) {
          bestD(p) = bestD(p - 1); bestC(p) = bestC(p - 1); p -= 1
        }
        bestD(p) = d2
        bestC(p) = c
        if (filled < keep) filled += 1
      }
      c += 1
    }
    val rows = new Array[Any](filled)
    var r = 0
    while (r < filled) {
      rows(r) = new GenericInternalRow(
        Array[Any](bestC(r), bestD(r))): InternalRow
      r += 1
    }
    new GenericArrayData(rows)
  }

  /** Deterministic Lloyd's over an arbitrary point set (init = every
    * (n/k)-th point in the given order, fixed iteration count, distance
    * ties to the lower center id, empty centers keep their previous
    * position — no RNG anywhere). Returns the final centers and the
    * LAST-iteration assignment (computed against the pre-update
    * centers, as the original grouping loop did — callers that pin
    * digests on that grouping stay bit-stable). Serves both the
    * driver-side cell grouping ([[groupedCentroidSet]]) and the
    * per-group sub-fits of `Similarity.fitIvfHierarchical`, where each
    * call sees only one group's sample points inside one task. */
  def lloyd(points: Array[Array[Double]], k: Int,
      iters: Int = 10): (Array[Array[Double]], Array[Int]) = {
    val n = points.length
    require(n >= 1, "empty point set")
    val g = math.min(k, n)
    require(g >= 1, s"k=$k")
    val dim = points(0).length
    // deterministic spread init over the given order
    var gc = Array.tabulate(g)(i => points(i * n / g).clone())
    val assign = new Array[Int](n)
    var it = 0
    while (it < iters) {
      var c = 0
      while (c < n) {
        var best = 0
        var bestD = Double.MaxValue
        var j = 0
        while (j < g) {
          var d = 0.0
          var i = 0
          while (i < dim) {
            val t = points(c)(i) - gc(j)(i); d += t * t; i += 1
          }
          if (d < bestD) { bestD = d; best = j }
          j += 1
        }
        assign(c) = best
        c += 1
      }
      val sums = Array.ofDim[Double](g, dim)
      val counts = new Array[Int](g)
      var c2 = 0
      while (c2 < n) {
        val a = assign(c2)
        counts(a) += 1
        var i = 0
        while (i < dim) { sums(a)(i) += points(c2)(i); i += 1 }
        c2 += 1
      }
      gc = Array.tabulate(g)(j =>
        if (counts(j) == 0) gc(j) // empty center keeps its position
        else { val s = sums(j); var i = 0
          while (i < dim) { s(i) /= counts(j); i += 1 }; s })
      it += 1
    }
    (gc, assign)
  }

  /** Group the cell centroids for two-level assignment: `numGroups`
    * centers from a deterministic [[lloyd]] run over the CELL CENTROIDS
    * — no RNG, no Spark job, milliseconds at 2¹⁴ cells. */
  def groupedCentroidSet(cents: Array[Array[Double]], numGroups: Int,
      iters: Int = 10): IvfGroupedCentroidSet = {
    val flat = centroidSet(cents)
    val n = cents.length
    require(numGroups >= 1, s"numGroups=$numGroups")
    val dim = flat.dim
    val (gc, assign) = lloyd(cents, numGroups, iters)
    val g = gc.length
    val gn2 = new Array[Double](g)
    var j = 0
    while (j < g) {
      var s = 0.0
      var i = 0
      while (i < dim) { s += gc(j)(i) * gc(j)(i); i += 1 }
      gn2(j) = s
      j += 1
    }
    val members = Array.fill(g)(List.empty[Int])
    var c3 = n - 1
    while (c3 >= 0) { members(assign(c3)) ::= c3; c3 -= 1 } // ascending
    IvfGroupedCentroidSet(flat, gc, gn2, members.map(_.toArray))
  }

  /** The SQL-expressible grouping: contiguous blocks of `groupSize`
    * cells in index order, group centroid = the member mean summed in
    * ascending cell order (bit-reproducible as nested adds — the form
    * the q77 DuckDB oracle mirrors term for term, unlike
    * [[groupedCentroidSet]]'s iterated Lloyd's). The last block may be
    * short; its mean divides by its actual member count. */
  def fixedGroupedCentroidSet(cents: Array[Array[Double]],
      groupSize: Int): IvfGroupedCentroidSet = {
    val flat = centroidSet(cents)
    require(groupSize >= 1, s"groupSize=$groupSize")
    val n = cents.length
    val dim = flat.dim
    val g = (n + groupSize - 1) / groupSize
    val gc = Array.tabulate(g) { j =>
      val lo = j * groupSize
      val hi = math.min(lo + groupSize, n)
      val s = new Array[Double](dim)
      var c = lo
      while (c < hi) {
        var i = 0
        while (i < dim) { s(i) += cents(c)(i); i += 1 }
        c += 1
      }
      var i = 0
      while (i < dim) { s(i) /= (hi - lo); i += 1 }
      s
    }
    val gn2 = gc.map { a =>
      var s = 0.0; var i = 0
      while (i < dim) { s += a(i) * a(i); i += 1 }
      s
    }
    val members = Array.tabulate(g)(j =>
      Array.range(j * groupSize, math.min((j + 1) * groupSize, n)))
    IvfGroupedCentroidSet(flat, gc, gn2, members)
  }

  /** Two-level nearest cells: scan the `numGroups` group centroids,
    * keep the `groupProbes` nearest groups (d2 asc, group asc), then
    * run the EXACT per-cell d2 — bit-identical arithmetic to
    * [[topCells]] — over only those groups' member cells. Per-row cost
    * drops from O(cells × dim) to O((groups + probedMembers) × dim);
    * at 2¹⁴ cells with √cells groups that is ~64× less arithmetic. A
    * cell is missed only when its whole GROUP outranks the probed set
    * while the cell itself would have ranked — the recall trade
    * measured in SURVEY §6.2. With `groupProbes >= numGroups` every
    * member list is scanned and the result is exactly [[topCells]]'s
    * (cells in a group are visited in ascending order, and the
    * insertion tie-break is cell-ascending GLOBALLY because every
    * candidate d2 is computed identically). */
  def topCellsTwoLevel(v: ArrayData, nrm: Double,
      gcs: IvfGroupedCentroidSet, m: Int, groupProbes: Int): ArrayData = {
    val cs = gcs.flat
    val dim = cs.dim
    if (v.numElements() != dim) return null
    val vec = new Array[Double](dim)
    var i = 0
    while (i < dim) {
      if (v.isNullAt(i)) return null
      vec(i) = v.getDouble(i)
      i += 1
    }
    val nv2 = nrm * nrm
    // level 1: nearest groups
    val ng = gcs.numGroups
    val gKeep = math.min(groupProbes, ng)
    val gBestD = new Array[Double](gKeep)
    val gBestC = new Array[Int](gKeep)
    var gFilled = 0
    var j = 0
    while (j < ng) {
      val gcent = gcs.gCents(j)
      var dp = 0.0
      i = 0
      while (i < dim) { dp += vec(i) * gcent(i); i += 1 }
      val d2 = nv2 + gcs.gn2(j) - 2.0 * dp
      if (gFilled < gKeep || d2 < gBestD(gFilled - 1)) {
        var p = if (gFilled < gKeep) gFilled else gKeep - 1
        while (p > 0 && d2 < gBestD(p - 1)) {
          gBestD(p) = gBestD(p - 1); gBestC(p) = gBestC(p - 1); p -= 1
        }
        gBestD(p) = d2
        gBestC(p) = j
        if (gFilled < gKeep) gFilled += 1
      }
      j += 1
    }
    // level 2: exact cell scan over the probed groups' members. To keep
    // the (d2 asc, cell asc) tie-break identical to the flat scan, the
    // insertion uses strict-< and candidates arrive grouped — a tie
    // between cells of different groups must resolve to the LOWER cell
    // id, so on equal d2 an arriving lower id displaces a higher one.
    val keep = math.min(m, cs.numCells)
    val bestD = new Array[Double](keep)
    val bestC = new Array[Int](keep)
    var filled = 0
    var gi = 0
    while (gi < gFilled) {
      val mem = gcs.members(gBestC(gi))
      var mi = 0
      while (mi < mem.length) {
        val c = mem(mi)
        val cent = cs.cents(c)
        var dp = 0.0
        i = 0
        while (i < dim) { dp += vec(i) * cent(i); i += 1 }
        val d2 = nv2 + cs.cn2(c) - 2.0 * dp
        val worse = filled >= keep &&
          (d2 > bestD(filled - 1) ||
            (d2 == bestD(filled - 1) && c > bestC(filled - 1)))
        if (!worse) {
          var p = if (filled < keep) filled else keep - 1
          while (p > 0 && (d2 < bestD(p - 1) ||
              (d2 == bestD(p - 1) && c < bestC(p - 1)))) {
            bestD(p) = bestD(p - 1); bestC(p) = bestC(p - 1); p -= 1
          }
          bestD(p) = d2
          bestC(p) = c
          if (filled < keep) filled += 1
        }
        mi += 1
      }
      gi += 1
    }
    val rows = new Array[Any](filled)
    var r = 0
    while (r < filled) {
      rows(r) = new GenericInternalRow(
        Array[Any](bestC(r), bestD(r))): InternalRow
      r += 1
    }
    new GenericArrayData(rows)
  }
}
