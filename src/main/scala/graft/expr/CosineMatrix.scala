package graft.expr

import org.apache.spark.sql.catalyst.util.ArrayData

/** The engine's one top-k-by-cosine kernel: a driver-side row matrix
  * (ids, rows, precomputed row norms) carried inside a plan by
  * [[NearestCells]] (the IVF router, K centroid rows) and [[CosineTopN]]
  * (the exact serve, the item catalog up to its byte budget).
  *
  * Scoring is [[CosineSimilarity]]'s arithmetic: `dot / (√nv·√nr)` with
  * dot and squared norms accumulated in double in index order, and a
  * pair is degenerate exactly where `cosine_similarity` is NULL (length
  * mismatch, or a zero denominator). Ranking is (score desc under
  * `java.lang.Double.compare` — NaN largest — then id asc): rows are kept
  * sorted by id, so an earlier row wins a tied score.
  */
private[expr] final class CosineMatrix private (
    /** Row ids in kernel order (ascending). */
    val ids: Array[Long],
    // one contiguous array: row r is flat(offsets(r) until offsets(r + 1)),
    // which a task deserializes as one block rather than one object per row
    flat: Array[Double], offsets: Array[Int])
    extends Serializable {
  private val norms: Array[Double] = Array.tabulate(ids.length) { r =>
    var s = 0.0; var j = offsets(r)
    while (j < offsets(r + 1)) { s += flat(j) * flat(j); j += 1 }
    math.sqrt(s)
  }

  def size: Int = ids.length

  /** The best ≤ `k` rows for `v` into `topS` (scores) and `topI` (row
    * indexes into [[ids]]), best first; returns how many slots were
    * filled. A degenerate pair scores −1.0 (and a NaN cosine becomes
    * −1.0) when `worstDegenerate` — the router's policy, which fills every
    * slot — else it is skipped and a NaN cosine ranks largest — the
    * exact serve's, `cosine_similarity IS NOT NULL` ranked like
    * `TopKPairs`. */
  def top(v: Array[Double], k: Int, worstDegenerate: Boolean,
          topS: Array[Double], topI: Array[Int]): Int = {
    val n = v.length
    val vn = CosineMatrix.norm(v)
    var m = 0
    var r = 0
    while (r < ids.length) {
      val o = offsets(r)
      val denom = vn * norms(r)
      var keep = true
      var s = -1.0
      if (offsets(r + 1) - o != n || denom == 0.0) keep = worstDegenerate
      else {
        var dot = 0.0; var j = 0
        while (j < n) { dot += v(j) * flat(o + j); j += 1 }
        s = dot / denom
        if (worstDegenerate && java.lang.Double.isNaN(s)) s = -1.0
      }
      // bounded insertion; rows arrive in id order, so a tie keeps the
      // earlier (lower-id) row ahead
      if (keep && (m < k ||
          (m > 0 && java.lang.Double.compare(s, topS(m - 1)) > 0))) {
        var p = if (m < k) { m += 1; m - 1 } else k - 1
        while (p > 0 && java.lang.Double.compare(s, topS(p - 1)) > 0) {
          topS(p) = topS(p - 1); topI(p) = topI(p - 1); p -= 1
        }
        topS(p) = s; topI(p) = r
      }
      r += 1
    }
    m
  }

  override def toString: String = s"CosineMatrix(${ids.length} rows)"
}

private[expr] object CosineMatrix {
  /** The `(ids(i), rows(i))` pairs, sorted by id (stable). */
  def apply(ids: Array[Long], rows: Array[Array[Double]]): CosineMatrix = {
    require(ids.length == rows.length,
      s"cosine matrix: ${ids.length} ids for ${rows.length} rows")
    val order = ids.indices.sortBy(ids(_)).toArray
    val offsets = order.scanLeft(0)(_ + rows(_).length)
    val flat = new Array[Double](offsets.last)
    order.indices.foreach { r =>
      System.arraycopy(rows(order(r)), 0, flat, offsets(r), rows(order(r)).length)
    }
    new CosineMatrix(order.map(ids), flat, offsets)
  }

  def norm(x: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < x.length) { s += x(i) * x(i); i += 1 }
    math.sqrt(s)
  }

  /** An array<float|double> value as doubles, element by element as
    * [[CosineSimilarity]] reads it. */
  def read(input: ArrayData, isFloat: Boolean): Array[Double] = {
    val v = new Array[Double](input.numElements())
    var i = 0
    while (i < v.length) {
      v(i) = if (isFloat) input.getFloat(i).toDouble else input.getDouble(i)
      i += 1
    }
    v
  }
}
