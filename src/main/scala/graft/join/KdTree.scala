package graft.join

/**
 * Exact k-nearest search over one partition's points, the per-task half of
 * [[SpatialJoins.knn]]: a balanced implicit k-d tree. The arrays are
 * reordered in place so that each node's split point sits in the middle
 * of its index range; the node splits on the wider side of its points'
 * extent, so the tree does not depend on how the points are distributed.
 *
 * Ranking is the `topk_pairs` order: d2, then id by UTF-8 bytes (which is
 * code point order), and an equal (d2, id) pair is kept once. d2 is
 * `(px − qx)·(px − qx) + (py − qy)·(py − qy)`, the expression the
 * DataFrame kNN paths evaluate, so the doubles are bit-identical. A
 * subtree is pruned only when its box distance is strictly greater than
 * the current k-th d2: a point at exactly that distance can still take the
 * k-th place on its id. Coordinates must not be NaN.
 */
private[join] final class KdTree(xs: Array[Double], ys: Array[Double], ids: Array[String], k: Int) {
  import KdTree.{Leaf, compareUtf8}

  private val n = xs.length
  /** Split axis (0 = x, 1 = y) of the node whose split point is at index i. */
  private val axis = new Array[Byte](n)
  build(0, n)

  // the current query's candidates: a max-heap by (d2, id), ≤ k entries
  private val hd = new Array[Double](k)
  private val hp = new Array[Int](k)
  private var size = 0

  /** The k nearest (id, d2) to (qx, qy) among this tree's points, unordered;
    * fewer when the tree holds fewer distinct (d2, id) pairs. */
  def nearest(qx: Double, qy: Double): Array[(String, Double)] = {
    size = 0
    visit(0, n, qx, qy, 0.0, 0.0)
    Array.tabulate(size)(j => (ids(hp(j)), hd(j)))
  }

  private def key(ax: Int, i: Int): Double = if (ax == 0) xs(i) else ys(i)

  private def swap(i: Int, j: Int): Unit = {
    val x = xs(i); xs(i) = xs(j); xs(j) = x
    val y = ys(i); ys(i) = ys(j); ys(j) = y
    val s = ids(i); ids(i) = ids(j); ids(j) = s
  }

  private def build(lo: Int, hi: Int): Unit = if (hi - lo > Leaf) {
    var x0 = Double.PositiveInfinity; var x1 = Double.NegativeInfinity
    var y0 = Double.PositiveInfinity; var y1 = Double.NegativeInfinity
    var i = lo
    while (i < hi) {
      x0 = math.min(x0, xs(i)); x1 = math.max(x1, xs(i))
      y0 = math.min(y0, ys(i)); y1 = math.max(y1, ys(i))
      i += 1
    }
    val ax = if (x1 - x0 >= y1 - y0) 0 else 1
    val mid = (lo + hi) >>> 1
    select(lo, hi - 1, mid, ax)
    axis(mid) = ax.toByte
    build(lo, mid)
    build(mid + 1, hi)
  }

  /** Wirth's selection on [lo, hi]: afterwards no key before `nth` is
    * greater than key(nth) and none after it is smaller. */
  private def select(lo0: Int, hi0: Int, nth: Int, ax: Int): Unit = {
    var lo = lo0; var hi = hi0
    while (lo < hi) {
      val pivot = key(ax, nth)
      var i = lo; var j = hi
      while (i <= j) {
        while (key(ax, i) < pivot) i += 1
        while (pivot < key(ax, j)) j -= 1
        if (i <= j) { swap(i, j); i += 1; j -= 1 }
      }
      if (j < nth) lo = i
      if (nth < i) hi = j
    }
  }

  /** Searches the subtree on [lo, hi); (ox, oy) are the query's offsets to
    * the subtree's box, so ox² + oy² bounds every d2 in it from below. */
  private def visit(lo: Int, hi: Int, qx: Double, qy: Double, ox: Double, oy: Double): Unit =
    if (hi - lo <= Leaf) {
      var i = lo
      while (i < hi) { offer(i, qx, qy); i += 1 }
    } else {
      val mid = (lo + hi) >>> 1
      offer(mid, qx, qy)
      val ax = axis(mid)
      // points left of mid have key ≤ the split, points right of it ≥
      val off = if (ax == 0) qx - xs(mid) else qy - ys(mid)
      val nearLeft = off < 0
      if (nearLeft) visit(lo, mid, qx, qy, ox, oy) else visit(mid + 1, hi, qx, qy, ox, oy)
      val fx = if (ax == 0) off else ox
      val fy = if (ax == 0) oy else off
      if (!(fx * fx + fy * fy > worst)) {
        if (nearLeft) visit(mid + 1, hi, qx, qy, fx, fy) else visit(lo, mid, qx, qy, fx, fy)
      }
    }

  private def worst: Double = if (size < k) Double.PositiveInfinity else hd(0)

  /** (d, id of point i) ranks before (e, id of point j). */
  private def before(d: Double, i: Int, e: Double, j: Int): Boolean = {
    val c = java.lang.Double.compare(d, e)
    c < 0 || c == 0 && compareUtf8(ids(i), ids(j)) < 0
  }

  private def held(d2: Double, i: Int): Boolean = {
    var j = 0
    while (j < size) {
      if (hd(j) == d2 && ids(hp(j)) == ids(i)) return true
      j += 1
    }
    false
  }

  private def offer(i: Int, qx: Double, qy: Double): Unit = {
    val d2 = (xs(i) - qx) * (xs(i) - qx) + (ys(i) - qy) * (ys(i) - qy)
    if (size < k) {
      if (!held(d2, i)) {
        var c = size
        size += 1
        while (c > 0 && before(hd((c - 1) / 2), hp((c - 1) / 2), d2, i)) {
          val p = (c - 1) / 2
          hd(c) = hd(p); hp(c) = hp(p); c = p
        }
        hd(c) = d2; hp(c) = i
      }
    } else if (before(d2, i, hd(0), hp(0)) && !held(d2, i)) {
      var c = 0
      var done = false
      while (!done) {
        val l = 2 * c + 1
        val r = l + 1
        var m = c
        var md = d2; var mi = i
        if (l < size && before(md, mi, hd(l), hp(l))) { m = l; md = hd(l); mi = hp(l) }
        if (r < size && before(md, mi, hd(r), hp(r))) { m = r; md = hd(r); mi = hp(r) }
        if (m == c) done = true
        else { hd(c) = md; hp(c) = mi; c = m }
      }
      hd(c) = d2; hp(c) = i
    }
  }
}

private[join] object KdTree {
  /** Subtrees of at most this many points are scanned, not split. */
  val Leaf = 8

  /** Orders strings as their UTF-8 bytes do, which is code point order. */
  def compareUtf8(a: String, b: String): Int = {
    var i = 0; var j = 0
    while (i < a.length && j < b.length) {
      val ca = a.codePointAt(i); val cb = b.codePointAt(j)
      if (ca != cb) return Integer.compare(ca, cb)
      i += Character.charCount(ca); j += Character.charCount(cb)
    }
    Integer.compare(a.length - i, b.length - j)
  }
}
