package perfbench

/** Reference answers the benchmark checks the engine against. None of this
  * calls into the engine: point-in-polygon is a winding-number test on the
  * orientation sign, tile and cell ids are re-derived from the Mercator
  * formula, kNN is an exact sweep over points sorted by x, and the
  * analytics references (BPE, PageRank, HITS, cosine top-k, interval joins)
  * are plain driver-side loops over the generated inputs. */
object Refs {

  /** A simple polygon given by its (open) vertex ring. */
  final class Poly(val id: String, val xs: Array[Double], val ys: Array[Double]) {
    require(xs.length == ys.length && xs.length >= 3, s"bad ring for $id")
    val xmin: Double = xs.min; val xmax: Double = xs.max
    val ymin: Double = ys.min; val ymax: Double = ys.max

    def wkt: String = {
      val sb = new StringBuilder("POLYGON ((")
      var i = 0
      while (i <= xs.length) {
        val j = i % xs.length
        if (i > 0) sb.append(", ")
        sb.append(xs(j)).append(' ').append(ys(j))
        i += 1
      }
      sb.append("))").toString
    }

    /** Closed containment: boundary points count as inside. */
    def covers(x: Double, y: Double): Boolean = {
      if (x < xmin || x > xmax || y < ymin || y > ymax) return false
      var wn = 0
      val n = xs.length
      var i = 0
      while (i < n) {
        val x1 = xs(i); val y1 = ys(i)
        val x2 = xs((i + 1) % n); val y2 = ys((i + 1) % n)
        val o = (x2 - x1) * (y - y1) - (x - x1) * (y2 - y1)
        if (o == 0.0 && math.min(x1, x2) <= x && x <= math.max(x1, x2) &&
            math.min(y1, y2) <= y && y <= math.max(y1, y2)) return true
        if (y1 <= y) { if (y2 > y && o > 0) wn += 1 }
        else if (y2 <= y && o < 0) wn -= 1
        i += 1
      }
      wn != 0
    }
  }

  /** Polygons bucketed by bounding box on a uniform lon/lat grid. */
  final class ZoneGrid(val polys: IndexedSeq[Poly], cellDeg: Double) {
    private val nx = math.ceil(360.0 / cellDeg).toInt
    private val ny = math.ceil(180.0 / cellDeg).toInt
    private def gx(x: Double) = math.min(nx - 1, math.max(0, ((x + 180.0) / cellDeg).toInt))
    private def gy(y: Double) = math.min(ny - 1, math.max(0, ((y + 90.0) / cellDeg).toInt))
    private val buckets: Array[Array[Int]] = {
      val b = Array.fill(nx * ny)(Array.newBuilder[Int])
      polys.indices.foreach { z =>
        val p = polys(z)
        for (cx <- gx(p.xmin) to gx(p.xmax); cy <- gy(p.ymin) to gy(p.ymax))
          b(cy * nx + cx) += z
      }
      b.map(_.result())
    }
    /** Indices of every polygon covering (x, y). */
    def covering(x: Double, y: Double): Array[Int] =
      buckets(gy(y) * nx + gx(x)).filter(z => polys(z).covers(x, y))
  }

  /** (point index, polygon index) pairs with the point inside the closed polygon. */
  def pipPairs(grid: ZoneGrid, lon: Array[Double], lat: Array[Double],
               pointIdx: Array[Int]): Array[(Int, Int)] = {
    val out = Array.newBuilder[(Int, Int)]
    pointIdx.foreach(i => grid.covering(lon(i), lat(i)).foreach(z => out += ((i, z))))
    out.result()
  }

  // ---- slippy-map tiles and Morton cells ----

  private val MaxLat = math.toDegrees(math.atan(math.sinh(math.Pi)))

  def unitX(lon: Double): Double = math.min(math.max((lon + 180.0) / 360.0, 0.0), math.nextDown(1.0))

  def unitY(lat: Double): Double = {
    val phi = math.toRadians(math.max(-MaxLat, math.min(MaxLat, lat)))
    val y = 0.5 - math.log(math.tan(math.Pi / 4 + phi / 2)) / (2 * math.Pi)
    math.min(math.max(y, 0.0), math.nextDown(1.0))
  }

  def tileX(lon: Double, z: Int): Long = math.min((unitX(lon) * (1L << z)).toLong, (1L << z) - 1)
  def tileY(lat: Double, z: Int): Long = math.min((unitY(lat) * (1L << z)).toLong, (1L << z) - 1)

  /** Bit-interleaved cell id: x bits on even positions, y bits on odd. */
  def interleave(tx: Long, ty: Long): Long = {
    var c = 0L
    var b = 0
    while (b < 31) {
      c |= ((tx >>> b) & 1L) << (2 * b)
      c |= ((ty >>> b) & 1L) << (2 * b + 1)
      b += 1
    }
    c
  }

  def cellOf(lon: Double, lat: Double, z: Int): Long = interleave(tileX(lon, z), tileY(lat, z))

  // ---- exact k nearest neighbours ----

  /** Points sorted by x for the sweep; ids break distance ties. */
  final class SweepIndex(xs: Array[Double], ys: Array[Double], ids: Array[String]) {
    private val order = xs.indices.sortBy(xs(_)).toArray
    private val sx = order.map(xs(_))
    private val byDistThenId = Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.String)

    /** The k nearest (d2, id), ascending by (d2, id), d2 in the engine's
      * (dx·dx + dy·dy) evaluation order. */
    def nearest(qx: Double, qy: Double, k: Int): IndexedSeq[(Double, String)] = {
      val best = new java.util.TreeSet[(Double, String)](byDistThenId)
      def offer(j: Int): Unit = {
        val p = order(j)
        val dx = xs(p) - qx; val dy = ys(p) - qy
        val d2 = dx * dx + dy * dy
        if (best.size < k) best.add((d2, ids(p)))
        else if (byDistThenId.lt((d2, ids(p)), best.last())) { best.add((d2, ids(p))); best.pollLast() }
      }
      def worst = if (best.size < k) Double.PositiveInfinity else best.last()._1
      val start = java.util.Arrays.binarySearch(sx, qx) match {
        case i if i >= 0 => i
        case i => -i - 1
      }
      var lo = start - 1; var hi = start
      var goLo = lo >= 0; var goHi = hi < sx.length
      while (goLo || goHi) {
        if (goHi) {
          val dx = sx(hi) - qx
          if (dx * dx > worst) goHi = false
          else { offer(hi); hi += 1; goHi = hi < sx.length }
        }
        if (goLo) {
          val dx = qx - sx(lo)
          if (dx * dx > worst) goLo = false
          else { offer(lo); lo -= 1; goLo = lo >= 0 }
        }
      }
      import scala.jdk.CollectionConverters._
      best.iterator().asScala.toIndexedSeq
    }
  }

  // ---- byte-pair encoding ----

  /** Lower-cased [a-z0-9]+ words of a text. */
  def words(text: String): Array[String] =
    text.toLowerCase(java.util.Locale.ROOT).split("[^a-z0-9]+").filter(_.nonEmpty)

  /** "|c1|c2|...|" */
  def bpeEncode(word: String): String = word.map(c => s"$c|").mkString("|", "", "")

  /** Rewrites the leftmost "|a|b|" to "|ab|" until none is left. */
  def bpeMerge(enc: String, a: String, b: String): String = {
    val pat = s"|$a|$b|"
    var s = enc
    var i = s.indexOf(pat)
    while (i >= 0) {
      s = s.substring(0, i) + s"|$a$b|" + s.substring(i + pat.length)
      i = s.indexOf(pat)
    }
    s
  }

  /** Up to `rounds` merges (round, a, b, count): each round takes the most
    * frequent adjacent pair over the word frequencies, ties broken by
    * (a, b) ascending, and applies it to every word. */
  def bpeTrain(texts: Iterable[String], rounds: Int): Seq[(Int, String, String, Long)] = {
    val freq = texts.iterator.flatMap(words).toSeq.groupBy(identity).map { case (w, ws) => w -> ws.length.toLong }
    var enc = freq.toSeq.map { case (w, f) => (bpeEncode(w), f) }
    val out = Seq.newBuilder[(Int, String, String, Long)]
    var r = 1
    var done = false
    while (r <= rounds && !done) {
      val pairs = scala.collection.mutable.HashMap.empty[(String, String), Long]
      enc.foreach { case (e, f) =>
        val syms = e.substring(1, e.length - 1).split("\\|")
        var i = 1
        while (i < syms.length) { val k = (syms(i - 1), syms(i)); pairs(k) = pairs.getOrElse(k, 0L) + f; i += 1 }
      }
      if (pairs.isEmpty) done = true
      else {
        val ((a, b), c) = pairs.toSeq.minBy { case ((a, b), c) => (-c, a, b) }
        out += ((r, a, b, c))
        enc = enc.map { case (e, f) => (bpeMerge(e, a, b), f) }
        r += 1
      }
    }
    out.result()
  }

  /** Tokens of a word after applying the merges in order. */
  def bpeTokens(word: String, merges: Seq[(String, String)]): Long = {
    val e = merges.foldLeft(bpeEncode(word)) { case (s, (a, b)) => bpeMerge(s, a, b) }
    e.count(_ == '|') - 1L
  }

  // ---- integer PageRank and HITS over (src, dst) edges ----

  /** Distinct edges without self-loops. */
  def simpleEdges(src: Array[Long], dst: Array[Long]): Array[(Long, Long)] =
    src.indices.collect { case i if src(i) != dst(i) => (src(i), dst(i)) }.distinct.toArray

  /** The engine's fixed-point PageRank: rank starts at `scale`, and each
    * round gives every vertex 15% of `scale` plus 85% of the floor-divided
    * rank its in-neighbours spread over their out-edges. */
  def pagerank(vertices: Array[Long], edges: Array[(Long, Long)], iters: Int,
               scale: Long = 1000000000L): Map[Long, Long] = {
    val deg = edges.groupBy(_._1).map { case (s, es) => s -> es.length.toLong }
    var rank = vertices.map(_ -> scale).toMap
    (1 to iters).foreach { _ =>
      val mass = scala.collection.mutable.HashMap.empty[Long, Long]
      edges.foreach { case (s, d) =>
        rank.get(s).foreach(r => mass(d) = mass.getOrElse(d, 0L) + 85L * (r / deg(s)) / 100L)
      }
      rank = vertices.map(v => v -> (scale * 15L / 100L + mass.getOrElse(v, 0L))).toMap
    }
    rank
  }

  /** floor(raw·10⁶ / t), 0 when t = 0. */
  def ppm(raw: Long, t: Long): Long =
    if (t == 0) 0L else (BigInt(raw) * 1000000 / t).toLong

  /** HITS in integer ppm: `iters` rounds of authority = normalised sum of
    * in-neighbour hub scores, then hub = normalised sum of out-neighbour
    * authority scores; every hub starts at 10⁶. Returns id -> (a, h). */
  def hits(vertices: Array[Long], edges: Array[(Long, Long)], iters: Int): Map[Long, (Long, Long)] = {
    def half(score: Map[Long, Long], from: ((Long, Long)) => Long, to: ((Long, Long)) => Long) = {
      val raw = scala.collection.mutable.HashMap.empty[Long, Long]
      edges.foreach(e => score.get(from(e)).foreach(sc => raw(to(e)) = raw.getOrElse(to(e), 0L) + sc))
      val t = raw.values.sum
      raw.map { case (v, x) => v -> ppm(x, t) }.toMap
    }
    var h = vertices.map(_ -> 1000000L).toMap
    var a = h
    (1 to iters).foreach { _ =>
      a = half(h, _._1, _._2)
      h = half(a, _._2, _._1)
    }
    vertices.map(v => v -> ((a.getOrElse(v, 0L), h.getOrElse(v, 0L)))).toMap
  }

  // ---- quantised cosine ----

  /** Components ×1000, rounded half up: the engine's exact integer form. */
  def quantise(v: Array[Float]): Array[Long] = v.map(f => math.floor(f.toDouble * 1000 + 0.5).toLong)

  def dotQ(a: Array[Long], b: Array[Long]): Long = {
    var s = 0L; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** Quantised cosine with the engine's evaluation order. */
  def cosQ(a: Array[Long], b: Array[Long], na: Long, nb: Long): Double =
    dotQ(a, b).toDouble / math.sqrt(na.toDouble * nb.toDouble)

  /** Exact top-k of query `q` over every vector: by cosine descending, ties
    * by id ascending. Returns the ids in rank order. */
  def cosineTopK(q: Int, vecs: Array[Array[Long]], norms: Array[Long], k: Int): Seq[Long] =
    vecs.indices.map(j => (-cosQ(vecs(q), vecs(j), norms(q), norms(j)), j.toLong))
      .sorted(Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long)).take(k).map(_._2)

  // ---- interval join ----

  /** Pairs (left index, right index) with equal keys and |ts difference|
    * within `within`; a left row without a match pairs with -1 when `outer`. */
  def intervalJoin(lk: Array[Int], lts: Array[Long], rk: Array[Int], rts: Array[Long],
                   within: Long, outer: Boolean): Array[(Int, Int)] = {
    val byKey = rk.indices.groupBy(rk(_))
    lk.indices.flatMap { i =>
      val m = byKey.getOrElse(lk(i), Nil).filter(j => math.abs(rts(j) - lts(i)) <= within)
      if (m.isEmpty && outer) Seq((i, -1)) else m.map(j => (i, j))
    }.toArray
  }
}
