package graft.cell

import graft.geom._
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable.ArrayBuffer

/** Cells.cover against the per-cell relate loop it replaced, cell for
  * cell and in order, on shapes built to hit the margin rule's edges. */
class CoverFuzzSpec extends AnyFunSuite {

  /** The reference: the tile range of the envelope, every cell of it for
    * an axis-aligned rectangle, else the cells whose rect
    * `Pred.intersects` the geometry, row-major. `cellId` clamps latitudes
    * past ±MAX_LAT into the grid's top and bottom rows, and longitudes
    * past ±180° into its first and last columns, so the rects of those
    * rows and columns reach out to the envelope where it lies beyond. */
  private def coverByRelate(g: Geometry, level: Int): Array[Long] = {
    val env = g.envelope
    if (env.isEmpty) return Array.empty
    val x0 = Cells.tileX(env.xmin, level); val x1 = Cells.tileX(env.xmax, level)
    val y0 = Cells.tileY(env.ymax, level); val y1 = Cells.tileY(env.ymin, level)
    val isRect = g match {
      case p: Polygon if p.rings.length == 1 && p.rings(0).length == 10 =>
        val r = p.rings(0)
        (0 until 8 by 2).forall(i => (r(i) == env.xmin || r(i) == env.xmax) &&
          (r(i + 1) == env.ymin || r(i + 1) == env.ymax))
      case _ => false
    }
    val out = new ArrayBuffer[Long]()
    for (ty <- y0 to y1; tx <- x0 to x1) {
      val cell = Cells.morton(tx, ty)
      val e = Cells.cellEnvelope(cell, level)
      val last = (1L << level) - 1
      val rect = Env(if (tx == 0) math.min(e.xmin, env.xmin) else e.xmin,
        if (ty == last) math.min(e.ymin, env.ymin) else e.ymin,
        if (tx == last) math.max(e.xmax, env.xmax) else e.xmax,
        if (ty == 0) math.max(e.ymax, env.ymax) else e.ymax)
      if (isRect || Pred.intersects(rect.toPolygon, g)) out += cell
    }
    out.toArray
  }

  private def check(g: Geometry, level: Int, what: => String): Unit = {
    val got = Cells.cover(g, level)
    val want = coverByRelate(g, level)
    assert(got.sameElements(want),
      s"$what @L$level: got ${got.length} cells, want ${want.length}; " +
        s"first diff at ${got.zip(want).indexWhere { case (a, b) => a != b }}")
  }

  private def cellDeg(level: Int): Double = 360.0 / (1L << level)

  /** Closed ring through (cx + r_k cos a_k, cy + r_k sin a_k) at sorted
    * random angles: simple and star-shaped around the centre. */
  private def star(r: scala.util.Random, cx: Double, cy: Double, rMin: Double, rMax: Double,
                   n: Int, ccw: Boolean = true): Array[Double] = {
    val as = Array.fill(n)(r.nextDouble() * 2 * math.Pi).sorted
    val pts = as.flatMap { a =>
      val rad = rMin + (rMax - rMin) * r.nextDouble()
      Array(cx + rad * math.cos(a), cy + rad * math.sin(a))
    }
    val ring = pts ++ pts.take(2)
    if (ccw) ring else ring.grouped(2).toArray.reverse.flatten
  }

  private def randomCentre(r: scala.util.Random): (Double, Double) =
    (-170 + 340 * r.nextDouble(), -75 + 150 * r.nextDouble())

  test("random stars, stars with holes and MultiPolygons match the relate loop at levels 4-12") {
    val r = new scala.util.Random(20261017L)
    for (level <- 4 to 12; trial <- 0 until 12) {
      val s = cellDeg(level) * (0.3 + 6 * r.nextDouble())
      val (cx, cy) = randomCentre(r)
      val shell = star(r, cx, cy, 0.5 * s, s, 3 + r.nextInt(14))
      check(Polygon(Array(shell)), level, s"star $trial")
      val hole = star(r, cx, cy, 0.1 * s, 0.45 * s, 3 + r.nextInt(8), ccw = false)
      val holed = Polygon(Array(shell, hole))
      check(holed, level, s"holed star $trial")
      val (dx, dy) = (cx + 2.5 * s, cy + (r.nextDouble() - 0.5) * s)
      val other = Polygon(Array(star(r, dx, dy, 0.3 * s, 0.9 * s, 3 + r.nextInt(10))))
      check(MultiPolygon(Array(holed.rings, other.rings)), level, s"multipolygon $trial")
    }
  }

  test("rectangles on and off the fast path match the relate loop") {
    val r = new scala.util.Random(7L)
    for (level <- 4 to 12; trial <- 0 until 8) {
      val s = cellDeg(level) * (0.2 + 5 * r.nextDouble())
      val (x0, y0) = randomCentre(r)
      val (x1, y1) = (x0 + s * (0.3 + r.nextDouble()), y0 + s * (0.3 + r.nextDouble()))
      val plain = Env(x0, y0, x1, y1).toPolygon
      check(plain, level, s"rect $trial")
      // an extra vertex mid-edge takes it off the fast path
      val withMid = Polygon(Array(Array(x0, y0, (x0 + x1) / 2, y0, x1, y0, x1, y1, x0, y1, x0, y0)))
      check(withMid, level, s"rect+vertex $trial")
      check(MultiPolygon(Array(plain.rings, Env(x1 + s, y0, x1 + 2 * s, y1).toPolygon.rings)),
        level, s"two rects $trial")
      // rotated by a random angle about its centre
      val (mx, my) = ((x0 + x1) / 2, (y0 + y1) / 2)
      val a = r.nextDouble() * math.Pi
      val rot = plain.rings(0).grouped(2).flatMap { case Array(x, y) =>
        Array(mx + (x - mx) * math.cos(a) - (y - my) * math.sin(a),
              my + (x - mx) * math.sin(a) + (y - my) * math.cos(a))
      }.toArray
      check(Polygon(Array(rot)), level, s"rotated rect $trial")
    }
  }

  test("a polygon inside one cell covers exactly that cell") {
    val r = new scala.util.Random(11L)
    for (level <- 4 to 12; trial <- 0 until 10) {
      val (lon, lat) = randomCentre(r)
      val e = Cells.cellEnvelope(Cells.cellId(lon, lat, level), level)
      val (cx, cy) = ((e.xmin + e.xmax) / 2, (e.ymin + e.ymax) / 2)
      val rad = 0.3 * math.min(e.width, e.height)
      val g = Polygon(Array(star(r, cx, cy, 0.2 * rad, rad, 3 + r.nextInt(9))))
      check(g, level, s"in-cell star $trial")
      assert(Cells.cover(g, level).sameElements(Array(Cells.cellId(cx, cy, level))))
    }
  }

  test("edges and vertices lying exactly on cell lines match the relate loop") {
    val r = new scala.util.Random(3L)
    for (level <- 4 to 12; trial <- 0 until 10) {
      val n = (1L << level).toDouble
      val tx = (r.nextInt(1 << level) max 2) min ((1 << level) - 8)
      val ty = (r.nextInt(1 << level) max 8) min ((1 << level) - 8)
      def gx(i: Int) = Cells.tileXToLon((tx + i) / n)
      def gy(j: Int) = Cells.tileYToLat((ty + j) / n)
      // an L of whole cells, its edges on cell lines
      val ell = Polygon(Array(Array(gx(0), gy(0), gx(3), gy(0), gx(3), gy(1), gx(1), gy(1),
        gx(1), gy(3), gx(0), gy(3), gx(0), gy(0))))
      check(ell, level, s"L $trial")
      // triangles with corners on cell corners: diagonals through corners
      val tri = Polygon(Array(Array(gx(0), gy(0), gx(4), gy(0), gx(0), gy(4), gx(0), gy(0))))
      check(tri, level, s"corner triangle $trial")
      // a star centred on a cell corner, one vertex pinned to the corner
      val ring = star(r, gx(2), gy(2), 0.3 * cellDeg(level), 2.5 * cellDeg(level), 7)
      ring(0) = gx(3); ring(1) = gy(2)
      ring(ring.length - 2) = gx(3); ring(ring.length - 1) = gy(2)
      check(Polygon(Array(ring)), level, s"pinned star $trial")
      // a square hole whose sides are cell lines
      val holed = Polygon(Array(
        Array(gx(-1), gy(-1), gx(5), gy(-1), gx(5), gy(5), gx(-1), gy(5), gx(-1), gy(-1)),
        Array(gx(1), gy(1), gx(1), gy(3), gx(3), gy(3), gx(3), gy(1), gx(1), gy(1))))
      check(holed, level, s"cell-line hole $trial")
      // a one-cell hole a hair wider or narrower than its cell: the cell
      // misses the polygon by d, or meets it in a strip d wide
      for (d <- Seq(1e-12, 1e-9, 3e-8, 1e-6, -1e-12, -1e-9, -3e-8, -1e-6)) {
        val (hx0, hx1, hy0, hy1) = (gx(2) - d, gx(3) + d, gy(3) - d, gy(2) + d)
        val notch = Polygon(Array(
          Array(gx(0), gy(5), gx(5), gy(5), gx(5), gy(0), gx(0), gy(0), gx(0), gy(5)),
          Array(hx0, hy0, hx0, hy1, hx1, hy1, hx1, hy0, hx0, hy0)))
        check(notch, level, s"hole off its cell by $d, trial $trial")
      }
    }
  }

  test("non-polygonal geometries keep the relate loop") {
    val r = new scala.util.Random(5L)
    for (level <- Seq(4, 8, 12)) {
      val s = cellDeg(level) * 4
      val (cx, cy) = randomCentre(r)
      check(LineString(Array(cx, cy, cx + s, cy + 0.7 * s, cx + 0.2 * s, cy + s)), level, "line")
      check(Point(cx, cy), level, "point")
    }
  }
}
