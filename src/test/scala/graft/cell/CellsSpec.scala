package graft.cell

import graft.geom.{Env, Wkt}
import org.scalatest.funsuite.AnyFunSuite

/** Cell scheme properties (SURVEY.md §5.2 item 3) over deterministic samples. */
class CellsSpec extends AnyFunSuite {

  var state = 42L
  def next(): Long = { state ^= state << 13; state ^= state >>> 7; state ^= state << 17; state }
  def frac(): Double = (next() >>> 11).toDouble / (1L << 53).toDouble
  def lon(): Double = -179.999 + 359.998 * frac()
  def lat(): Double = -84.9 + 169.8 * frac()
  def level(): Int = 1 + ((next() >>> 40) % 20).toInt

  val N = 2000

  test("morton bijectivity") {
    (0 until N).foreach { _ =>
      val x = next() & ((1L << 30) - 1); val y = next() & ((1L << 30) - 1)
      val m = Cells.morton(x, y)
      assert(Cells.mortonX(m) == x && Cells.mortonY(m) == y)
    }
  }

  test("prefix nesting: parent range contains child cell") {
    (0 until N).foreach { _ =>
      val (lo, la, lvl) = (lon(), lat(), level())
      val child = Cells.cellId(lo, la, lvl)
      val pl = math.max(0, lvl - 3)
      val parent = Cells.parent(child, lvl, pl)
      val (s, e) = Cells.childRange(parent, pl, lvl)
      assert(child >= s && child < e)
      assert(parent == Cells.cellId(lo, la, pl))
    }
  }

  test("cell envelope contains its point") {
    (0 until N).foreach { _ =>
      val (lo, la, lvl) = (lon(), lat(), level())
      val cell = Cells.cellId(lo, la, lvl)
      val env = Cells.cellEnvelope(cell, lvl)
      assert(env.buffer(1e-9).contains(lo, la), s"$env vs ($lo,$la) @$lvl")
    }
  }

  test("cover soundness: point in geom => point's cell in cover") {
    (0 until 200).foreach { _ =>
      val lo = lon(); val la = lat()
      val x1 = math.min(179.999, lo + 0.01 + 5 * frac())
      val y1 = math.min(84.9, la + 0.01 + 5 * frac())
      val lvl = 4 + ((next() >>> 40) % 7).toInt
      val rect = Env(lo, la, x1, y1).toPolygon
      val cover = Cells.cover(rect, lvl).toSet
      Seq((lo + (x1 - lo) * 0.1, la + (y1 - la) * 0.9),
          ((lo + x1) / 2, (la + y1) / 2),
          (x1 - 1e-9, y1 - 1e-9)).foreach { case (px, py) =>
        assert(cover.contains(Cells.cellId(px, py, lvl)), s"probe ($px,$py) @$lvl rect=$rect")
      }
    }
    // polar triangles, north and south, wholly past ±MAX_LAT: cellId
    // clamps their points into the grid's edge rows, which the cover must
    // hold (not a rectangle, so the per-cell tests decide)
    val r = new scala.util.Random(85)
    (0 until 100).foreach { i =>
      val s = if (i % 2 == 0) 1.0 else -1.0
      val x0 = -179.0 + 350.0 * r.nextDouble(); val w = 0.5 + 8 * r.nextDouble()
      val y0 = s * (85.2 + 2 * r.nextDouble()); val y1 = s * (87.5 + 2.4 * r.nextDouble())
      val tri = Wkt.read(s"POLYGON (($x0 $y0, ${x0 + w} $y0, ${x0 + w / 2} $y1, $x0 $y0))")
      val lvl = 2 + r.nextInt(10)
      val cover = Cells.cover(tri, lvl).toSet
      Seq((x0 + w / 2, (2 * y0 + y1) / 3), (x0 + w / 2, y0 + (y1 - y0) * 0.9),
          (x0 + w * 0.3, y0 + (y1 - y0) * 0.1)).foreach { case (px, py) =>
        assert(cover.contains(Cells.cellId(px, py, lvl)), s"probe ($px,$py) @$lvl tri=$tri")
      }
    }
    assert(Cells.cover(Wkt.read("POLYGON ((0 86, 20 86, 10 89, 0 86))"), 8)
      .contains(Cells.cellId(10, 87, 8)))
    // triangles wholly past ±180° longitude: cellId clamps their points
    // into the grid's first and last columns, which the cover must hold
    Seq(("POLYGON ((185 10, 190 10, 187 15, 185 10))", 187.0),
        ("POLYGON ((-185 10, -187 15, -190 10, -185 10))", -187.0)).foreach { case (wkt, px) =>
      (2 to 12).foreach { lvl =>
        val cover = Cells.cover(Wkt.read(wkt), lvl).toSet
        assert(cover.contains(Cells.cellId(px, 12, lvl)), s"probe ($px,12) @$lvl tri=$wkt")
      }
    }
  }

  test("known golden vectors") {
    // level 1: world split in 4; (0,0)+ε is the NE quadrant → tx=1, ty=0
    assert(Cells.cellId(1.0, 1.0, 1) == Cells.morton(1, 0))
    assert(Cells.cellId(-1.0, 1.0, 1) == Cells.morton(0, 0))
    assert(Cells.cellId(-1.0, -1.0, 1) == Cells.morton(0, 1))
    assert(Cells.cellId(1.0, -1.0, 1) == Cells.morton(1, 1))
    // zoom-8 slippy tile of Rome (12.5, 41.9) is (136, 95) — standard XYZ
    assert(Cells.tileX(12.5, 8) == 136 && Cells.tileY(41.9, 8) == 95)
    assert(Cells.cellId(100, 80, 0) == 0)
  }

  test("ring r=1 has 8 cells in grid interior and wraps at antimeridian") {
    val c = Cells.cellId(0.0, 0.0, 8)
    assert(Cells.ring(c, 8, 1).length == 8)
    assert(Cells.ring(c, 8, 0).sameElements(Array(c)))
    val edge = Cells.morton(0, 128) // tx=0 → wraps to tx=255
    val ring = Cells.ring(edge, 8, 1)
    assert(ring.length == 8)
    assert(ring.contains(Cells.morton(255, 128)))
  }

  // ---------------- spherical cube-face cells (r4 cont.) ----------------

  private def sphereRand(n: Int, seed: Long): Seq[(Double, Double)] = {
    var state = seed
    def frac(): Double = {
      state ^= state << 13; state ^= state >>> 7; state ^= state << 17
      (state >>> 11).toDouble / (1L << 53).toDouble
    }
    // uniform on the sphere: lon uniform, sin(lat) uniform
    (0 until n).map { _ =>
      val lon = -180.0 + 360.0 * frac()
      val lat = math.toDegrees(math.asin(-1.0 + 2.0 * frac()))
      (lon, lat)
    }
  }

  test("sphere cells: one id per point, ids in range, prefix nesting") {
    sphereRand(5000, 8675309L).foreach { case (lon, lat) =>
      val c10 = Cells.cellIdSphere(lon, lat, 10)
      assert(c10 >= 0 && c10 < 6L * (1L << 20), s"($lon,$lat) id $c10")
      // parent at every coarser level is a plain right-shift AND equals
      // re-encoding at that level (the nesting contract)
      (0 to 9).foreach { lp =>
        assert(Cells.parentSphere(c10, 10, lp) == Cells.cellIdSphere(lon, lat, lp),
          s"($lon,$lat) level $lp")
      }
    }
  }

  test("sphere cells cover the poles the mercator grid clamps away") {
    // mercator: everything north of 85.05° collapses into the clamped row
    val mercA = Cells.cellId(10.0, 88.0, 10)
    val mercB = Cells.cellId(10.0, 89.9, 10)
    assert(mercA == mercB, "mercator clamp (expected, documents the gap)")
    // sphere cells keep resolving up there
    val sphA = Cells.cellIdSphere(10.0, 88.0, 10)
    val sphB = Cells.cellIdSphere(10.0, 89.9, 10)
    assert(sphA != sphB, "sphere cells must distinguish high-latitude points")
    // both poles resolve on the ±z faces
    assert(Cells.cellIdSphere(0.0, 90.0, 10) >> 20 == 2L)
    assert(Cells.cellIdSphere(0.0, -90.0, 10) >> 20 == 5L)
  }

  test("tan reprojection keeps occupancy near-uniform vs mercator blowup") {
    val pts = sphereRand(120000, 424242L)
    // level-3 cells: 6*64 = 384 sphere cells vs 64 mercator rows... use
    // counts-per-cell coefficient: max/mean occupancy
    def stats(ids: Seq[Long]): (Double, Double) = {
      val byId = ids.groupBy(identity).view.mapValues(_.size).values.toSeq
      (byId.max.toDouble, ids.size.toDouble / byId.size)
    }
    val (maxS, meanS) = stats(pts.map { case (lon, lat) => Cells.cellIdSphere(lon, lat, 3) })
    val (maxM, meanM) = stats(pts.map { case (lon, lat) => Cells.cellId(lon, lat, 3) })
    // sphere: every cell within ~2.1x of the mean (tan projection bound
    // ~1.4 area ratio + sampling noise); mercator: polar rows overflow
    assert(maxS / meanS < 2.1, s"sphere max/mean ${maxS / meanS}")
    assert(maxM / meanM > maxS / meanS,
      s"mercator should be MORE skewed: ${maxM / meanM} vs ${maxS / meanS}")
  }

  test("geohash: canonical values, prefix nesting, range clamps (r5)") {
    // the textbook example (geohash.org): (42.605, -5.603) -> ezs42 at p=5
    assert(Cells.geohash(-5.603, 42.605, 5) == "ezs42")
    assert(Cells.geohash(-5.603, 42.605, 9).startsWith("ezs42"))
    // well-known: Jutland "u4pruydqqvj" (57.64911, 10.40744)
    assert(Cells.geohash(10.40744, 57.64911, 11) == "u4pruydqqvj")
    // prefix-truncation = parent, exactly (floor composition)
    var st = 424242L
    def frac(): Double = {
      st ^= st << 13; st ^= st >>> 7; st ^= st << 17
      (st >>> 11).toDouble / (1L << 53).toDouble
    }
    (0 until 2000).foreach { _ =>
      val lon = -180.0 + 360.0 * frac(); val lat = -90.0 + 180.0 * frac()
      val g12 = Cells.geohash(lon, lat, 12)
      (1 to 11).foreach(p => assert(Cells.geohash(lon, lat, p) == g12.take(p)))
    }
    // decode returns the cell CENTER: re-encoding it at the same (or any
    // coarser) precision reproduces the hash exactly
    (0 until 500).foreach { _ =>
      val lon = -180.0 + 360.0 * frac(); val lat = -90.0 + 180.0 * frac()
      val p = 1 + (frac() * 11).toInt
      val g = Cells.geohash(lon, lat, p)
      val (clon, clat) = Cells.geohashDecode(g)
      assert(Cells.geohash(clon, clat, p) == g, s"roundtrip $g")
      assert(math.abs(clon - lon) <= 360.0 / (1L << ((5 * p + 1) / 2)))
    }
    // boundary clamps never throw or emit out-of-alphabet chars
    Seq((-180.0, -90.0), (180.0, 90.0), (0.0, 0.0), (179.9999999, 89.9999999))
      .foreach { case (lon, lat) =>
        val g = Cells.geohash(lon, lat, 12)
        assert(g.length == 12 && g.forall("0123456789bcdefghjkmnpqrstuvwxyz".contains(_)))
      }
  }

  test("quadkey: canonical digits, prefix=ancestor, decode round-trip, Morton order (r5)") {
    // Bing tile-system worked example (public spec): tile (3, 5) at z=3 → "213"
    assert(Cells.quadkeyOfTile(3L, 5L, 3) == "213")
    assert(Cells.quadkeyTile("213") == (3L, 5L))
    // zoom-1 quadrants
    assert(Cells.quadkeyOfTile(0, 0, 1) == "0" && Cells.quadkeyOfTile(1, 0, 1) == "1")
    assert(Cells.quadkeyOfTile(0, 1, 1) == "2" && Cells.quadkeyOfTile(1, 1, 1) == "3")
    var st = 99991L
    def frac(): Double = {
      st ^= st << 13; st ^= st >>> 7; st ^= st << 17
      (st >>> 11).toDouble / (1L << 53).toDouble
    }
    (0 until 2000).foreach { _ =>
      val lon = -180.0 + 360.0 * frac(); val lat = -90.0 + 180.0 * frac()
      val q20 = Cells.quadkey(lon, lat, 20)
      // prefix-truncation = ancestor tile at every coarser zoom
      (1 until 20).foreach(z => assert(Cells.quadkey(lon, lat, z) == q20.take(z)))
      // decode inverts encode, and (tx, ty) match tileX/tileY directly
      val (tx, ty) = Cells.quadkeyTile(q20)
      assert(tx == Cells.tileX(lon, 20) && ty == Cells.tileY(lat, 20))
      // same-zoom lexicographic order == Morton order of the tiles
      val lon2 = -180.0 + 360.0 * frac(); val lat2 = -90.0 + 180.0 * frac()
      val q2 = Cells.quadkey(lon2, lat2, 20)
      val m1 = Cells.cellId(lon, lat, 20); val m2 = Cells.cellId(lon2, lat2, 20)
      assert(Integer.signum(q20.compareTo(q2)) == java.lang.Long.compare(m1, m2).sign)
    }
    // clamps at the poles / antimeridian stay in-range
    Seq((-180.0, -90.0), (180.0, 90.0), (179.9999999, 89.9999999)).foreach { case (lon, lat) =>
      val q = Cells.quadkey(lon, lat, 23)
      assert(q.length == 23 && q.forall(c => c >= '0' && c <= '3'))
    }
  }

  test("hexbin assigns the nearest hex center (r5)") {
    val sizes = Seq(0.013, 1.0, 2.5, 47.0)
    (0 until N).foreach { i =>
      val s = sizes(i % sizes.length)
      val x = (frac() - 0.5) * 300.0; val y = (frac() - 0.5) * 160.0
      val id = Cells.hexbin(x, y, s)
      val cx = Cells.hexCenterX(id, s); val cy = Cells.hexCenterY(id, s)
      val d0 = math.hypot(x - cx, y - cy)
      // within the circumradius of the assigned bin...
      assert(d0 <= s + 1e-9, s"point ($x,$y) size $s dist $d0")
      // ...and no neighboring bin center is strictly closer
      val q = Cells.hexQ(id); val r = Cells.hexR(id)
      for (dq <- -2 to 2; dr <- -2 to 2 if dq != 0 || dr != 0) {
        val nid = ((q + dq).toLong << 32) | ((r + dr).toLong & 0xFFFFFFFFL)
        val d = math.hypot(x - Cells.hexCenterX(nid, s), y - Cells.hexCenterY(nid, s))
        assert(d >= d0 - 1e-9, s"neighbor ($dq,$dr) closer: $d < $d0")
      }
    }
  }

  test("hexbin center round-trips to its own bin; ids pack/unpack (r5)") {
    (0 until N).foreach { _ =>
      val s = 0.5 + 3.0 * frac()
      val x = (frac() - 0.5) * 300.0; val y = (frac() - 0.5) * 160.0
      val id = Cells.hexbin(x, y, s)
      assert(Cells.hexbin(Cells.hexCenterX(id, s), Cells.hexCenterY(id, s), s) == id)
      // negative-coordinate packing round-trip
      val q = Cells.hexQ(id); val r = Cells.hexR(id)
      assert(((q.toLong << 32) | (r.toLong & 0xFFFFFFFFL)) == id)
    }
  }

  test("hexPolygon tiles the bin: area + vertex membership (r5)") {
    val s = 2.5
    (0 until 200).foreach { _ =>
      val x = (frac() - 0.5) * 300.0; val y = (frac() - 0.5) * 160.0
      val id = Cells.hexbin(x, y, s)
      val hexp = Cells.hexPolygon(id, s)
      // area of a regular hexagon with circumradius s
      assert(math.abs(graft.geom.Ops.area(hexp) - 3.0 * math.sqrt(3.0) / 2.0 * s * s) < 1e-9)
      val cx = Cells.hexCenterX(id, s); val cy = Cells.hexCenterY(id, s)
      assert(graft.geom.Pred.intersects(graft.geom.Point(cx, cy), hexp))
      // points just inside each vertex still bin to this hex
      val ring = hexp.rings(0)
      (0 until 6).foreach { k =>
        val px = cx + (ring(2 * k) - cx) * 0.999
        val py = cy + (ring(2 * k + 1) - cy) * 0.999
        assert(Cells.hexbin(px, py, s) == id, s"vertex $k of bin $id")
      }
    }
  }
}
