package graft.cell

import graft.geom.{Env, Geometry, Pred}
import scala.collection.mutable.ArrayBuffer

/**
 * S2/H3-style cell indexing, from scratch (SURVEY.md §2.6 #44): a 64-bit
 * Z-order (Morton) quadtree over the web-mercator unit square.
 *
 * - `tileX/tileY(lon, lat, level)`: web-mercator tile indices (the same
 *   XYZ scheme slippy-map tiles use, so #48 tiling is level-z cells).
 * - `cellId(lon, lat, level)` = Morton interleave of (tileX, tileY):
 *   x in even bits, y in odd bits. At a fixed level this is
 *   ANSI-SQL-expressible via unrolled shift/mask arithmetic (design
 *   constraint for the DuckDB oracle), see [[mortonSqlExpr]].
 * - parent/child cells nest as bit-prefixes: parent range of a level-L
 *   cell at level Lp is [p << 2(L-Lp), (p+1) << 2(L-Lp)) — contiguous,
 *   so covers prune with range predicates and sort locality holds.
 *
 * Scale rationale: the Morton curve keeps spatially-near images in
 * near-contiguous cell ranges, so a sort/bucket by cellId co-locates the
 * data parquet row-groups touched by a spatial range — min/max column
 * stats then prune at 100 TB.
 */
object Cells {

  val MAX_LEVEL = 30
  val MAX_LAT = 85.05112877980659

  /** Normalized web-mercator x in [0,1). */
  def normX(lon: Double): Double = {
    val x = (lon + 180.0) / 360.0
    if (x < 0) 0.0 else if (x >= 1) math.nextDown(1.0) else x
  }

  /** Normalized web-mercator y in [0,1) (y grows southward, slippy convention). */
  def normY(lat: Double): Double = {
    val clamped = math.max(-MAX_LAT, math.min(MAX_LAT, lat))
    val s = math.sin(math.toRadians(clamped))
    val y = 0.5 - math.log((1 + s) / (1 - s)) / (4 * math.Pi)
    if (y < 0) 0.0 else if (y >= 1) math.nextDown(1.0) else y
  }

  def tileX(lon: Double, level: Int): Long = {
    val t = (normX(lon) * (1L << level)).toLong
    math.min(t, (1L << level) - 1)
  }

  def tileY(lat: Double, level: Int): Long = {
    val t = (normY(lat) * (1L << level)).toLong
    math.min(t, (1L << level) - 1)
  }

  /** Spread the low 32 bits of v into even bit positions. */
  def spread(v: Long): Long = {
    var x = v & 0xFFFFFFFFL
    x = (x | (x << 16)) & 0x0000FFFF0000FFFFL
    x = (x | (x << 8))  & 0x00FF00FF00FF00FFL
    x = (x | (x << 4))  & 0x0F0F0F0F0F0F0F0FL
    x = (x | (x << 2))  & 0x3333333333333333L
    x = (x | (x << 1))  & 0x5555555555555555L
    x
  }

  /** Inverse of spread: gather even bit positions into the low 32 bits. */
  def compact(v: Long): Long = {
    var x = v & 0x5555555555555555L
    x = (x | (x >>> 1)) & 0x3333333333333333L
    x = (x | (x >>> 2)) & 0x0F0F0F0F0F0F0F0FL
    x = (x | (x >>> 4)) & 0x00FF00FF00FF00FFL
    x = (x | (x >>> 8)) & 0x0000FFFF0000FFFFL
    x = (x | (x >>> 16)) & 0x00000000FFFFFFFFL
    x
  }

  def morton(tx: Long, ty: Long): Long = spread(tx) | (spread(ty) << 1)
  def mortonX(cell: Long): Long = compact(cell)
  def mortonY(cell: Long): Long = compact(cell >>> 1)

  /**
   * Hilbert-curve index of grid cell (tx, ty) on the 2^order × 2^order
   * grid — the canonical per-bit xy2d walk (quadrant digit + reflect/swap
   * rotation). Unlike Morton, CONSECUTIVE indices are always grid-adjacent
   * (unit Manhattan step, HilbertSpec proves it exhaustively), which is
   * what makes Hilbert the stronger clustered-layout key: a contiguous
   * index range is a compact blob, never Morton's quadrant-seam jumps.
   * Supports order ≤ 31 (d fits a non-negative Long).
   */
  def hilbert(tx: Long, ty: Long, order: Int): Long = {
    require(order >= 1 && order <= 31, s"hilbert order out of range: $order")
    val n = 1L << order
    require(tx >= 0 && tx < n && ty >= 0 && ty < n, s"cell ($tx,$ty) outside 2^$order grid")
    var x = tx; var y = ty; var d = 0L
    var s = n >> 1
    while (s > 0) {
      val rx = if ((x & s) != 0L) 1L else 0L
      val ry = if ((y & s) != 0L) 1L else 0L
      d += s * s * ((3L * rx) ^ ry)
      if (ry == 0L) { // reflect (rx==1) then swap
        val nx = if (rx == 1L) n - 1 - y else y
        val ny = if (rx == 1L) n - 1 - x else x
        x = nx; y = ny
      }
      s >>= 1
    }
    d
  }

  /** Inverse of [[hilbert]] — index d back to (tx, ty). Test/debug aid. */
  def hilbertXY(d: Long, order: Int): (Long, Long) = {
    val n = 1L << order
    var x = 0L; var y = 0L; var t = d
    var s = 1L
    while (s < n) {
      val rx = 1L & (t / 2)
      val ry = 1L & (t ^ rx)
      if (ry == 0L) {
        if (rx == 1L) { x = s - 1 - x; y = s - 1 - y }
        val tmp = x; x = y; y = tmp
      }
      x += s * rx; y += s * ry
      t /= 4
      s <<= 1
    }
    (x, y)
  }

  /** Level-L cell id of a lon/lat point. */
  def cellId(lon: Double, lat: Double, level: Int): Long =
    morton(tileX(lon, level), tileY(lat, level))

  /** Level-L cell id from normalized unit-square coords (kNN metric space). */
  def cellIdNorm(nx: Double, ny: Double, level: Int): Long = {
    val n = 1L << level
    val tx = math.min(math.max((nx * n).toLong, 0L), n - 1)
    val ty = math.min(math.max((ny * n).toLong, 0L), n - 1)
    morton(tx, ty)
  }

  /** Parent cell id at a coarser level. */
  def parent(cell: Long, level: Int, parentLevel: Int): Long =
    cell >>> (2 * (level - parentLevel))

  /** [start, end) of level-L descendants of a level-Lp cell. */
  def childRange(cell: Long, parentLevel: Int, level: Int): (Long, Long) = {
    val shift = 2 * (level - parentLevel)
    (cell << shift, (cell + 1) << shift)
  }

  /** Envelope (lon/lat) of a cell. */
  def cellEnvelope(cell: Long, level: Int): Env = {
    val tx = mortonX(cell); val ty = mortonY(cell)
    val n = (1L << level).toDouble
    Env(tileXToLon(tx / n), tileYToLat((ty + 1) / n), tileXToLon((tx + 1) / n), tileYToLat(ty / n))
  }

  def tileXToLon(nx: Double): Double = nx * 360.0 - 180.0
  def tileYToLat(ny: Double): Double =
    math.toDegrees(math.atan(math.sinh(math.Pi * (1 - 2 * ny))))

  /**
   * Level-L cells covering a geometry (via its envelope tile range, refined
   * by exact cell-rect × geometry intersection). Soundness lemma (tested):
   * pointInGeom(p) ⇒ cellId(p, L) ∈ cover(geom, L).
   *
   * Cells come in row-major order over the envelope's tile range. An
   * axis-aligned rectangle takes every cell of the range; otherwise a cell
   * is in when `Pred.intersects(cellRect, g)`. Polygons and MultiPolygons
   * skip that relate wherever its answer is certain, with a margin `tol` =
   * 1e-9 × the largest coordinate magnitude (at least 1e-9):
   *  - an edge (a vertex included) meets the cell shrunk by `tol` ⇒ in;
   *  - the cell centre inside (`pointInPolygonal == 1`) ⇒ in;
   *  - otherwise, no edge meets the cell grown by `tol` ⇒ out;
   *  - otherwise the relate decides.
   * Other geometry types run the relate for every cell. Since cellId
   * clamps latitudes past ±MAX_LAT into the grid's top and bottom rows,
   * and longitudes past ±180° into its first and last columns, those
   * rows and columns are tested as reaching out to the envelope's edge
   * there.
   */
  def cover(g: Geometry, level: Int, maxCells: Int = 1 << 20): Array[Long] = {
    val env = g.envelope
    if (env.isEmpty) return Array.empty
    val span = tileSpan(env, level)
    // explicit scale guard: a cover that large means the caller picked a level
    // far too fine for the geometry — fail loudly rather than OOM an executor
    if (span > maxCells.toLong)
      throw new IllegalArgumentException(
        s"st_cover would emit $span cells at level $level (cap $maxCells); use a coarser level")
    coverEnvAtLevel(env, g, level)
  }

  private def tileSpan(env: Env, level: Int): Long = {
    val x0 = tileX(env.xmin, level); val x1 = tileX(env.xmax, level)
    val y0 = tileY(env.ymax, level); val y1 = tileY(env.ymin, level)
    (x1 - x0 + 1) * (y1 - y0 + 1)
  }

  private def coverEnvAtLevel(env: Env, g: Geometry, level: Int): Array[Long] = {
    val x0 = tileX(env.xmin, level); val x1 = tileX(env.xmax, level)
    val y0 = tileY(env.ymax, level); val y1 = tileY(env.ymin, level) // y inverted
    val isRect = isRectangle(g)
    val polys = g match {
      case p: graft.geom.Polygon => Array(p.rings)
      case m: graft.geom.MultiPolygon => m.polys
      case _ => null
    }
    val decided = if (isRect || polys == null) null else coverDecide(polys, env, x0, x1, y0, y1, level)
    val nx = (x1 - x0 + 1).toInt
    val out = new ArrayBuffer[Long]()
    var ty = y0
    while (ty <= y1) {
      var tx = x0
      while (tx <= x1) {
        val cell = morton(tx, ty)
        val d = if (decided == null) Undecided else decided((ty - y0).toInt * nx + (tx - x0).toInt)
        if (isRect || d == In ||
            d == Undecided && Pred.intersects(coverCellEnvelope(cell, level, env).toPolygon, g)) out += cell
        tx += 1
      }
      ty += 1
    }
    out.toArray
  }

  /** [[cellEnvelope]] as [[cover]] tests it: the grid's top and bottom
    * rows reach out to `env` where it lies past ±MAX_LAT, and its first
    * and last columns where it lies past ±180°. */
  private def coverCellEnvelope(cell: Long, level: Int, env: Env): Env = {
    val e = cellEnvelope(cell, level)
    val tx = mortonX(cell); val ty = mortonY(cell)
    val last = (1L << level) - 1
    Env(if (tx == 0) math.min(e.xmin, env.xmin) else e.xmin,
      if (ty == last) math.min(e.ymin, env.ymin) else e.ymin,
      if (tx == last) math.max(e.xmax, env.xmax) else e.xmax,
      if (ty == 0) math.max(e.ymax, env.ymax) else e.ymax)
  }

  private final val Undecided: Byte = 0
  private final val In: Byte = 1
  private final val Out: Byte = 2
  /** Relative cover margin: far above the rounding of any coordinate
    * expression here, far below a level-20 cell. */
  private final val CoverTol = 1e-9

  /**
   * The cells of the tile range [x0, x1] × [y0, y1] of envelope `env`
   * whose cover answer is certain without the relate (see [[cover]]),
   * row-major: In, Out or Undecided. Null when a coordinate is not finite.
   */
  private def coverDecide(polys: Array[Array[Array[Double]]], env: Env, x0: Long, x1: Long,
                          y0: Long, y1: Long, level: Int): Array[Byte] = {
    val nx = (x1 - x0 + 1).toInt; val ny = (y1 - y0 + 1).toInt
    val n = (1L << level).toDouble
    // cell edges, the same expressions as coverCellEnvelope: column i spans
    // [xs(i), xs(i+1)], row j spans [ys(j+1), ys(j)] (ys descends)
    val xs = Array.tabulate(nx + 1)(i => tileXToLon((x0 + i) / n))
    val ys = Array.tabulate(ny + 1)(j => tileYToLat((y0 + j) / n))
    if (x0 == 0) xs(0) = math.min(xs(0), env.xmin)
    if (x1 == (1L << level) - 1) xs(nx) = math.max(xs(nx), env.xmax)
    if (y0 == 0) ys(0) = math.max(ys(0), env.ymax)
    if (y1 == (1L << level) - 1) ys(ny) = math.min(ys(ny), env.ymin)
    var scale = math.max(math.max(math.abs(xs(0)), math.abs(xs(nx))),
      math.max(math.abs(ys(0)), math.abs(ys(ny))))
    for (rs <- polys; r <- rs; v <- r) {
      if (v.isNaN || v.isInfinite) return null
      scale = math.max(scale, math.abs(v))
    }
    val tol = CoverTol * math.max(1.0, scale)
    // column of x and row of y by binary search over the cell edges, to
    // within one cell at a tie (the callers test the neighbours too)
    def colOf(x: Double): Int = {
      var lo = 0; var hi = nx + 1
      while (lo < hi) { val m = (lo + hi) >>> 1; if (xs(m) <= x) lo = m + 1 else hi = m }
      math.max(0, math.min(nx - 1, lo - 1))
    }
    def rowOf(y: Double): Int = {
      var lo = 0; var hi = ny + 1
      while (lo < hi) { val m = (lo + hi) >>> 1; if (ys(m) > y) lo = m + 1 else hi = m }
      math.max(0, math.min(ny - 1, lo - 1))
    }

    val VertexIn = 1; val Near = 2; val Crossed = 4
    val flag = new Array[Byte](nx * ny)
    // a vertex strictly inside a cell shrunk by tol settles that cell; most
    // covers need nothing more
    var open = nx * ny
    for (rs <- polys; r <- rs) {
      var k = 0
      while (open > 0 && k + 1 < r.length) {
        val x = r(k); val y = r(k + 1)
        val vi = colOf(x); val vj = rowOf(y)
        var i = math.max(0, vi - 1)
        while (i <= math.min(nx - 1, vi + 1)) {
          var j = math.max(0, vj - 1)
          while (j <= math.min(ny - 1, vj + 1)) {
            if (flag(j * nx + i) == 0 && xs(i) + tol < x && x < xs(i + 1) - tol &&
                ys(j + 1) + tol < y && y < ys(j) - tol) {
              flag(j * nx + i) = VertexIn.toByte; open -= 1
            }
            j += 1
          }
          i += 1
        }
        k += 2
      }
    }
    if (open == 0) return Array.fill(nx * ny)(In)

    // Sets `bit` on the cells of row j whose rect grown by m (shrunk when
    // m < 0) meets edge (ax, ay) → (bx, by): clip the edge to the row's
    // grown band, then test the x-extent of the clipped part. Rounding in
    // the clip is far below tol.
    def mark(j: Int, m: Double, ax: Double, ay: Double, bx: Double, by: Double, bit: Int): Unit = {
      val bot = ys(j + 1) - m; val top = ys(j) + m
      if (bot <= top && bot <= math.max(ay, by) && top >= math.min(ay, by)) {
        var ex0 = math.min(ax, bx); var ex1 = math.max(ax, bx)
        if (ay != by) {
          val t1 = (bot - ay) / (by - ay); val t2 = (top - ay) / (by - ay)
          val tlo = math.max(0.0, math.min(t1, t2)); val thi = math.min(1.0, math.max(t1, t2))
          val xa = ax + (bx - ax) * tlo; val xb = ax + (bx - ax) * thi
          ex0 = math.min(xa, xb); ex1 = math.max(xa, xb)
        }
        var i = math.max(0, colOf(ex0 - tol) - 1); val iEnd = math.min(nx - 1, colOf(ex1 + tol) + 1)
        while (i <= iEnd) {
          if (xs(i) - m <= ex1 && xs(i + 1) + m >= ex0 && xs(i) - m <= xs(i + 1) + m)
            flag(j * nx + i) = (flag(j * nx + i) | bit).toByte
          i += 1
        }
      }
    }
    for (rs <- polys; r <- rs) {
      var k = 0
      while (k + 3 < r.length) {
        val ax = r(k); val ay = r(k + 1); val bx = r(k + 2); val by = r(k + 3)
        var j = math.max(0, rowOf(math.max(ay, by) + tol) - 1)
        val jEnd = math.min(ny - 1, rowOf(math.min(ay, by) - tol) + 1)
        while (j <= jEnd) {
          // a boundary point strictly inside the cell shrunk by tol: the
          // 2·tol shrink leaves tol for the rounding of the clip
          mark(j, -2 * tol, ax, ay, bx, by, Crossed)
          mark(j, tol, ax, ay, bx, by, Near)
          j += 1
        }
        k += 2
      }
    }

    val out = new Array[Byte](nx * ny)
    var j = 0
    while (j < ny) {
      val cy = (ys(j) + ys(j + 1)) * 0.5
      var i = 0
      while (i < nx) {
        val f = flag(j * nx + i)
        out(j * nx + i) =
          if ((f & (VertexIn | Crossed)) != 0 ||
              Pred.pointInPolygonal(polys, (xs(i) + xs(i + 1)) * 0.5, cy) == 1) In
          else if ((f & Near) == 0) Out
          else Undecided
        i += 1
      }
      j += 1
    }
    out
  }

  private def isRectangle(g: Geometry): Boolean = g match {
    case p: graft.geom.Polygon if p.rings.length == 1 && p.rings(0).length == 10 =>
      val r = p.rings(0)
      val env = p.envelope
      var i = 0
      var ok = true
      while (i < 8) {
        val onCorner = (r(i) == env.xmin || r(i) == env.xmax) && (r(i + 1) == env.ymin || r(i + 1) == env.ymax)
        if (!onCorner) ok = false
        i += 2
      }
      ok
    case _ => false
  }

  /** Neighboring cells at ring distance r around a cell (Chebyshev ring). */
  def ring(cell: Long, level: Int, r: Int): Array[Long] = {
    if (r == 0) return Array(cell)
    val cx = mortonX(cell); val cy = mortonY(cell)
    val n = 1L << level
    val out = new ArrayBuffer[Long](8 * r)
    var dy = -r
    while (dy <= r) {
      var dx = -r
      while (dx <= r) {
        if (math.max(math.abs(dx), math.abs(dy)) == r) {
          val x = cx + dx
          var y = cy + dy
          if (y >= 0 && y < n) {
            // wrap x around the antimeridian
            val wx = ((x % n) + n) % n
            out += morton(wx, y)
          }
        }
        dx += 1
      }
      dy += 1
    }
    out.toArray
  }

  // ---------------- hex tessellation (r5) ----------------
  //
  // Pointy-top hexagonal binning over an arbitrary planar (x, y) frame —
  // the standard density-aggregation complement to the square Morton grid
  // (one codegen'd expression + groupBy = the whole heatmap job; no
  // neighbor structure is ever materialized). Axial coordinates (q, r)
  // with circumradius `size`; cube-rounding resolves the nearest hex
  // center. The id packs q in the high and r in the low 32 bits.
  //
  // Oracle contract (same as mortonSqlExpr): hexbinSqlExpr mirrors the
  // EXACT IEEE operation order below, so DuckDB reproduces the packed id
  // bit-for-bit. Rounding is floor(v + 0.5) on both sides — no reliance
  // on either engine's ROUND tie semantics (advisor r4, q74 finding).

  def hexbin(x: Double, y: Double, size: Double): Long = {
    val qf = (math.sqrt(3.0) / 3.0 * x - y / 3.0) / size
    val rf = (2.0 / 3.0 * y) / size
    val cy = -qf - rf
    var rx = math.floor(qf + 0.5)
    var ry = math.floor(cy + 0.5)
    var rz = math.floor(rf + 0.5)
    val dx = math.abs(rx - qf)
    val dy = math.abs(ry - cy)
    val dz = math.abs(rz - rf)
    if (dx > dy && dx > dz) rx = -ry - rz
    else if (dy > dz) ry = -rx - rz
    else rz = -rx - ry
    (rx.toLong << 32) | (rz.toLong & 0xFFFFFFFFL)
  }

  @inline def hexQ(id: Long): Int = (id >> 32).toInt
  @inline def hexR(id: Long): Int = id.toInt

  def hexCenterX(id: Long, size: Double): Double =
    size * math.sqrt(3.0) * (hexQ(id) + hexR(id) / 2.0)
  def hexCenterY(id: Long, size: Double): Double = size * 1.5 * hexR(id)

  /** The hexagon polygon of a bin (6 vertices, pointy-top, CCW, closed). */
  def hexPolygon(id: Long, size: Double): graft.geom.Polygon = {
    val cx = hexCenterX(id, size); val cy = hexCenterY(id, size)
    val ring = new Array[Double](14)
    var i = 0
    while (i < 6) {
      val a = math.Pi / 180.0 * (60.0 * i - 30.0)
      // CCW in a y-up frame; vertex 0 at angle -30° (pointy top at +90°)
      ring(2 * i) = cx + size * math.cos(a)
      ring(2 * i + 1) = cy + size * math.sin(a)
      i += 1
    }
    ring(12) = ring(0); ring(13) = ring(1)
    graft.geom.Polygon(Array(ring))
  }

  /**
   * DuckDB SQL mirror of [[hexbin]]: a derived table over `src` exposing
   * all of `src`'s columns plus integral-double `hex_fq`/`hex_fr` (the
   * axial bin coordinates) — identical operation order to the Scala, so
   * the bins hash-compare bit-exactly (mortonSqlExpr contract). The fix-up
   * step mirrors the branch structure: only the branch actually taken
   * rewrites its coordinate; (q, r) = (rx, rz) where case A rewrites rx
   * and case C rewrites rz (case B rewrites ry, which (q, r) never reads).
   */
  def hexbinSqlFrom(src: String, xCol: String, yCol: String, size: Double): String =
    s"""(SELECT * ,
           CASE WHEN ABS(rx - qf) > ABS(ry - cy) AND ABS(rx - qf) > ABS(rz - rf)
                THEN -ry - rz ELSE rx END AS hex_fq,
           CASE WHEN NOT (ABS(rx - qf) > ABS(ry - cy) AND ABS(rx - qf) > ABS(rz - rf))
                 AND NOT (ABS(ry - cy) > ABS(rz - rf))
                THEN -rx - ry ELSE rz END AS hex_fr
         FROM (SELECT * , FLOOR(qf + 0.5) AS rx, FLOOR(cy + 0.5) AS ry, FLOOR(rf + 0.5) AS rz
               FROM (SELECT * ,
                       (SQRT(3)/3 * ($xCol) - ($yCol)/3) / ($size) AS qf,
                       (2.0/3 * ($yCol)) / ($size) AS rf,
                       -((SQRT(3)/3 * ($xCol) - ($yCol)/3) / ($size)) - ((2.0/3 * ($yCol)) / ($size)) AS cy
                     FROM $src) h0) h1)"""

  /**
   * DuckDB-compatible ANSI SQL expression computing `cellId(lon, lat, L)`
   * (used to build oracle queries; keeps the engine and the oracle in
   * lock-step on the cell scheme — SURVEY §2.6 #44 design constraint).
   */
  def mortonSqlExpr(lonCol: String, latCol: String, level: Int): String = {
    val n = 1L << level
    val tx = s"CAST(LEAST(FLOOR((($lonCol + 180.0)/360.0) * $n), ${n - 1}) AS BIGINT)"
    val ty = s"CAST(LEAST(FLOOR((0.5 - LN((1 + SIN(RADIANS(LEAST(GREATEST($latCol, -85.05112877980659), 85.05112877980659)))) / (1 - SIN(RADIANS(LEAST(GREATEST($latCol, -85.05112877980659), 85.05112877980659))))) / (4*PI())) * $n), ${n - 1}) AS BIGINT)"
    def spreadSql(v: String): String = {
      var x = s"(($v) & 4294967295)"
      x = s"((($x) | (($x) << 16)) & 281470681808895)"
      x = s"((($x) | (($x) << 8)) & 71777214294589695)"
      x = s"((($x) | (($x) << 4)) & 1085102592571150095)"
      x = s"((($x) | (($x) << 2)) & 3689348814741910323)"
      x = s"((($x) | (($x) << 1)) & 6148914691236517205)"
      x
    }
    s"(${spreadSql(tx)} | (${spreadSql(ty)} << 1))"
  }

  // ---------------- geohash (r5) ----------------
  //
  // The base-32 interchange encoding users expect alongside the Morton id
  // (PostGIS ST_GeoHash). Defined here via FLOOR arithmetic on integer
  // cell indices (lon gets ⌈5p/2⌉ bits, lat ⌊5p/2⌋, alternating lon-first
  // per the public geohash spec) rather than the textbook bisection loop,
  // so the DuckDB oracle can mirror it closed-form with exact integer ops
  // — same lock-step constraint as mortonSqlExpr. Prefix-truncation =
  // parent cell, as with the Morton ids.

  private val GH32 = "0123456789bcdefghjkmnpqrstuvwxyz"

  def geohash(lon: Double, lat: Double, precision: Int): String = {
    require(precision >= 1 && precision <= 12, s"geohash precision $precision out of [1,12]")
    val bits = 5 * precision
    val nLon = (bits + 1) / 2
    val nLat = bits / 2
    val ix = math.min((1L << nLon) - 1,
      math.floor((lon + 180.0) / 360.0 * (1L << nLon)).toLong).max(0L)
    val iy = math.min((1L << nLat) - 1,
      math.floor((lat + 90.0) / 180.0 * (1L << nLat)).toLong).max(0L)
    // interleave lon-first: bit k of the stream (k=0 most significant)
    val sb = new java.lang.StringBuilder(precision)
    var k = 0
    var acc = 0
    while (k < bits) {
      val bit =
        if (k % 2 == 0) ((ix >>> (nLon - 1 - k / 2)) & 1L).toInt
        else ((iy >>> (nLat - 1 - k / 2)) & 1L).toInt
      acc = (acc << 1) | bit
      if (k % 5 == 4) { sb.append(GH32.charAt(acc)); acc = 0 }
      k += 1
    }
    sb.toString
  }

  /** Decode a geohash to its cell-CENTER (lon, lat) — the inverse of
    * [[geohash]] up to cell resolution: geohash(decode(g), |g|) == g. */
  def geohashDecode(s: String): (Double, Double) = {
    require(s.nonEmpty && s.length <= 12, s"geohash length ${s.length} out of [1,12]")
    val bits = 5 * s.length
    val nLon = (bits + 1) / 2
    val nLat = bits / 2
    var ix = 0L; var iy = 0L
    var k = 0
    s.foreach { ch =>
      val v = GH32.indexOf(ch.toLower)
      require(v >= 0, s"invalid geohash char '$ch'")
      var j = 4
      while (j >= 0) {
        val bit = (v >>> j) & 1
        if (k % 2 == 0) ix = (ix << 1) | bit else iy = (iy << 1) | bit
        j -= 1; k += 1
      }
    }
    (((ix + 0.5) / (1L << nLon)) * 360.0 - 180.0,
     ((iy + 0.5) / (1L << nLat)) * 180.0 - 90.0)
  }

  /** DuckDB SQL mirroring [[geohash]] exactly (integer arithmetic only). */
  def geohashSqlExpr(lonCol: String, latCol: String, precision: Int): String = {
    val bits = 5 * precision
    val nLon = (bits + 1) / 2
    val nLat = bits / 2
    val ix = s"GREATEST(LEAST(CAST(FLOOR((($lonCol) + 180.0) / 360.0 * ${1L << nLon}) AS BIGINT), ${(1L << nLon) - 1}), 0)"
    val iy = s"GREATEST(LEAST(CAST(FLOOR((($latCol) + 90.0) / 180.0 * ${1L << nLat}) AS BIGINT), ${(1L << nLat) - 1}), 0)"
    val chars = (0 until precision).map { c =>
      val charVal = (0 until 5).map { j =>
        val k = 5 * c + j
        val bit =
          if (k % 2 == 0) s"((($ix) >> ${nLon - 1 - k / 2}) & 1)"
          else s"((($iy) >> ${nLat - 1 - k / 2}) & 1)"
        s"(($bit) << ${4 - j})"
      }.mkString(" + ")
      s"SUBSTRING('$GH32', CAST(($charVal) AS INT) + 1, 1)"
    }
    chars.mkString("(", " || ", ")")
  }

  // ---------------- web-mercator quadkeys (north_rule term, r5) ----------
  // Bing-maps tile-system convention (public spec): the zoom-z tile
  // (tx, ty) is the z-character base-4 string whose k-th character (MSB
  // first) is 2·bit(ty, z-1-k) + bit(tx, z-1-k). Properties the tests and
  // the DuckDB oracle rely on: length(qk) = z; the zoom-(z-j) ancestor is
  // the (z-j)-prefix (tileX/tileY floor-then-clamp commutes with >> j);
  // lexicographic order of same-zoom quadkeys = Morton order of tiles.

  /** Quadkey string of tile (tx, ty) at zoom z. */
  def quadkeyOfTile(tx: Long, ty: Long, z: Int): String = {
    require(z >= 1 && z <= MAX_LEVEL, s"quadkey zoom $z out of [1,$MAX_LEVEL]")
    // out-of-range indices would silently alias (only the low z bits are
    // read), breaking the documented quadkeyTile inverse — reject instead
    require(tx >= 0 && tx < (1L << z) && ty >= 0 && ty < (1L << z),
      s"tile ($tx,$ty) out of range for zoom $z")
    val sb = new java.lang.StringBuilder(z)
    var k = z - 1
    while (k >= 0) {
      sb.append(('0' + (2L * ((ty >>> k) & 1L) + ((tx >>> k) & 1L)).toInt).toChar)
      k -= 1
    }
    sb.toString
  }

  /** Quadkey of the zoom-z web-mercator tile containing (lon, lat). */
  def quadkey(lon: Double, lat: Double, z: Int): String =
    quadkeyOfTile(tileX(lon, z), tileY(lat, z), z)

  /** (tx, ty) of a quadkey; the zoom is s.length. Inverse of
    * [[quadkeyOfTile]]: quadkeyTile(quadkeyOfTile(tx, ty, z)) == (tx, ty). */
  def quadkeyTile(s: String): (Long, Long) = {
    require(s.nonEmpty && s.length <= MAX_LEVEL,
      s"quadkey length ${s.length} out of [1,$MAX_LEVEL]")
    var tx = 0L; var ty = 0L
    var i = 0
    while (i < s.length) {
      val d = s.charAt(i) - '0'
      require(d >= 0 && d <= 3, s"invalid quadkey digit '${s.charAt(i)}'")
      tx = (tx << 1) | (d & 1L)
      ty = (ty << 1) | ((d >> 1) & 1L)
      i += 1
    }
    (tx, ty)
  }

  /** DuckDB SQL mirroring [[quadkeyOfTile]] exactly over integer tile-index
    * expressions (pure shift/mask arithmetic, same design constraint as
    * [[geohashSqlExpr]]). */
  def quadkeySqlExpr(txExpr: String, tyExpr: String, z: Int): String =
    (0 until z).map { k =>
      val sh = z - 1 - k
      s"SUBSTRING('0123', CAST(2*((($tyExpr) >> $sh) & 1) + ((($txExpr) >> $sh) & 1) AS INT) + 1, 1)"
    }.mkString("(", " || ", ")")

  // ---------------- spherical cube-face cells (S2-style, r4 cont.) -------
  //
  // The web-mercator Morton grid above clamps at ±85.05° and its cell AREA
  // diverges toward the poles — fine for web imagery, wrong for global
  // science data. This is the S2 remedy (public design: cube faces + a
  // per-face quadtree with an area-equalizing tangent reprojection), kept
  // Morton-indexed within each face so the id stays one BIGINT and stays
  // ANSI-SQL-expressible (design constraint #44, same as mortonSqlExpr).
  // Layout: cell = face · 4^L + morton(si, ti) — parents are still plain
  // right-shifts (face bits sit above the interleave), so every existing
  // prefix-range trick (covers, bucketing, row-group pruning) carries over.

  /** Face (0..5 for +x,+y,+z,−x,−y,−z by largest |component|) and the S2
    * (u,v) in [-1,1]² on that face, from lon/lat degrees. */
  def faceUv(lon: Double, lat: Double): (Int, Double, Double) = {
    val lonR = math.toRadians(lon); val latR = math.toRadians(lat)
    val cl = math.cos(latR)
    val x = cl * math.cos(lonR); val y = cl * math.sin(lonR); val z = math.sin(latR)
    val ax = math.abs(x); val ay = math.abs(y); val az = math.abs(z)
    // deterministic tie-break order (x, then y, then z) — mirrored in SQL
    if (ax >= ay && ax >= az) {
      if (x >= 0) (0, y / x, z / x) else (3, z / x, y / x)
    } else if (ay >= az) {
      if (y >= 0) (1, -x / y, z / y) else (4, z / y, -x / y)
    } else {
      if (z >= 0) (2, -x / z, -y / z) else (5, -y / z, -x / z)
    }
  }

  /** S2 tangent reprojection: u ∈ [-1,1] → s ∈ [0,1]; equalizes cell areas
    * across a face (max/min cell-area ratio ~1.4 vs ~5.2 linear). */
  @inline def uvToSt(u: Double): Double = 0.5 + math.atan(u) * (2.0 / math.Pi) * 0.5

  /** Spherical cell id at `level`: face · 4^L + morton(si, ti). Total ids
    * 6·4^L; level ≤ 30 keeps the id in 63 bits. Every lat/lon maps to
    * exactly one cell — including the poles the mercator grid clamps. */
  def cellIdSphere(lon: Double, lat: Double, level: Int): Long = {
    require(level >= 0 && level <= MAX_LEVEL, s"level $level out of [0,$MAX_LEVEL]")
    val (face, u, v) = faceUv(lon, lat)
    val n = 1L << level
    val si = math.min((uvToSt(u) * n).toLong, n - 1)
    val ti = math.min((uvToSt(v) * n).toLong, n - 1)
    (face.toLong << (2 * level)) | spread(si) | (spread(ti) << 1)
  }

  /** Parent of a spherical cell — identical arithmetic to [[parent]]
    * because the face bits ride above the Morton interleave. */
  def parentSphere(cell: Long, level: Int, parentLevel: Int): Long = {
    require(parentLevel <= level, s"parent level $parentLevel > $level")
    cell >> (2 * (level - parentLevel))
  }

  /** ANSI-SQL replica of [[cellIdSphere]] (the q73 oracle contract —
    * engine and oracle stay in lock-step on the cell scheme). */
  def sphereCellSqlExpr(lonCol: String, latCol: String, level: Int): String = {
    val n = 1L << level
    val x = s"(COS(RADIANS($latCol)) * COS(RADIANS($lonCol)))"
    val y = s"(COS(RADIANS($latCol)) * SIN(RADIANS($lonCol)))"
    val z = s"(SIN(RADIANS($latCol)))"
    val cond = s"(ABS($x) >= ABS($y) AND ABS($x) >= ABS($z))"
    val condY = s"(ABS($y) >= ABS($z))"
    val face =
      s"""(CASE WHEN $cond THEN (CASE WHEN $x >= 0 THEN 0 ELSE 3 END)
                WHEN $condY THEN (CASE WHEN $y >= 0 THEN 1 ELSE 4 END)
                ELSE (CASE WHEN $z >= 0 THEN 2 ELSE 5 END) END)"""
    val u =
      s"""(CASE WHEN $cond THEN (CASE WHEN $x >= 0 THEN $y/$x ELSE $z/$x END)
                WHEN $condY THEN (CASE WHEN $y >= 0 THEN -($x)/$y ELSE $z/$y END)
                ELSE (CASE WHEN $z >= 0 THEN -($x)/$z ELSE -($y)/$z END) END)"""
    val v =
      s"""(CASE WHEN $cond THEN (CASE WHEN $x >= 0 THEN $z/$x ELSE $y/$x END)
                WHEN $condY THEN (CASE WHEN $y >= 0 THEN $z/$y ELSE -($x)/$y END)
                ELSE (CASE WHEN $z >= 0 THEN -($y)/$z ELSE -($x)/$z END) END)"""
    def st(e: String): String = s"(0.5 + ATAN($e) * (2.0/PI()) * 0.5)"
    def idx(e: String): String =
      s"LEAST(CAST(FLOOR(${st(e)} * $n) AS BIGINT), ${n - 1})"
    def spreadSql(vv: String): String = {
      var s0 = s"(($vv) & 4294967295)"
      s0 = s"((($s0) | (($s0) << 16)) & 281470681808895)"
      s0 = s"((($s0) | (($s0) << 8)) & 71777214294589695)"
      s0 = s"((($s0) | (($s0) << 4)) & 1085102592571150095)"
      s0 = s"((($s0) | (($s0) << 2)) & 3689348814741910323)"
      s0 = s"((($s0) | (($s0) << 1)) & 6148914691236517205)"
      s0
    }
    s"((CAST($face AS BIGINT) << ${2 * level}) | ${spreadSql(idx(u))} | (${spreadSql(idx(v))} << 1))"
  }
}
