package graft.sql

import graft.geom._
import graft.cell.Cells
import graft.img.Images
import org.apache.spark.unsafe.types.UTF8String

/**
 * Kernel facade: every method here operates on WKB byte arrays / Spark
 * unsafe types and compiles to a static forwarder on class `graft.sql.K`,
 * so generated (Janino) code can call `graft.sql.K.fn(...)` directly —
 * the codegen contract used by the expressions in [[GeomExpressions]].
 *
 * This mirrors the reference's design of stateless operator singletons
 * ⟨ref(engine): OperatorFactoryLocal.getInstance⟩: one flat dispatch
 * surface over immutable inputs — embarrassingly row-parallel.
 */
object K {

  /** Operator-path reader: Z/M attribute streams are stripped — the
    * computational surface is 2D (OGC relate/measure semantics), while
    * storage + codecs + accessors below preserve them. */
  @inline private def rd(b: Array[Byte]): Geometry = GeometryZM.strip(Wkb.read(b))
  /** Codec-path reader: keeps Z/M. */
  @inline private def rdFull(b: Array[Byte]): Geometry = Wkb.read(b)
  @inline private def wr(g: Geometry): Array[Byte] = Wkb.write(g)

  // ---- constructors / codecs (§2.1) ----
  def fromWkt(s: UTF8String): Array[Byte] = wr(Wkt.read(s.toString))
  def asWkt(b: Array[Byte]): UTF8String = UTF8String.fromString(Wkt.write(rdFull(b)))
  def fromWkb(b: Array[Byte]): Array[Byte] = wr(rdFull(b)) // parse = validate, re-canonicalize
  def asWkb(b: Array[Byte]): Array[Byte] = b
  def fromGeoJson(s: UTF8String): Array[Byte] = wr(GeoJson.read(s.toString))
  def asGeoJson(b: Array[Byte]): UTF8String = UTF8String.fromString(GeoJson.write(rdFull(b)))

  // ---- Z/M vertex attributes (r3; ⟨ref(engine): VertexDescription⟩) ----
  def makePointZ(x: Double, y: Double, z: Double): Array[Byte] =
    wr(GeometryZM(Point(x, y), Array(z), null))
  def makePointZM(x: Double, y: Double, z: Double, m: Double): Array[Byte] =
    wr(GeometryZM(Point(x, y), Array(z), Array(m)))
  def z(b: Array[Byte]): java.lang.Double = rdFull(b) match {
    case zm: GeometryZM if zm.base.isInstanceOf[Point] => if (zm.hasZ) zm.zs(0) else null
    case _: Point => null // 2D point: no Z attribute → null (PostGIS parity)
    case _ => throw new IllegalArgumentException("st_z expects a point")
  }
  def m(b: Array[Byte]): java.lang.Double = rdFull(b) match {
    case zm: GeometryZM if zm.base.isInstanceOf[Point] => if (zm.hasM) zm.ms(0) else null
    case _: Point => null
    case _ => throw new IllegalArgumentException("st_m expects a point")
  }
  def hasZ(b: Array[Byte]): Boolean = rdFull(b) match {
    case zm: GeometryZM => zm.hasZ
    case c: GeometryCollection => c.geoms.exists { case z: GeometryZM => z.hasZ; case _ => false }
    case _ => false
  }
  def hasM(b: Array[Byte]): Boolean = rdFull(b) match {
    case zm: GeometryZM => zm.hasM
    case c: GeometryCollection => c.geoms.exists { case z: GeometryZM => z.hasM; case _ => false }
    case _ => false
  }
  def force2D(b: Array[Byte]): Array[Byte] = wr(rd(b))
  def fromEsriShape(b: Array[Byte]): Array[Byte] = wr(EsriShape.read(b))
  def asEsriShape(b: Array[Byte]): Array[Byte] = EsriShape.write(rd(b))
  def fromEsriJson(s: UTF8String): Array[Byte] = wr(EsriJson.read(s.toString))
  def asEsriJson(b: Array[Byte]): UTF8String = UTF8String.fromString(EsriJson.write(rd(b)))
  def point(x: Double, y: Double): Array[Byte] = wr(Point(x, y))
  def makeEnvelope(xmin: Double, ymin: Double, xmax: Double, ymax: Double): Array[Byte] =
    wr(Env(xmin, ymin, xmax, ymax).toPolygon)

  // ---- accessors ----
  def x(b: Array[Byte]): Double = rd(b) match {
    case p: Point => p.x
    case _ => throw new IllegalArgumentException("st_x expects a point")
  }
  def y(b: Array[Byte]): Double = rd(b) match {
    case p: Point => p.y
    case _ => throw new IllegalArgumentException("st_y expects a point")
  }
  def geometryType(b: Array[Byte]): UTF8String = UTF8String.fromString(rd(b) match {
    case _: Point => "ST_Point"
    case _: MultiPoint => "ST_MultiPoint"
    case _: LineString => "ST_LineString"
    case _: MultiLineString => "ST_MultiLineString"
    case _: Polygon => "ST_Polygon"
    case _: MultiPolygon => "ST_MultiPolygon"
    case _: GeometryCollection => "ST_GeometryCollection"
  })
  def numPoints(b: Array[Byte]): Int = rd(b).numPoints
  def isEmpty(b: Array[Byte]): Boolean = rd(b).isEmpty
  def envelope(b: Array[Byte]): Array[Byte] = {
    val e = rd(b).envelope
    if (e.isEmpty) wr(Polygon(Array.empty)) else wr(e.toPolygon)
  }
  def xmin(b: Array[Byte]): Double = rd(b).envelope.xmin
  def ymin(b: Array[Byte]): Double = rd(b).envelope.ymin
  def xmax(b: Array[Byte]): Double = rd(b).envelope.xmax
  def ymax(b: Array[Byte]): Double = rd(b).envelope.ymax

  // ---- predicates (§2.4) — the hot join kernels ----
  // Decode is routed through Prepared.of: geometries big enough to matter
  // are decoded ONCE per executor JVM (a broadcast zone set probes the
  // same WKB bytes millions of times), and point-vs-polygonal probes use
  // the lazily built y-stripe edge index ⟨ref(engine):
  // Operator.accelerateGeometry⟩. Answers are bit-identical (PreparedSpec).
  @inline private def prd(b: Array[Byte]): Geometry = Prepared.of(b).geom
  def intersects(a: Array[Byte], b: Array[Byte]): Boolean = {
    val pa = Prepared.of(a); val gb = rd(b)
    gb match {
      case p: Point if pa.isPolygonal && !p.isEmpty => pa.locate(p.x, p.y) >= 0
      case _ => Pred.intersects(pa.geom, gb)
    }
  }
  def disjoint(a: Array[Byte], b: Array[Byte]): Boolean = !intersects(a, b)
  def contains(a: Array[Byte], b: Array[Byte]): Boolean = {
    val pa = Prepared.of(a); val gb = rd(b)
    gb match {
      case p: Point if pa.isPolygonal && !p.isEmpty => pa.locate(p.x, p.y) == 1
      case _ => Pred.contains(pa.geom, gb)
    }
  }
  def within(a: Array[Byte], b: Array[Byte]): Boolean = contains(b, a)
  def covers(a: Array[Byte], b: Array[Byte]): Boolean = {
    val pa = Prepared.of(a); val gb = rd(b)
    gb match {
      case p: Point if pa.isPolygonal && !p.isEmpty => pa.locate(p.x, p.y) >= 0
      case _ => Pred.covers(pa.geom, gb)
    }
  }
  def touches(a: Array[Byte], b: Array[Byte]): Boolean = Pred.touches(prd(a), prd(b))
  def crosses(a: Array[Byte], b: Array[Byte]): Boolean = Pred.crosses(prd(a), prd(b))
  def overlaps(a: Array[Byte], b: Array[Byte]): Boolean = Pred.overlaps(prd(a), prd(b))
  def equalsTopo(a: Array[Byte], b: Array[Byte]): Boolean = Pred.equalsTopo(prd(a), prd(b))
  def relate(a: Array[Byte], b: Array[Byte]): UTF8String =
    UTF8String.fromString(Pred.relate(prd(a), prd(b)))
  def relateMatch(a: Array[Byte], b: Array[Byte], mask: UTF8String): Boolean =
    Pred.relateMatch(prd(a), prd(b), mask.toString)
  /** Point-in-polygon fast path on raw coords — no point WKB needed (join refine). */
  def containsXY(poly: Array[Byte], x: Double, y: Double): Boolean = {
    val p = Prepared.of(poly)
    if (p.isPolygonal) p.locate(x, y) == 1
    else Pred.contains(p.geom, Point(x, y))
  }
  def intersectsXY(poly: Array[Byte], x: Double, y: Double): Boolean =
    Prepared.of(poly).intersectsXY(x, y)

  /** Fixed-radius predicate ("within distance d") — the most common
    * spatial-join condition in production radius workloads ⟨ref(engine):
    * OperatorDistanceLocal composed into relational use⟩. Envelope-gap
    * quick reject (min distance between boxes > d ⇒ false, no exact
    * kernel) before the exact segment-pair distance. */
  def dwithin(a: Array[Byte], b: Array[Byte], d: Double): Boolean = {
    val ga = rd(a); val gb = rd(b)
    val ea = ga.envelope; val eb = gb.envelope
    val gx = math.max(0.0, math.max(eb.xmin - ea.xmax, ea.xmin - eb.xmax))
    val gy = math.max(0.0, math.max(eb.ymin - ea.ymax, ea.ymin - eb.ymax))
    gx * gx + gy * gy <= d * d && Pred.distance(ga, gb) <= d
  }
  /** dwithin fast path on raw coords — the distance-join refine kernel
    * (no point WKB alloc; prepared decode-once on the geometry side). */
  def dwithinXY(g: Array[Byte], x: Double, y: Double, d: Double): Boolean = {
    val p = Prepared.of(g)
    val e = p.geom.envelope
    val gx = math.max(0.0, math.max(e.xmin - x, x - e.xmax))
    val gy = math.max(0.0, math.max(e.ymin - y, y - e.ymax))
    if (gx * gx + gy * gy > d * d) false
    else if (p.isPolygonal && p.locate(x, y) >= 0) true
    else Pred.distance(p.geom, Point(x, y)) <= d
  }
  /** ST_Expand: the envelope dilated by d on each side, as a rect polygon —
    * the cover target for distance joins (a superset of the d-dilation). */
  def expand(b: Array[Byte], d: Double): Array[Byte] = {
    val e = rd(b).envelope
    require(!e.isEmpty, "st_expand of an empty geometry")
    wr(Env(e.xmin - d, e.ymin - d, e.xmax + d, e.ymax + d).toPolygon)
  }
  /** Great-circle distance in METERS between two lon/lat points (haversine
    * on the mean sphere R=6371008.8 — the exact formula every spherical
    * oracle uses, q39's constant). */
  def distanceSphere(lon1: Double, lat1: Double, lon2: Double, lat2: Double): Double = {
    val R = 6371008.8
    val phi1 = math.toRadians(lat1); val phi2 = math.toRadians(lat2)
    val dphi = phi2 - phi1
    val dlmb = math.toRadians(lon2 - lon1)
    val s = math.sin(dphi / 2) * math.sin(dphi / 2) +
      math.cos(phi1) * math.cos(phi2) * math.sin(dlmb / 2) * math.sin(dlmb / 2)
    2.0 * R * math.asin(math.min(1.0, math.sqrt(s)))
  }

  /** Rhumb-line (loxodrome) distance in METERS (Bowditch, public; mean
    * sphere R = 6371008.8): the constant-bearing sailing distance the
    * great-circle [[distanceSphere]] doesn't give. Operation order
    * mirrors the q254 oracle's SQL text exactly (the q89 transcendental
    * contract); longitude difference wrapped to (−180, 180] in DEGREES
    * before conversion so both engines branch on identical doubles. */
  def rhumbDistance(lon1: Double, lat1: Double, lon2: Double, lat2: Double): Double = {
    val f1 = math.toRadians(lat1); val f2 = math.toRadians(lat2)
    val df = f2 - f1
    val dld0 = lon2 - lon1
    val dld = if (dld0 > 180.0) dld0 - 360.0
      else if (dld0 < -180.0) dld0 + 360.0 else dld0
    val dl = math.toRadians(dld)
    val q = if (lat1 == lat2) math.cos(f1)
      else df / math.log(math.tan(math.Pi / 4 + f2 / 2) / math.tan(math.Pi / 4 + f1 / 2))
    6371008.8 * math.sqrt(df * df + q * q * dl * dl)
  }

  /** Rhumb-line (constant) bearing in DEGREES clockwise from north,
    * atan2 convention in [−180, 180]. Same shared-text contract as
    * [[rhumbDistance]]; atan2(0, 0) = 0 for coincident points. */
  def rhumbBearing(lon1: Double, lat1: Double, lon2: Double, lat2: Double): Double = {
    val f1 = math.toRadians(lat1); val f2 = math.toRadians(lat2)
    val dld0 = lon2 - lon1
    val dld = if (dld0 > 180.0) dld0 - 360.0
      else if (dld0 < -180.0) dld0 + 360.0 else dld0
    val dl = math.toRadians(dld)
    val dpsi = math.log(math.tan(math.Pi / 4 + f2 / 2) / math.tan(math.Pi / 4 + f1 / 2))
    math.toDegrees(math.atan2(dl, dpsi))
  }

  // ---- measures ----
  def distance(a: Array[Byte], b: Array[Byte]): Double = Pred.distance(rd(a), rd(b))
  def area(b: Array[Byte]): Double = Ops.area(rd(b))
  def length(b: Array[Byte]): Double = Ops.length(rd(b))
  def areaSphere(b: Array[Byte]): Double = Ops.areaSphere(rd(b))
  def lengthSphere(b: Array[Byte]): Double = Ops.lengthSphere(rd(b))
  def lengthGeodesic(b: Array[Byte]): Double = Ops.lengthGeodesic(rd(b))
  def areaGeodesic(b: Array[Byte]): Double = Ops.areaGeodesic(rd(b))

  // ---- constructive (§2.2) ----
  def buffer(b: Array[Byte], d: Double): Array[Byte] = wr(Ops.simplify(Ops.buffer(rd(b), d)))
  def bufferDev(b: Array[Byte], d: Double, maxDev: Double): Array[Byte] =
    wr(Ops.simplify(Ops.bufferDeviation(rd(b), d, maxDev)))
  def convexHull(b: Array[Byte]): Array[Byte] = wr(Ops.convexHull(rd(b)))
  def simplifyGeom(b: Array[Byte]): Array[Byte] = wr(Ops.simplify(rd(b)))
  def simplifyOgc(b: Array[Byte]): Array[Byte] = wr(Ops.simplifyOgc(rd(b)))
  def generalize(b: Array[Byte], tol: Double): Array[Byte] = wr(Ops.generalize(rd(b), tol))
  def chaikin(b: Array[Byte], iters: Int): Array[Byte] = wr(Smooth.chaikin(rd(b), iters))
  def inscribedCircle(b: Array[Byte], precision: Double): Array[Double] =
    Smooth.inscribedCircle(rd(b), precision)
  def densify(b: Array[Byte], maxLen: Double): Array[Byte] = rdFull(b) match {
    case zm: GeometryZM => wr(Ops.densifyZM(zm, maxLen)) // interpolates Z/M
    case g => wr(Ops.densify(g, maxLen))
  }
  // clip/cut interpolate Z/M: exact split-parameter lerp for point/lineal
  // inputs; polygonal results populated via nearest-boundary (r4)
  def clip(b: Array[Byte], xmin: Double, ymin: Double, xmax: Double, ymax: Double): Array[Byte] =
    rdFull(b) match {
      case zm: GeometryZM => wr(ZmOps.clipZM(zm, Env(xmin, ymin, xmax, ymax)))
      case g => wr(Ops.clip(GeometryZM.strip(g), Env(xmin, ymin, xmax, ymax)))
    }
  // transform/affine preserve Z/M: xy-only maps keep vertex count + order
  def transform(b: Array[Byte], from: Int, to: Int): Array[Byte] = wr(Ops.transform(rdFull(b), from, to))
  def transformGrid(b: Array[Byte], from: Int, to: Int, path: String): Array[Byte] =
    wr(Ops.transformGrid(rdFull(b), from, to, path))
  /** Bilinear NTv2 shift sampled at SOURCE-datum lon/lat (the grid's native
    * side) → (dLonSec, dLatSec); None outside coverage. */
  def gridShiftSec(lon: Double, lat: Double, path: String): Option[(Double, Double)] =
    graft.geom.GridShift.cached(path).shiftAt(lon, lat)
  def affine(b: Array[Byte], a: Double, bb: Double, d: Double, e: Double,
             xoff: Double, yoff: Double): Array[Byte] = wr(Ops.affine(rdFull(b), a, bb, d, e, xoff, yoff))
  def centroid(b: Array[Byte]): Array[Byte] = wr(Ops.centroid(rd(b)))
  def closestPoint(b: Array[Byte], px: Double, py: Double): Array[Byte] =
    wr(Ops.closestPoint(rd(b), Point(px, py)))
  def randomPoints(b: Array[Byte], n: Int, seed: Long): Array[Array[Byte]] = {
    val cs = Ops.randomPoints(rd(b), n, seed)
    Array.tabulate(cs.length / 2)(i => wr(Point(cs(2 * i), cs(2 * i + 1))))
  }
  def cut(b: Array[Byte], blade: Array[Byte]): Array[Array[Byte]] =
    rdFull(b) match {
      case zm: GeometryZM => ZmOps.cutZM(zm, rd(blade)).map(wr)
      case g => Ops.cut(GeometryZM.strip(g), rd(blade)).map(wr)
    }
  def makeLine(x1: Double, y1: Double, x2: Double, y2: Double): Array[Byte] =
    wr(LineString(Array(x1, y1, x2, y2)))
  def makeLineZ(x1: Double, y1: Double, z1: Double,
                x2: Double, y2: Double, z2: Double): Array[Byte] =
    wr(GeometryZM(LineString(Array(x1, y1, x2, y2)), Array(z1, z2), null))

  def morton(tx: Long, ty: Long): Long = graft.cell.Cells.morton(tx, ty)
  def hilbert(tx: Long, ty: Long, order: Int): Long = graft.cell.Cells.hilbert(tx, ty, order)

  // ---- IVF (exact ANN; centroid blob rides in the plan, cached per JVM) ----
  def ivfAssign(emb: org.apache.spark.sql.catalyst.util.ArrayData, cents: Array[Byte]): Int =
    ivfAssign(emb, graft.join.AnnIndex.unpackCached(cents))

  /** The argmax-dot bucket of `emb` among the decoded centroids `cs`. */
  def ivfAssign(emb: org.apache.spark.sql.catalyst.util.ArrayData, cs: Array[Array[Double]]): Int = {
    var best = 0; var bestDot = Double.NegativeInfinity
    var j = 0
    while (j < cs.length) {
      val c = cs(j)
      var d = 0.0; var i = 0
      val n = math.min(c.length, emb.numElements())
      while (i < n) { d += emb.getFloat(i).toDouble * c(i); i += 1 }
      if (d > bestDot) { bestDot = d; best = j }
      j += 1
    }
    best
  }

  def ivfDot(emb: org.apache.spark.sql.catalyst.util.ArrayData, cents: Array[Byte], j: Int): Double = {
    val c = graft.join.AnnIndex.unpackCached(cents)(j)
    var d = 0.0; var i = 0
    val n = math.min(c.length, emb.numElements())
    while (i < n) { d += emb.getFloat(i).toDouble * c(i); i += 1 }
    d
  }

  /** Full-precision COSINE to centroid j (centroids are unit vectors, the
    * embedding is NOT assumed normalized — vecfuzz r5 s11 caught the raw
    * dot being fed to acos, which silently clamps to radius 0 whenever
    * ‖x‖ > 1 and breaks the IVF exactness bound on unnormalized data). */
  def ivfCos(emb: org.apache.spark.sql.catalyst.util.ArrayData, cents: Array[Byte], j: Int): Double = {
    val c = graft.join.AnnIndex.unpackCached(cents)(j)
    var d = 0.0; var s = 0.0; var i = 0
    val n = math.min(c.length, emb.numElements())
    while (i < n) {
      val v = emb.getFloat(i).toDouble
      d += v * c(i); s += v * v
      i += 1
    }
    d / math.max(math.sqrt(s), 1e-300)
  }

  /** Full-precision L2 norm of a float vector (for norm-aware bound slack). */
  def vecNorm(emb: org.apache.spark.sql.catalyst.util.ArrayData): Double = {
    var s = 0.0; var i = 0
    val n = emb.numElements()
    while (i < n) { val v = emb.getFloat(i).toDouble; s += v * v; i += 1 }
    math.sqrt(s)
  }

  // ---- binary overlay (§2.3, staged) ----
  // Z/M inputs: the 2D core runs on the stripped view, then
  // ZmOps.populateOverlay restores the attribute streams (r4) — exact at
  // vertex hits, lerped on the nearest source segment; no-op for 2D input.
  @inline private def overlay2(a: Array[Byte], b: Array[Byte],
                               op: (Geometry, Geometry) => Geometry): Array[Byte] = {
    val ga = Wkb.read(a); val gb = Wkb.read(b)
    val res = op(GeometryZM.strip(ga), GeometryZM.strip(gb))
    wr(ZmOps.populateOverlay(res, ga, gb))
  }
  def intersection(a: Array[Byte], b: Array[Byte]): Array[Byte] =
    overlay2(a, b, (x, y) => Ops.simplify(Overlay.intersection(x, y)))
  def intersectionDim(a: Array[Byte], b: Array[Byte], mask: Int): Array[Byte] =
    overlay2(a, b, (x, y) => Overlay.intersectionDim(x, y, mask))
  def difference(a: Array[Byte], b: Array[Byte]): Array[Byte] =
    overlay2(a, b, (x, y) => Ops.simplify(Overlay.difference(x, y)))
  def unionGeom(a: Array[Byte], b: Array[Byte]): Array[Byte] =
    overlay2(a, b, (x, y) => Ops.simplify(Overlay.union(x, y)))
  def symDifference(a: Array[Byte], b: Array[Byte]): Array[Byte] =
    overlay2(a, b, (x, y) => Ops.simplify(Overlay.symDifference(x, y)))

  // ---- additional unary operators ----
  def offset(b: Array[Byte], d: Double): Array[Byte] = wr(Ops.offset(rd(b), d))
  def generalizeArea(b: Array[Byte], minArea: Double): Array[Byte] =
    wr(Ops.generalizeByArea(rd(b), minArea))
  def geodesicBuffer(b: Array[Byte], meters: Double): Array[Byte] =
    wr(Ops.simplify(Ops.geodesicBuffer(rd(b), meters)))
  def geodeticDensify(b: Array[Byte], maxMeters: Double): Array[Byte] =
    wr(Ops.geodeticDensify(rd(b), maxMeters))
  def geodesicProject(lon: Double, lat: Double, azDeg: Double, meters: Double): Array[Byte] = {
    val (x, y) = Ops.vincentyDirect(lon, lat, azDeg, meters)
    wr(Point(x, y))
  }
  def azimuthGeodesic(lon1: Double, lat1: Double, lon2: Double, lat2: Double): Double =
    Ops.vincentyAzimuth(lon1, lat1, lon2, lat2)

  def subdivide(b: Array[Byte], maxVertices: Int): Array[Array[Byte]] =
    Ops.subdivide(rd(b), maxVertices).map(wr)
  def snapToGrid(b: Array[Byte], size: Double): Array[Byte] = wr(Ops.snapToGrid(rd(b), size))
  def reverse(b: Array[Byte]): Array[Byte] = wr(Ops.reverse(rdFull(b))) // ZM preserved
  def boundary(b: Array[Byte]): Array[Byte] = wr(Ops.boundary(rd(b)))
  def pointOnSurface(b: Array[Byte]): Array[Byte] = wr(Ops.pointOnSurface(rd(b)))
  def isClosed(b: Array[Byte]): Boolean = Ops.isClosed(rd(b))
  def azimuthPlanar(x1: Double, y1: Double, x2: Double, y2: Double): Double =
    Ops.azimuthPlanar(x1, y1, x2, y2)
  def hausdorff(a: Array[Byte], b: Array[Byte]): Double = Ops.hausdorff(rd(a), rd(b))
  def frechet(a: Array[Byte], b: Array[Byte]): Double = Ops.frechet(rd(a), rd(b))
  def lineInterpolate(b: Array[Byte], f: Double): Array[Byte] = wr(Ops.lineInterpolate(rdFull(b), f))
  def lineLocate(b: Array[Byte], x: Double, y: Double): Double = Ops.lineLocate(rd(b), x, y)
  def lineSubstring(b: Array[Byte], f1: Double, f2: Double): Array[Byte] =
    wr(Ops.lineSubstring(rdFull(b), f1, f2)) // Z/M interpolate through
  def delaunay(b: Array[Byte]): Array[Array[Byte]] = Triangulate.delaunay(rd(b)).map(wr)
  def triangulate(b: Array[Byte]): Array[Array[Byte]] =
    Triangulate.triangulatePolygon(rd(b)).map(wr)
  def makePolygon(xy: Array[Double]): Array[Byte] = {
    require(xy.length >= 6 && xy.length % 2 == 0,
      s"st_makepolygon needs a flat [x0,y0,x1,y1,...] array of >=3 points, got ${xy.length} values")
    val closed =
      if (xy(0) == xy(xy.length - 2) && xy(1) == xy(xy.length - 1)) xy
      else xy ++ Array(xy(0), xy(1))
    wr(Polygon(Array(closed)))
  }
  def voronoi(b: Array[Byte]): Array[Array[Byte]] = Triangulate.voronoi(rd(b)).map(wr)
  def voronoiEnv(b: Array[Byte], envGeom: Array[Byte]): Array[Array[Byte]] =
    Triangulate.voronoi(rd(b), Some(rd(envGeom).envelope)).map(wr)
  def geometricMedian(b: Array[Byte]): Array[Byte] = wr(Ops.geometricMedian(rd(b)))
  def shortestLine(a: Array[Byte], b: Array[Byte]): Array[Byte] =
    wr(Ops.shortestLine(rd(a), rd(b)))
  def maxDistance(a: Array[Byte], b: Array[Byte]): Double = Ops.maxDistance(rd(a), rd(b))
  def angle(x1: Double, y1: Double, x2: Double, y2: Double, x3: Double, y3: Double): Double =
    Ops.angle(x1, y1, x2, y2, x3, y3)
  def rotate(b: Array[Byte], deg: Double, ox: Double, oy: Double): Array[Byte] =
    wr(Ops.rotate(rd(b), deg, ox, oy))
  def minBoundingCircle(b: Array[Byte]): Array[Byte] = {
    val (cx, cy, r) = Triangulate.minimumBoundingCircle(rd(b))
    // emitted as the standard 96-gon ring around (cx, cy)
    if (r == 0.0) wr(Point(cx, cy))
    else {
      val n = 96
      val cs = new Array[Double]((n + 1) * 2)
      var k = 0
      while (k < n) {
        val a = 2 * math.Pi * k / n
        cs(2 * k) = cx + r * math.cos(a); cs(2 * k + 1) = cy + r * math.sin(a)
        k += 1
      }
      cs(2 * n) = cs(0); cs(2 * n + 1) = cs(1)
      wr(Polygon(Array(cs)))
    }
  }
  def minBoundingRadius(b: Array[Byte]): Double = Triangulate.minimumBoundingCircle(rd(b))._3
  def orientedEnvelope(b: Array[Byte]): Array[Byte] = wr(Triangulate.orientedEnvelope(rd(b)))
  def concaveHull(b: Array[Byte], maxEdge: Double): Array[Byte] =
    wr(Triangulate.concaveHull(rd(b), maxEdge))
  def isValid(b: Array[Byte]): Boolean = Valid.check(rd(b)).valid
  def isValidReason(b: Array[Byte]): UTF8String =
    UTF8String.fromString(Valid.check(rd(b)).reason)
  def lineMerge(b: Array[Byte]): Array[Byte] = wr(Ops.lineMerge(rd(b)))
  def polygonize(b: Array[Byte]): Array[Array[Byte]] = Ops.polygonize(rd(b)).map(wr)
  def nodeLines(b: Array[Byte]): Array[Byte] = wr(Ops.node(rd(b)))

  // ---- collections ----
  def collect(parts: Array[Array[Byte]]): Array[Byte] =
    wr(GeometryCollection(parts.map(rd)))
  def dump(b: Array[Byte]): Array[Array[Byte]] = rd(b) match {
    case c: GeometryCollection => c.geoms.map(wr)
    case m: MultiPoint => (0 until m.numPoints).toArray.map(i => wr(Point(m.coords(2*i), m.coords(2*i+1))))
    case m: MultiLineString => m.lines.map(l => wr(LineString(l)))
    case m: MultiPolygon => m.polys.map(p => wr(Polygon(p)))
    case g => Array(wr(g))
  }
  /** Every stored vertex as a point (rings keep their closing duplicate —
    * PostGIS ST_DumpPoints path semantics). Z/M ride along per vertex (r4). */
  def dumpPoints(b: Array[Byte]): Array[Array[Byte]] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    var zs: Array[Double] = null
    var ms: Array[Double] = null
    var vi = 0
    def pt(x: Double, y: Double): Unit = {
      if (zs == null && ms == null) out += wr(Point(x, y))
      else out += wr(GeometryZM(Point(x, y),
        if (zs == null) null else Array(zs(vi)),
        if (ms == null) null else Array(ms(vi))))
      vi += 1
    }
    def arr(cs: Array[Double]): Unit = {
      var i = 0
      while (i + 1 < cs.length) { pt(cs(i), cs(i + 1)); i += 2 }
    }
    def walk(g: Geometry): Unit = g match {
      case zm: GeometryZM =>
        zs = zm.zs; ms = zm.ms; vi = 0
        walk(zm.base)
        zs = null; ms = null
      case p: Point => if (!p.isEmpty) pt(p.x, p.y)
      case m: MultiPoint => arr(m.coords)
      case l: LineString => arr(l.coords)
      case m: MultiLineString => m.lines.foreach(arr)
      case p: Polygon => p.rings.foreach(arr)
      case m: MultiPolygon => m.polys.foreach(_.foreach(arr))
      case c: GeometryCollection => c.geoms.foreach(walk)
    }
    walk(rdFull(b))
    out.toArray
  }

  def numGeometries(b: Array[Byte]): Int = rd(b) match {
    case c: GeometryCollection => c.geoms.length
    case m: MultiPoint => m.numPoints
    case m: MultiLineString => m.lines.length
    case m: MultiPolygon => m.polys.length
    case g => if (g.isEmpty) 0 else 1
  }

  // ---- cells / tiles (§2.6 #44/#48) ----
  def cellId(lon: Double, lat: Double, level: Int): Long = Cells.cellId(lon, lat, level)
  def geohash(lon: Double, lat: Double, precision: Int): UTF8String =
    UTF8String.fromString(Cells.geohash(lon, lat, precision))
  def pointFromGeohash(s: UTF8String): Array[Byte] = {
    val (lon, lat) = Cells.geohashDecode(s.toString)
    wr(Point(lon, lat))
  }
  def quadkey(lon: Double, lat: Double, z: Int): UTF8String =
    UTF8String.fromString(Cells.quadkey(lon, lat, z))
  def quadkeyX(s: UTF8String): Long = Cells.quadkeyTile(s.toString)._1
  def quadkeyY(s: UTF8String): Long = Cells.quadkeyTile(s.toString)._2
  def cellIdSphere(lon: Double, lat: Double, level: Int): Long = Cells.cellIdSphere(lon, lat, level)
  def cellIdNorm(nx: Double, ny: Double, level: Int): Long = Cells.cellIdNorm(nx, ny, level)
  def normX(lon: Double): Double = Cells.normX(lon)
  def normY(lat: Double): Double = Cells.normY(lat)
  def tileX(lon: Double, level: Int): Long = Cells.tileX(lon, level)
  def tileY(lat: Double, level: Int): Long = Cells.tileY(lat, level)
  def cellParent(cell: Long, level: Int, parentLevel: Int): Long = Cells.parent(cell, level, parentLevel)
  def cellEnvelope(cell: Long, level: Int): Array[Byte] = wr(Cells.cellEnvelope(cell, level).toPolygon)
  def cover(b: Array[Byte], level: Int): Array[Long] = Cells.cover(rd(b), level)
  def coverEnv(xmin: Double, ymin: Double, xmax: Double, ymax: Double, level: Int): Array[Long] =
    Cells.cover(Env(xmin, ymin, xmax, ymax).toPolygon, level)
  def cellRing(cell: Long, level: Int, r: Int): Array[Long] = Cells.ring(cell, level, r)
  // compact multi-level covers (r5): packed (cell << 5) | level; see
  // Cells.compactCover for the disjointness/bag-multiplicity contract
  def coverCompact(b: Array[Byte], minLevel: Int, maxLevel: Int): Array[Long] =
    Cells.compactCover(rd(b), minLevel, maxLevel)
  def cellAncestors(cell: Long, level: Int, minLevel: Int): Array[Long] =
    Cells.cellAncestors(cell, level, minLevel)

  // ---- hex tessellation (r5; the density-binning complement to the square
  // Morton grid — pointy-top axial coordinates, `size` = circumradius in the
  // input plane's units). Every step is closed-form double arithmetic whose
  // operation ORDER mirrors Cells.hexbinSqlExpr exactly, so the DuckDB
  // oracle reproduces the packed ids bit-for-bit (mortonSqlExpr contract).
  def hexbin(x: Double, y: Double, size: Double): Long = Cells.hexbin(x, y, size)
  def hexCenterX(id: Long, size: Double): Double = Cells.hexCenterX(id, size)
  def hexCenterY(id: Long, size: Double): Double = Cells.hexCenterY(id, size)
  def hexbinGeom(id: Long, size: Double): Array[Byte] = wr(Cells.hexPolygon(id, size))
  /** Web-mercator lon/lat envelope polygon of slippy tile (z, x, y) —
    * PostGIS ST_TileEnvelope's role for vector-tile generation. */
  def tileEnvelope(z: Int, x: Long, y: Long): Array[Byte] = {
    require(z >= 0 && z <= Cells.MAX_LEVEL, s"tile zoom $z out of range")
    val n = (1L << z).toDouble
    require(x >= 0 && x < (1L << z) && y >= 0 && y < (1L << z), s"tile ($x,$y) out of range at z=$z")
    val env = Env(Cells.tileXToLon(x / n), Cells.tileYToLat((y + 1) / n),
      Cells.tileXToLon((x + 1) / n), Cells.tileYToLat(y / n))
    wr(env.toPolygon)
  }

  // ---- structural accessors (r3 API completeness) ----
  def exteriorRing(b: Array[Byte]): Array[Byte] = rd(b) match {
    case p: Polygon => if (p.isEmpty) wr(LineString(Array.empty)) else wr(LineString(p.rings(0)))
    case _ => throw new IllegalArgumentException("st_exteriorring expects a polygon")
  }
  def interiorRingN(b: Array[Byte], i: Int): Array[Byte] = rd(b) match {
    case p: Polygon if i >= 1 && i < p.rings.length => wr(LineString(p.rings(i)))
    case _: Polygon => null
    case _ => throw new IllegalArgumentException("st_interiorring_n expects a polygon")
  }
  def numInteriorRings(b: Array[Byte]): Int = rd(b) match {
    case p: Polygon => math.max(0, p.rings.length - 1)
    case _ => 0
  }
  def geometryN(b: Array[Byte], i: Int): Array[Byte] = {
    val parts = dump(b)
    if (i >= 1 && i <= parts.length) parts(i - 1) else null
  }
  def pointN(b: Array[Byte], i: Int): Array[Byte] = rd(b) match {
    case l: LineString if i >= 1 && i * 2 <= l.coords.length =>
      wr(Point(l.coords(2 * (i - 1)), l.coords(2 * (i - 1) + 1)))
    case _: LineString => null
    case _ => throw new IllegalArgumentException("st_pointn expects a linestring")
  }
  def startPoint(b: Array[Byte]): Array[Byte] = pointN(b, 1)
  def endPoint(b: Array[Byte]): Array[Byte] = rd(b) match {
    case l: LineString if l.coords.length >= 2 =>
      wr(Point(l.coords(l.coords.length - 2), l.coords(l.coords.length - 1)))
    case _: LineString => null
    case _ => throw new IllegalArgumentException("st_endpoint expects a linestring")
  }

  // ---- raster↔vector tile masks (§2.6 #48 Raptor-style; r3) ----
  /**
   * Rasterize a geometry into a size×size bit mask for web-mercator tile
   * (tx, ty) at zoom z: bit (row j, col i) = pixel CENTER inside-or-on the
   * geometry (closed semantics, matching the BETWEEN oracle). Probes the
   * prepared stripe index, so rasterizing many tiles of one broadcast zone
   * costs O(pixels · edges/stripes), not O(pixels · edges).
   */
  def rasterizeMask(geom: Array[Byte], z: Int, tx: Long, ty: Long, size: Int): Array[Byte] = {
    require(size > 0 && size <= 4096, s"mask size out of range: $size")
    val p = Prepared.of(geom)
    val g = p.geom
    val n = (1L << z).toDouble
    val out = new Array[Byte]((size * size + 7) / 8)
    var j = 0
    while (j < size) {
      val ny = (ty + (j + 0.5) / size) / n
      val lat = Cells.tileYToLat(ny)
      var i = 0
      while (i < size) {
        val lon = Cells.tileXToLon((tx + (i + 0.5) / size) / n)
        val inside =
          if (p.isPolygonal) p.locate(lon, lat) >= 0
          else Pred.intersects(g, Point(lon, lat))
        if (inside) {
          val bit = j * size + i
          out(bit >> 3) = (out(bit >> 3) | (1 << (bit & 7))).toByte
        }
        i += 1
      }
      j += 1
    }
    out
  }

  /** COCO-style RLE of a tile bit mask (bit j·size+i, the
    * [[rasterizeMask]] row-major layout): run counts in flattened-bit
    * order starting with BACKGROUND (first count 0 if bit 0 is set —
    * the COCO convention), no zero interior or trailing runs, counts
    * always summing to nBits. The instance-segmentation mask encoding
    * a training pipeline ships instead of raw rasters. */
  def maskRle(mask: Array[Byte], nBits: Int): Array[Long] = {
    require(nBits > 0 && nBits <= mask.length * 8,
      s"nBits $nBits out of range for mask of ${mask.length * 8} bits")
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    var cur = false; var run = 0L; var i = 0
    while (i < nBits) {
      val bit = ((mask(i >> 3) >> (i & 7)) & 1) == 1
      if (bit == cur) run += 1
      else { out += run; cur = bit; run = 1L }
      i += 1
    }
    out += run
    out.toArray
  }

  def imgMoments(rgb: Array[Byte], w: Int, h: Int): Array[Long] =
    Images.moments(rgb, w, h)

  def maskPopcount(mask: Array[Byte]): Int = {
    var s = 0
    var i = 0
    while (i < mask.length) { s += java.lang.Integer.bitCount(mask(i) & 0xFF); i += 1 }
    s
  }

  /** Raster overlay algebra on same-tile bit masks: the Raptor-style
    * zonal AND/OR/XOR whose popcounts are intersection / union /
    * symmetric-difference pixel areas. Lengths must match (same tile,
    * same resolution) — silently zero-extending would hide a caller bug. */
  def maskAnd(a: Array[Byte], b: Array[Byte]): Array[Byte] = maskZip(a, b, (x, y) => x & y)
  def maskOr(a: Array[Byte], b: Array[Byte]): Array[Byte] = maskZip(a, b, (x, y) => x | y)
  def maskXor(a: Array[Byte], b: Array[Byte]): Array[Byte] = maskZip(a, b, (x, y) => x ^ y)

  private def maskZip(a: Array[Byte], b: Array[Byte], f: (Int, Int) => Int): Array[Byte] = {
    require(a.length == b.length, s"mask length mismatch: ${a.length} vs ${b.length}")
    val out = new Array[Byte](a.length)
    var i = 0
    while (i < a.length) { out(i) = f(a(i), b(i)).toByte; i += 1 }
    out
  }

  /** Chebyshev dilation by radius r on a size×size tile bit mask (bit
    * j*size+i, the [[rasterizeMask]] layout): output pixel set iff ANY
    * input pixel lies in the (2r+1)×(2r+1) square around it. Outside-tile
    * pixels are 0 (zero padding). The square element is separable, so two
    * 1-D max passes — O(size²·r), not O(size²·r²). */
  def maskDilate(mask: Array[Byte], size: Int, r: Int): Array[Byte] =
    morph(mask, size, r, erode = false)

  /** Chebyshev erosion by radius r: output pixel set iff EVERY pixel of
    * its (2r+1)×(2r+1) square is set. Zero padding, so anything within r
    * of the tile border erodes away (standard border semantics — callers
    * that need cross-tile morphology dilate the QUERY geometry instead). */
  def maskErode(mask: Array[Byte], size: Int, r: Int): Array[Byte] =
    morph(mask, size, r, erode = true)

  private def morph(mask: Array[Byte], size: Int, r: Int, erode: Boolean): Array[Byte] = {
    require(size > 0 && size <= 4096 && mask.length == (size * size + 7) / 8,
      s"mask/size mismatch: ${mask.length} bytes for size $size")
    require(r >= 0 && r <= size, s"morphology radius out of range: $r")
    @inline def get(m: Array[Byte], bit: Int): Boolean = (m(bit >> 3) & (1 << (bit & 7))) != 0
    def pass(src: Array[Byte], horizontal: Boolean): Array[Byte] = {
      val out = new Array[Byte](src.length)
      var j = 0
      while (j < size) {
        var i = 0
        while (i < size) {
          var acc = erode
          var d = -r
          while (d <= r && acc == erode) { // early exit once decided
            val x = (if (horizontal) i else j) + d
            val in = x >= 0 && x < size &&
              get(src, if (horizontal) j * size + x else x * size + i)
            acc = if (erode) acc && in else acc || in
            d += 1
          }
          if (acc) {
            val bit = j * size + i
            out(bit >> 3) = (out(bit >> 3) | (1 << (bit & 7))).toByte
          }
          i += 1
        }
        j += 1
      }
      out
    }
    pass(pass(mask, horizontal = true), horizontal = false)
  }

  // ---- images (§2.6 #49) ----
  def imgWidth(bytes: Array[Byte]): Int = Images.decode(bytes)._1
  def imgHeight(bytes: Array[Byte]): Int = Images.decode(bytes)._2
  def imgRgb(bytes: Array[Byte]): Array[Byte] = Images.decode(bytes)._3
  def imgPhash(bytes: Array[Byte]): Long = Images.phash(bytes)
  def imgPsnr(a: Array[Byte], b: Array[Byte]): Double = {
    val (_, _, ra) = Images.decode(a)
    val (_, _, rb) = Images.decode(b)
    Images.psnr(ra, rb)
  }
  def imgPsnrRgb(a: Array[Byte], b: Array[Byte]): Double = Images.psnr(a, b)
  def imgResizeRgb(bytes: Array[Byte], tw: Int, th: Int): Array[Byte] = {
    val (w, h, rgb) = Images.decode(bytes)
    Images.resizeRgb(w, h, rgb, tw, th)
  }
  def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
  def imgPhashRgb(rgb: Array[Byte], w: Int, h: Int): Long = Images.phashOfRgb(w, h, rgb)
  def imgPhash256(b: Array[Byte]): Array[Long] = Images.phash256(b)
  def imgPhash256Rgb(rgb: Array[Byte], w: Int, h: Int): Array[Long] = Images.phash256OfRgb(w, h, rgb)
  // compositional RGB ops (r3): gray/flip/crop/luma-mean over raw buffers
  def imgGray(rgb: Array[Byte]): Array[Byte] = Images.grayRgb(rgb)
  def imgFlip(rgb: Array[Byte], w: Int, h: Int, horizontal: Boolean): Array[Byte] =
    Images.flipRgb(w, h, rgb, horizontal)
  def imgRotate90(rgb: Array[Byte], w: Int, h: Int): Array[Byte] =
    Images.rotate90Rgb(w, h, rgb)
  def imgCrop(rgb: Array[Byte], w: Int, h: Int, x0: Int, y0: Int, cw: Int, ch: Int): Array[Byte] =
    Images.cropRgb(w, h, rgb, x0, y0, cw, ch)
  def imgLumaMean(rgb: Array[Byte]): Double = Images.lumaMean(rgb)
  def imgBoxBlur3(rgb: Array[Byte], w: Int, h: Int): Array[Byte] = Images.boxBlur3Rgb(w, h, rgb)
  def imgMedian3(rgb: Array[Byte], w: Int, h: Int): Array[Byte] = Images.median3Rgb(w, h, rgb)
  def imgDitherFs(rgb: Array[Byte], w: Int, h: Int): Array[Byte] = Images.ditherFsRgb(w, h, rgb)
  def imgSad(a: Array[Byte], b: Array[Byte]): Long = Images.sad(a, b)
  def imgSharpness(rgb: Array[Byte], w: Int, h: Int): Long = Images.sharpness(w, h, rgb)
  def imgSsimQ(a: Array[Byte], b: Array[Byte], w: Int, h: Int): Long = Images.ssimQ(w, h, a, b)
  def imgColorHist64(rgb: Array[Byte]): Array[Long] = Images.colorHist64(rgb)
  def imgEdgeStats(rgb: Array[Byte], w: Int, h: Int): Array[Long] = Images.sobelStats(w, h, rgb)
  def imgLumaHist16(rgb: Array[Byte]): Array[Long] = Images.lumaHist16(rgb)
  def imgGlcm8(rgb: Array[Byte], w: Int, h: Int): Array[Long] = Images.glcm8(w, h, rgb)
  def imgLbpHist(rgb: Array[Byte], w: Int, h: Int): Array[Long] = Images.lbpHist(w, h, rgb)
  def imgHarris(rgb: Array[Byte], w: Int, h: Int): Array[Long] = Images.harris(w, h, rgb)
  def imgHueHist(rgb: Array[Byte]): Array[Long] = Images.hueHist(rgb)
  def imgHaar(rgb: Array[Byte], w: Int, h: Int): Array[Long] = Images.haarEnergy(w, h, rgb)
  def imgMedianCut8(rgb: Array[Byte]): Array[Long] = Images.medianCut8(rgb)
  def imgPal332(rgb: Array[Byte]): Array[Long] = Images.pal332(rgb)
  def imgEqualizeRgb(rgb: Array[Byte]): Array[Byte] = Images.equalizeRgb(rgb)
  def imgGammaRgb(rgb: Array[Byte], gammaMilli: Int): Array[Byte] =
    Images.gammaRgb(rgb, gammaMilli)
  def imgChannelSums(rgb: Array[Byte]): Array[Long] = Images.channelSums(rgb)

  /** Exact longest-common-subsequence length (q293 ROUGE-L): rolling-row
    * DP in the oracle's GREATEST(up, left, diag + eq) form (equivalent
    * to the textbook branch — LcsSpec pins both). Null elements compare
    * unequal to everything. */
  def seqLcs(a: Array[AnyRef], b: Array[AnyRef]): Long = {
    val n = a.length; val m = b.length
    if (n == 0 || m == 0) return 0L
    val row = new Array[Long](m + 1) // row = L(i-1, *), zeros = L(0, *)
    var i = 1
    while (i <= n) {
      var prevDiag = row(0) // L(i-1, j-1) as j advances
      var j = 1
      while (j <= m) {
        val tmp = row(j) // L(i-1, j)
        val eq = if (a(i - 1) != null && a(i - 1).equals(b(j - 1))) 1L else 0L
        row(j) = math.max(math.max(row(j), row(j - 1)), prevDiag + eq)
        prevDiag = tmp
        j += 1
      }
      i += 1
    }
    row(m)
  }

  /** Exact integer DTW distance (q292): steps {up, left, diag}, cost
    * |aᵢ − bⱼ|, full (n, m) alignment. Rolling-row DP — O(n·m) time,
    * O(m) space; series are calendar-bounded (the hourly spine), so the
    * quadratic is bounded by history, never by data volume. Empty
    * input → −1 (no alignment). INF = MaxValue/4 keeps c + best from
    * wrapping. */
  def seqDtw(a: Array[Long], b: Array[Long]): Long = {
    val n = a.length; val m = b.length
    if (n == 0 || m == 0) return -1L
    val INF = Long.MaxValue / 4
    val row = Array.fill(m + 1)(INF)
    row(0) = 0L // D(0,0); D(0,j>0) = D(i>0,0) = INF
    var i = 1
    while (i <= n) {
      var prevDiag = row(0) // D(i-1, j-1) as j advances
      row(0) = INF
      var j = 1
      while (j <= m) {
        val tmp = row(j) // D(i-1, j)
        val best = math.min(math.min(row(j), row(j - 1)), prevDiag)
        row(j) = math.abs(a(i - 1) - b(j - 1)) + best
        prevDiag = tmp
        j += 1
      }
      i += 1
    }
    row(m)
  }
}
