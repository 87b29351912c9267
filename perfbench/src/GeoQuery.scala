package perfbench

import graft.join.SpatialJoins
import graft.geom.Prepared
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.Path

final case class PointRow(image_id: String, lon: Double, lat: Double, nx: Double, ny: Double)
final case class ZoneRow(zone_id: String, wkt: String)

/** Read-only stream of spatial queries over a seeded points table with a 20%
  * hot spot, against two zone sets: one that fits the engine's prepared-
  * geometry cache and one larger than its entry cap. */
final class GeoQuery(spark: SparkSession, seed: Long, cores: Int) extends Workload {
  import GeoQuery._
  import spark.implicits._

  private val rnd = new scala.util.Random(seed * 7919 + 17)
  // hot spot and wide-zone region, away from each other and from the poles
  private val hotLon = -150.0 + rnd.nextDouble() * 120.0
  private val hotLat = -45.0 + rnd.nextDouble() * 90.0
  private val wideLon = 20.0 + rnd.nextDouble() * 110.0
  private val wideLat = -45.0 + rnd.nextDouble() * 60.0

  // generated inputs, driver-side copies for the references
  private val lon = new Array[Double](NPoints)
  private val lat = new Array[Double](NPoints)
  private val nx = new Array[Double](NPoints)
  private val ny = new Array[Double](NPoints)
  private val ids = Array.tabulate(NPoints)(pointId)
  (0 until NPoints).foreach { i =>
    val (x, y) = point(seed, i, hotLon, hotLat)
    lon(i) = x; lat(i) = y; nx(i) = Refs.unitX(x); ny(i) = Refs.unitY(y)
  }
  private val small = smallZones(new scala.util.Random(seed * 31 + 1), hotLon, hotLat)
  private val wide = wideZones(new scala.util.Random(seed * 31 + 2), wideLon, wideLat)
  private val smallGrid = new Refs.ZoneGrid(small, 2.0)
  private val wideGrid = new Refs.ZoneGrid(wide, 0.5)
  private val sweep = new Refs.SweepIndex(nx, ny, ids)

  private var pts: DataFrame = _
  private var smallDf: DataFrame = _
  private var wideDf: DataFrame = _

  def kinds: Seq[String] = Seq("pip", "pip_wide", "knn", "tile")

  def setup(dir: Path, t: Tracer, checks: LoopResult, warm: Boolean): Unit = {
    Option(pts).foreach(_.unpersist(blocking = true))
    Option(smallDf).foreach(_.unpersist(blocking = true))
    Option(wideDf).foreach(_.unpersist(blocking = true))
    Prepared.clearCache()
    val t0 = System.nanoTime()
    def lap(what: String) = System.err.println(f"perfbench: setup $what at ${(System.nanoTime() - t0) / 1e9}%.2fs")
    val s = seed; val hx = hotLon; val hy = hotLat
    // the tables are written and cached concurrently
    def put(name: String, rows: Long, df: => DataFrame): () => DataFrame = () => {
      df.write.mode("overwrite").parquet(s"$dir/$name.parquet")
      val back = spark.read.parquet(s"$dir/$name.parquet").cache()
      require(back.count() == rows, s"$name: row count")
      back
    }
    val Seq(p, z, w) = Par.all(Seq(
      put("points", NPoints, spark.range(0, NPoints, 1, cores).map { i =>
        val (x, y) = point(s, i.toInt, hx, hy)
        PointRow(pointId(i.toInt), x, y, Refs.unitX(x), Refs.unitY(y))
      }.toDF()),
      put("zones_small", small.length, small.map(p => ZoneRow(p.id, p.wkt)).toDF()),
      put("zones_wide", wide.length, wide.map(p => ZoneRow(p.id, p.wkt)).toDF().coalesce(cores))))
    pts = p; smallDf = z; wideDf = w
    lap("inputs")
    // warm-up: the join shapes once, checked
    if (warm) { Check.warmAll(warmOps, spark, checks); lap("warm-up") }
  }

  /** The tables are read-only; only the prepared-geometry cache carries
    * over from one op to the next, so a pass starts with it empty. */
  def savePoint(): () => Unit = () => Prepared.clearCache()

  // ---- op schedule ----

  // The SparkEntry catalogue has 9 queries that call SpatialJoins.pipJoin in
  // their body, 2 that call it and add st_tile_x/y and a group-by (q08,
  // q171), and 4 that call SpatialJoins.knn. One cycle is that mix halved
  // and rounded: 5 pip, 1 tile and 2 knn. One of the 5 pip ops goes to the
  // wide zone set, and one of the 2 knn ops takes the large-query-set path;
  // the catalogue gives no share for either.
  private val cycle = Array("pip", "knn", "pip", "tile", "pip_wide", "pip", "knn", "pip")

  private def rng(i: Int) = new scala.util.Random(Stats.mix64(seed * 1000003 + i))

  /** Every pip window holds the hot spot and no tile window does; the first
    * knn op of each cycle takes the engine's path for large query sets. */
  def cycleLength: Int = cycle.length

  def op(i: Int): Op = {
    val r = rng(i)
    val kind = cycle(i % cycle.length)
    val occ = i / cycle.length * cycle.count(_ == kind) + cycle.take(i % cycle.length).count(_ == kind)
    kind match {
      case "pip" => pipOp(window(r, hot = true), small, smallGrid, smallDf, "pip")
      case "pip_wide" => pipOp(wideWindow(r), wide, wideGrid, wideDf, "pip_wide")
      case "tile" => tileOp(window(r, hot = false))
      case "knn" => knnOp(r, large = occ % 2 == 0)
    }
  }

  /** The join shapes once; the tile aggregate and the large kNN are left to the loop. */
  private def warmOps: Seq[Op] = {
    val r = rng(-1)
    Seq(pipOp(window(r, hot = true), small, smallGrid, smallDf, "pip"),
      pipOp(wideWindow(r), wide, wideGrid, wideDf, "pip_wide"), knnOp(r, large = false))
  }

  private final case class Win(x0: Double, y0: Double, x1: Double, y1: Double) {
    def has(i: Int): Boolean = lon(i) >= x0 && lon(i) <= x1 && lat(i) >= y0 && lat(i) <= y1
    def filter(df: DataFrame): DataFrame =
      df.where(col("lon").between(x0, x1) && col("lat").between(y0, y1))
    def points: Array[Int] = (0 until NPoints).filter(has).toArray
  }

  /** A seeded WinW°×WinH° window; a hot one contains the hot spot. */
  private def window(r: scala.util.Random, hot: Boolean): Win =
    if (hot) {
      val x0 = hotLon + HotSpan - WinW * (0.2 + 0.6 * r.nextDouble())
      val y0 = hotLat + HotSpan - WinH * (0.2 + 0.6 * r.nextDouble())
      Win(x0, y0, x0 + WinW, y0 + WinH)
    } else {
      var w: Win = null
      while (w == null || w.x1 >= hotLon && w.x0 <= hotLon + HotSpan && w.y1 >= hotLat && w.y0 <= hotLat + HotSpan) {
        val x0 = -180.0 + r.nextDouble() * (360.0 - WinW)
        val y0 = -80.0 + r.nextDouble() * (160.0 - WinH)
        w = Win(x0, y0, x0 + WinW, y0 + WinH)
      }
      w
    }

  private def wideWindow(r: scala.util.Random): Win = {
    val m = 0.5 * r.nextDouble()
    Win(wideLon - m, wideLat - m, wideLon + WideSpan + m, wideLat + WideSpan + m)
  }

  private def key(p: Int, z: Int): Long = p.toLong << 20 | z

  private def pipOp(w: Win, zones: IndexedSeq[Refs.Poly], grid: Refs.ZoneGrid,
                    zonesDf: DataFrame, kind: String): Op = {
    val zoneIdx = zones.indices.map(z => zones(z).id -> z).toMap
    new Op(kind, s"join.$kind") {
      type R = Array[Row]
      def exec(t: Tracer): Array[Row] = {
        val df = SpatialJoins.pipJoin(w.filter(pts), zonesDf, level = Level,
          zonesCountHint = zones.length)
          .select(col("image_id"), col("zone_id"))
        planned(t, df).collect()
      }
      def check(rows: Array[Row]): Long = {
        val got = rows.map(r => key(pointIndex(r.getString(0)), zoneIdx(r.getString(1))))
        val exp = Refs.pipPairs(grid, lon, lat, w.points).map { case (p, z) => key(p, z) }
        Check.sameBag(kind, exp, got)
        rows.length
      }
      override def traced(t: Tracer): Unit = {
        val cover = t.span("cell.cover", (s: Span) => {
          val n = SpatialJoins.zoneCover(zonesDf, Level).count()
          s.attrs("rows") = n.toDouble; n
        })
        t.span(s"join.$kind.candidates", (s: Span) => {
          val c = w.filter(pts)
            .withColumn("cell", call_function("st_cellid", col("lon"), col("lat"), lit(Level)))
            .join(SpatialJoins.zoneCover(zonesDf, Level).select("cell"), "cell").count()
          s.attrs("pairs") = c.toDouble
          s.attrs("cover_rows") = cover.toDouble
        })
      }
    }
  }

  private def tileOp(w: Win): Op =
    Op("tile", "sql.tile") { t =>
      val df = SpatialJoins.pipJoin(w.filter(pts), smallDf, level = Level,
        zonesCountHint = small.length)
        .withColumn("tx", call_function("st_tile_x", col("lon"), lit(TileZoom)))
        .withColumn("ty", call_function("st_tile_y", col("lat"), lit(TileZoom)))
        .groupBy("zone_id", "tx", "ty")
        .agg(count(lit(1)).as("n"))
      planned(t, df).collect()
    } { rows =>
      val got = rows.map(r => Seq(r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      val exp = Refs.pipPairs(smallGrid, lon, lat, w.points)
        .groupBy { case (p, z) => (small(z).id, Refs.tileX(lon(p), TileZoom), Refs.tileY(lat(p), TileZoom)) }
        .map { case ((z, tx, ty), ps) => Seq(z, tx, ty, ps.length.toLong) }
      Check.equal("tile groups", exp.size, got.length)
      Check.equal("tile checksum", Stats.bagChecksum(exp), Stats.bagChecksum(got.toSeq))
      got.length
    }

  private def knnOp(r: scala.util.Random, large: Boolean): Op = {
    val nq = if (large) KnnLargeQueries else KnnQueries
    val qs = Array.tabulate(nq) { j =>
      val (x, y) =
        if (j % 2 == 0) (hotLon + r.nextDouble() * HotSpan, hotLat + r.nextDouble() * HotSpan)
        else (-180.0 + 360.0 * r.nextDouble(), -60.0 + 120.0 * r.nextDouble())
      (f"q$j%05d", Refs.unitX(x), Refs.unitY(y))
    }
    Op("knn", "join.knn") { t =>
      val q = qs.toSeq.toDF("id", "nx", "ny")
      val df = SpatialJoins.knn(pts.select(col("image_id").as("id"), col("nx"), col("ny")), q,
        k = K, level = KnnLevel, largeQThreshold = KnnLargeThreshold)
      planned(t, df).collect()
    } { rows =>
      val got = rows.groupBy(_.getString(0)).map { case (q, rs) =>
        q -> rs.sortBy(_.getAs[Number](3).intValue).map(r => (r.getDouble(2), r.getString(1))).toSeq
      }
      Check.equal("knn queries answered", nq, got.size)
      qs.foreach { case (id, x, y) =>
        val exp = sweep.nearest(x, y, K)
        if (got.getOrElse(id, Nil) != exp)
          throw new CheckFailed(s"knn $id: expected $exp, got ${got.getOrElse(id, Nil)}")
      }
      rows.length
    }
  }

  def itemsPerS(loop: LoopResult): Double = {
    val ks = Seq("pip", "pip_wide")
    ks.map(loop.items).sum / ks.map(loop.seconds).sum
  }

  def layerMetrics(t: Tracer, loop: LoopResult): Seq[(String, Double)] = {
    val sp = t.all
    def attr(name: String, a: String) = sp.filter(_.name == name).flatMap(_.attrs.get(a))
    val pipRows = loop.items("pip").toDouble
    val pipCands = attr("join.pip.candidates", "pairs").sum
    Seq(
      "cell.cover_rows" -> Stats.mean(attr("cell.cover", "rows")),
      "join.pip.refine_ratio" -> (if (pipCands > 0) pipRows / pipCands else 0.0),
      "join.pip_wide.refine_ratio" -> {
        val c = attr("join.pip_wide.candidates", "pairs").sum
        if (c > 0) loop.items("pip_wide") / c else 0.0
      })
  }
}

object GeoQuery {
  val NPoints = 200000
  /** Side of the hot square: 20% of the points at the density they would
    * have with 10^6 points in a 2° square. */
  val HotSpan: Double = 2.0 * math.sqrt(NPoints / 1e6)
  val WinW = 40.0
  val WinH = 30.0
  val NSmall = 300
  val WideSpan = 30.0
  val WideGrid = 95
  val Level = 8
  val TileZoom = 10
  val K = 5
  val KnnLevel = 8
  /** Above 2^24 / NPoints (≈ 84) queries, so the ring loop runs before the
    * final exact scan. */
  val KnnQueries = 120
  /** The large-query-set path runs above this many queries; lowered from
    * the engine's default of 2,000 so that one such op fits a run. */
  val KnnLargeThreshold = 200
  val KnnLargeQueries = 300

  def pointId(i: Int): String = f"p$i%07d"
  def pointIndex(id: String): Int = id.substring(1).toInt

  private def u(h: Long): Double = (h >>> 11).toDouble / (1L << 53).toDouble

  /** The i-th point: 20% uniformly in the hot spot, the rest uniform. */
  def point(seed: Long, i: Int, hotLon: Double, hotLat: Double): (Double, Double) = {
    val h = Stats.mix64(seed * 0x9E3779B97F4A7C15L + i)
    val a = u(Stats.mix64(h ^ 1)); val b = u(Stats.mix64(h ^ 2))
    if (u(h) < 0.2) (hotLon + a * HotSpan, hotLat + b * HotSpan)
    else (-180.0 + 360.0 * a, -80.0 + 160.0 * b)
  }

  /** A star-shaped simple polygon with `verts` vertices around (cx, cy). */
  def star(id: String, r: scala.util.Random, cx: Double, cy: Double, rad: Double, verts: Int): Refs.Poly = {
    val step = 2 * math.Pi / verts
    val ang = Array.tabulate(verts)(k => (k + 0.1 + 0.8 * r.nextDouble()) * step)
    val rr = Array.fill(verts)(rad * (0.55 + 0.45 * r.nextDouble()))
    new Refs.Poly(id, ang.indices.map(k => cx + rr(k) * math.cos(ang(k))).toArray,
      ang.indices.map(k => cy + rr(k) * math.sin(ang(k))).toArray)
  }

  /** Vertex counts on both sides of the engine's cache and index thresholds:
    * ≤ 24 vertices encode below 512 WKB bytes (not cached), 32–46 are cached
    * and scanned linearly, ≥ 48 are cached and indexed. Fixed per zone
    * number, so every seed has the same mix. */
  private val VertexLadder = Array(8, 12, 16, 20, 24, 32, 38, 44, 48, 64, 96, 128)
  private def verts(z: Int): Int = VertexLadder(z % VertexLadder.length)

  def smallZones(r: scala.util.Random, hotLon: Double, hotLat: Double): IndexedSeq[Refs.Poly] =
    (0 until NSmall).map { z =>
      // the first 16 on a 4×4 grid over the hot square, the rest anywhere
      val cell = HotSpan / 4
      val (cx, cy) =
        if (z < 16) (hotLon + (z % 4 + 0.5) * cell, hotLat + (z / 4 + 0.5) * cell)
        else awayFrom(r, hotLon + HotSpan / 2, hotLat + HotSpan / 2, 3.0)
      val rad = if (z < 16) cell * 0.7 else 1.2 + 0.4 * r.nextDouble()
      star(f"s$z%05d", r, cx, cy, rad, verts(z))
    }

  /** A uniform centre more than `gap` degrees (in lon or lat) from (x, y),
    * so that only the hot zones cover the hot square. */
  private def awayFrom(r: scala.util.Random, x: Double, y: Double, gap: Double): (Double, Double) = {
    var c = (x, y)
    while (math.abs(c._1 - x) < gap && math.abs(c._2 - y) < gap)
      c = (-175.0 + 350.0 * r.nextDouble(), -75.0 + 150.0 * r.nextDouble())
    c
  }

  /** WideGrid² small cacheable polygons (32–64 vertices) tiling the region. */
  def wideZones(r: scala.util.Random, x0: Double, y0: Double): IndexedSeq[Refs.Poly] = {
    val cell = WideSpan / WideGrid
    (0 until WideGrid * WideGrid).map { z =>
      val cx = x0 + (z % WideGrid + 0.5) * cell
      val cy = y0 + (z / WideGrid + 0.5) * cell
      star(f"w$z%05d", r, cx, cy, cell * 0.6, 32 + r.nextInt(33))
    }
  }

  /** Forces the physical plan before the action and records its time. */
  def planned(t: Tracer, df: DataFrame): DataFrame = {
    t.span("sql.plan")(df.queryExecution.executedPlan)
    df
  }
}
