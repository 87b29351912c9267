package graft.join

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** pipJoin's broadcast pass against its shuffled equi-join
  * (`broadcastMaxZones = 0`), which is the reference: same bag of rows,
  * same schema, same column order. */
class PipPassSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val pointSchema = StructType(Seq(
    StructField("image_id", StringType), StructField("lon", DoubleType),
    StructField("lat", DoubleType), StructField("tag", IntegerType)))
  private val zoneSchema = StructType(Seq(
    StructField("zone_id", StringType), StructField("wkt", StringType)))

  private def frame(schema: StructType, rows: Seq[Row], parts: Int = 3): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, parts), schema)

  private def points(ps: Seq[(Any, Any)]): DataFrame =
    frame(pointSchema, ps.zipWithIndex.map { case ((x, y), i) => Row(f"p$i%06d", x, y, i % 7) })

  private def zones(zs: Seq[(String, String)]): DataFrame =
    frame(zoneSchema, zs.map { case (id, wkt) => Row(id, wkt) }, 2)

  private def bag(df: DataFrame): Map[Seq[Any], Int] =
    df.collect().toSeq.map(_.toSeq.map {
      case b: Array[Byte] => b.toSeq
      case d: Double if d.isNaN => "NaN"
      case v => v
    }).groupBy(identity).view.mapValues(_.size).toMap

  /** Runs both paths at radius `d` (pipJoin at 0, dwithinJoin above);
    * returns the number of joined rows. */
  private def same(pts: DataFrame, zs: DataFrame, level: Int = 8, d: Double = 0.0): Long =
    if (d == 0) agree(SpatialJoins.pipJoin(pts, zs, level),
      SpatialJoins.pipJoin(pts, zs, level, broadcastMaxZones = 0))
    else agree(SpatialJoins.dwithinJoin(pts, zs, d, level),
      SpatialJoins.coverJoin(pts, SpatialJoins.zoneGeoms(zs), d, level, maxZones = 0))

  /** nearestSnapJoin's pass against its shuffled path at radius `d`. */
  private def sameSnap(pts: DataFrame, zs: DataFrame, level: Int, d: Double): Long =
    agree(SpatialJoins.nearestSnapJoin(pts, zs, d, level),
      SpatialJoins.snapJoin(pts, zs, d, level, maxZones = 0))

  /** `pass` runs the PipPass and `ref` a join, with the same schema and
    * bag of rows; returns the number of rows. */
  private def agree(pass: DataFrame, ref: DataFrame): Long = {
    val plan = pass.queryExecution.executedPlan.toString
    assert(plan.contains("PipPass") && !plan.contains("Join"), s"not the pass:\n$plan")
    assert(ref.queryExecution.executedPlan.toString.contains("Join"))
    assert(pass.schema == ref.schema, s"\n${pass.schema.treeString}\n${ref.schema.treeString}")
    val (a, b) = (bag(pass), bag(ref))
    assert(a == b, s"pass ${a.values.sum} rows, reference ${b.values.sum} rows; " +
      s"only pass: ${(a.keySet -- b.keySet).take(3)}; only reference: ${(b.keySet -- a.keySet).take(3)}")
    a.values.sum.toLong
  }

  private def rect(x0: Double, y0: Double, x1: Double, y1: Double) =
    s"POLYGON (($x0 $y0, $x1 $y0, $x1 $y1, $x0 $y1, $x0 $y0))"

  private def rnd(seed: Long) = new scala.util.Random(seed)

  test("one hot cell under 20 zones") {
    spark.sparkContext.setLogLevel("WARN")
    val r = rnd(1)
    // every zone holds the hot spot (10.01, 20.01), inside one level-8 cell
    val zs = (0 until 20).map { i =>
      val d = 0.02 + 0.5 * r.nextDouble()
      val wkt = if (i % 2 == 0) rect(10.0 - d, 20.0 - d, 10.02 + d, 20.02 + d)
        else s"POLYGON ((${10.0 - d} ${20.0 - d}, ${10.02 + 2 * d} 20.0, ${10.0 + d} ${20.02 + d}, ${10.0 - d} ${20.0 - d}))"
      (f"z$i%02d", wkt)
    }
    val ps = (0 until 3000).map { i =>
      if (i % 3 == 0) (9.0 + 2.5 * r.nextDouble(), 19.0 + 2.5 * r.nextDouble())
      else (10.0 + 0.02 * r.nextDouble(), 20.0 + 0.02 * r.nextDouble())
    }
    assert(same(points(ps), zones(zs)) > 20000)
  }

  test("more than 8192 zones") {
    val r = rnd(2)
    // a 96 x 96 lattice of small triangles and squares, 0.25° apart
    val zs = for (i <- 0 until 96; j <- 0 until 96) yield {
      val (x, y) = (i * 0.25, j * 0.25)
      val wkt = if ((i + j) % 2 == 0) rect(x, y, x + 0.2, y + 0.2)
        else s"POLYGON (($x $y, ${x + 0.24} $y, $x ${y + 0.24}, $x $y))"
      (s"z${i}_$j", wkt)
    }
    assert(zs.size > 8192)
    val ps = (0 until 20000).map(_ => (24.0 * r.nextDouble(), 24.0 * r.nextDouble()))
    assert(same(points(ps), zones(zs), level = 9) > 5000)
  }

  test("duplicate zone ids and null wkt") {
    val r = rnd(3)
    val zs = Seq(("a", rect(0, 0, 2, 2)), ("a", rect(0, 0, 2, 2)), ("a", rect(1, 1, 3, 3)),
      ("b", null), (null, rect(0.5, 0.5, 1.5, 1.5)), ("c", null))
    val ps = (0 until 2000).map(_ => (-0.5 + 4 * r.nextDouble(), -0.5 + 4 * r.nextDouble()))
    val pass = SpatialJoins.pipJoin(points(ps), zones(zs))
    assert(pass.where(col("zone_id") === "b" || col("zone_id") === "c").count() == 0)
    assert(same(points(ps), zones(zs)) > 1000)
  }

  test("null and NaN lon/lat") {
    val r = rnd(4)
    val zs = Seq(("z", rect(-1, -1, 1, 1)), ("w", rect(-180, -85, 180, 85)))
    val ps = (0 until 1000).map { i =>
      (i % 5) match {
        case 0 => (null, 0.5)
        case 1 => (0.5, null)
        case 2 => (Double.NaN, 0.5)
        case 3 => (0.25, Double.NaN)
        case _ => (-2 + 4 * r.nextDouble(), -2 + 4 * r.nextDouble())
      }
    }
    assert(same(points(ps), zones(zs), level = 4) > 200)
  }

  test("points on vertices and edges") {
    val tri = "POLYGON ((0 0, 4 0, 0 3, 0 0))"
    val zs = Seq(("tri", tri), ("box", rect(4, 0, 6, 3)))
    val ps = Seq((0.0, 0.0), (4.0, 0.0), (0.0, 3.0), (2.0, 0.0), (0.0, 1.5), (2.0, 1.5),
      (4.0, 1.0), (6.0, 3.0), (5.0, 3.0), (4.0, 0.75), (1.0, 1.0), (3.0, 1.0), (6.0001, 1.0))
    val n = same(points(ps), zones(zs))
    val got = SpatialJoins.pipJoin(points(ps), zones(zs)).select("image_id", "zone_id").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(got.contains(("p000000", "tri")) && got.contains(("p000005", "tri")) &&
      got.contains(("p000001", "box")) && !got.exists(_._1 == "p000012"), got)
    assert(n == got.size)
  }

  test("a MultiPolygon with a hole") {
    val r = rnd(6)
    val mp = "MULTIPOLYGON (((0 0, 3 0, 3 3, 0 3, 0 0), (1 1, 1 2, 2 2, 2 1, 1 1)), " +
      "((4 0, 5 0, 4.5 1, 4 0)))"
    val ps = (0 until 3000).map(_ => (-0.5 + 6 * r.nextDouble(), -0.5 + 4 * r.nextDouble())) ++
      Seq((1.0, 1.0), (1.5, 1.5), (1.5, 1.0), (4.5, 1.0), (4.5, 0.5))
    val n = same(points(ps), zones(Seq(("mp", mp))))
    val got = SpatialJoins.pipJoin(points(ps), zones(Seq(("mp", mp))))
      .select("lon", "lat").collect().map(r => (r.getDouble(0), r.getDouble(1))).toSet
    assert(got.contains((1.0, 1.0)) && !got.contains((1.5, 1.5)) && got.contains((1.5, 1.0)))
    assert(n > 1000)
  }

  test("LINESTRING and POINT zones take the Pred.intersects path") {
    val r = rnd(7)
    val zs = Seq(("line", "LINESTRING (0 0, 2 2, 4 0)"), ("pt", "POINT (1 3)"),
      ("poly", rect(0, 0, 1, 1)))
    val ps = (0 until 500).map(_ => (4 * r.nextDouble(), 4 * r.nextDouble())) ++
      Seq((1.0, 1.0), (2.0, 2.0), (3.0, 1.0), (1.0, 3.0), (0.5, 0.5), (4.0, 0.0))
    val got = SpatialJoins.pipJoin(points(ps), zones(zs)).select("lon", "lat", "zone_id").collect()
      .map(r => (r.getDouble(0), r.getDouble(1), r.getString(2))).toSet
    assert(Seq((1.0, 1.0, "line"), (2.0, 2.0, "line"), (3.0, 1.0, "line"), (1.0, 3.0, "pt"),
      (4.0, 0.0, "line"), (1.0, 1.0, "poly")).forall(got.contains), got)
    same(points(ps), zones(zs))
  }

  test("polar triangles past the grid's ±85.05° edge rows match brute force") {
    graft.sql.GraftFunctions.install(spark)
    val r = rnd(10)
    // cellId clamps these points into the grid's top and bottom rows
    val zs = zones(Seq(("n", "POLYGON ((0 86, 20 86, 10 89, 0 86))"),
      ("s", "POLYGON ((0 -86, 10 -89, 20 -86, 0 -86))")))
    val ps = points((0 until 2000).map { i =>
      (-2 + 24 * r.nextDouble(), (if (i % 2 == 0) 1 else -1) * (84.5 + 5.4 * r.nextDouble()))
    } ++ Seq((10.0, 87.0), (10.0, -87.0)))
    val n = same(ps, zs)
    val brute = ps.crossJoin(zs.select(col("zone_id"),
        call_function("st_geomfromwkt", col("wkt")).as("zone_geom")))
      .where(call_function("st_intersects_xy", col("zone_geom"), col("lon"), col("lat")))
    val key = (df: DataFrame) => df.select("image_id", "zone_id").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    val want = key(brute)
    assert(want.contains(("p002000", "n")) && want.contains(("p002001", "s")))
    assert(key(SpatialJoins.pipJoin(ps, zs)) == want)
    assert(n == want.size && n > 200)
  }

  test("an existing cell column is replaced; float coordinates fail on both paths") {
    val r = rnd(8)
    val zs = zones(Seq(("z", "POLYGON ((0 0, 3 0, 1 2, 0 0))")))
    val ps = points((0 until 1000).map(_ => (-0.5 + 4 * r.nextDouble(), -0.5 + 3 * r.nextDouble())))
    assert(same(ps.withColumn("cell", lit("stale")), zs) > 100)
    val floats = ps.withColumn("lon", col("lon").cast(FloatType))
    intercept[Exception](SpatialJoins.pipJoin(floats, zs))
    intercept[Exception](SpatialJoins.pipJoin(floats, zs, broadcastMaxZones = 0))
  }

  test("the pass reads only the point columns the query uses") {
    val r = rnd(9)
    val dir = java.nio.file.Files.createTempDirectory("pip_pass").toString
    points((0 until 500).map(_ => (4 * r.nextDouble(), 4 * r.nextDouble())))
      .withColumn("payload", lit(Array.fill[Byte](64)(1)))
      .write.mode("overwrite").parquet(dir)
    val joined = SpatialJoins.pipJoin(spark.read.parquet(dir), zones(Seq(("z", rect(1, 1, 3, 3)))))
      .select("image_id", "zone_id")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema") && !plan.contains("payload"), plan)
    assert(joined.count() > 50)
  }

  // The shapes above again at radius 0.05: dwithinJoin and nearestSnapJoin
  // take the same pass, so each must agree with its shuffled path.
  private val D = 0.05

  /** (name, level, points, zones) of each shape above, rebuilt from its seed. */
  private def shapes: Seq[(String, Int, Seq[(Any, Any)], Seq[(String, String)])] = {
    val hot = {
      val r = rnd(1)
      val zs = (0 until 20).map { i =>
        val d = 0.02 + 0.5 * r.nextDouble()
        val wkt = if (i % 2 == 0) rect(10.0 - d, 20.0 - d, 10.02 + d, 20.02 + d)
          else s"POLYGON ((${10.0 - d} ${20.0 - d}, ${10.02 + 2 * d} 20.0, ${10.0 + d} ${20.02 + d}, ${10.0 - d} ${20.0 - d}))"
        (f"z$i%02d", wkt)
      }
      val ps = (0 until 3000).map { i =>
        if (i % 3 == 0) (9.0 + 2.5 * r.nextDouble(), 19.0 + 2.5 * r.nextDouble())
        else (10.0 + 0.02 * r.nextDouble(), 20.0 + 0.02 * r.nextDouble())
      }
      ("one hot cell under 20 zones", 8, ps, zs)
    }
    val many = {
      val r = rnd(2)
      val zs = for (i <- 0 until 96; j <- 0 until 96) yield {
        val (x, y) = (i * 0.25, j * 0.25)
        val wkt = if ((i + j) % 2 == 0) rect(x, y, x + 0.2, y + 0.2)
          else s"POLYGON (($x $y, ${x + 0.24} $y, $x ${y + 0.24}, $x $y))"
        (s"z${i}_$j", wkt)
      }
      ("more than 8192 zones", 9, (0 until 20000).map(_ => (24.0 * r.nextDouble(), 24.0 * r.nextDouble())), zs)
    }
    val dups = {
      val r = rnd(3)
      ("duplicate zone ids and null wkt", 8,
        (0 until 2000).map(_ => (-0.5 + 4 * r.nextDouble(), -0.5 + 4 * r.nextDouble())),
        Seq(("a", rect(0, 0, 2, 2)), ("a", rect(0, 0, 2, 2)), ("a", rect(1, 1, 3, 3)),
          ("b", null), (null, rect(0.5, 0.5, 1.5, 1.5)), ("c", null)))
    }
    val nulls = {
      val r = rnd(4)
      ("null and NaN lon/lat", 4, (0 until 1000).map { i =>
        (i % 5) match {
          case 0 => (null, 0.5)
          case 1 => (0.5, null)
          case 2 => (Double.NaN, 0.5)
          case 3 => (0.25, Double.NaN)
          case _ => (-2 + 4 * r.nextDouble(), -2 + 4 * r.nextDouble())
        }
      }, Seq(("z", rect(-1, -1, 1, 1)), ("w", rect(-180, -85, 180, 85))))
    }
    val edges = ("points on vertices and edges", 8,
      Seq((0.0, 0.0), (4.0, 0.0), (0.0, 3.0), (2.0, 0.0), (0.0, 1.5), (2.0, 1.5),
        (4.0, 1.0), (6.0, 3.0), (5.0, 3.0), (4.0, 0.75), (1.0, 1.0), (3.0, 1.0), (6.0001, 1.0)),
      Seq(("tri", "POLYGON ((0 0, 4 0, 0 3, 0 0))"), ("box", rect(4, 0, 6, 3))))
    val hole = {
      val r = rnd(6)
      ("a MultiPolygon with a hole", 8,
        (0 until 3000).map(_ => (-0.5 + 6 * r.nextDouble(), -0.5 + 4 * r.nextDouble())) ++
          Seq((1.0, 1.0), (1.5, 1.5), (1.5, 1.0), (4.5, 1.0), (4.5, 0.5)),
        Seq(("mp", "MULTIPOLYGON (((0 0, 3 0, 3 3, 0 3, 0 0), (1 1, 1 2, 2 2, 2 1, 1 1)), " +
          "((4 0, 5 0, 4.5 1, 4 0)))")))
    }
    val lines = {
      val r = rnd(7)
      ("LINESTRING and POINT zones", 8,
        (0 until 500).map(_ => (4 * r.nextDouble(), 4 * r.nextDouble())) ++
          Seq((1.0, 1.0), (2.0, 2.0), (3.0, 1.0), (1.0, 3.0), (0.5, 0.5), (4.0, 0.0)),
        Seq(("line", "LINESTRING (0 0, 2 2, 4 0)"), ("pt", "POINT (1 3)"), ("poly", rect(0, 0, 1, 1))))
    }
    val polar = {
      val r = rnd(10)
      ("polar triangles past the grid's ±85.05° edge rows", 8,
        (0 until 2000).map { i =>
          (-2 + 24 * r.nextDouble(), (if (i % 2 == 0) 1 else -1) * (84.5 + 5.4 * r.nextDouble()))
        } ++ Seq((10.0, 87.0), (10.0, -87.0)),
        Seq(("n", "POLYGON ((0 86, 20 86, 10 89, 0 86))"), ("s", "POLYGON ((0 -86, 10 -89, 20 -86, 0 -86))")))
    }
    Seq(hot, many, dups, nulls, edges, hole, lines, polar)
  }

  for ((name, level, ps, zs) <- shapes) {
    test(s"$name, at d = $D: dwithinJoin and nearestSnapJoin agree with their shuffled paths") {
      spark.sparkContext.setLogLevel("WARN")
      val (p, z) = (points(ps), zones(zs))
      val within = same(p, z, level, D)
      assert(within >= same(p, z, level) && within > 0)
      val snapped = sameSnap(p, z, level, D)
      assert(snapped > 0 && snapped <= within)
    }
  }

  test("an empty zone geometry matches nothing on either path, at d = 0 and 0.05") {
    spark.sparkContext.setLogLevel("WARN")
    val r = rnd(11)
    val p = points((0 until 500).map(_ => (-1 + 4 * r.nextDouble(), -1 + 4 * r.nextDouble())))
    val solid = Seq(("a", rect(0, 0, 2, 2)), ("b", "POLYGON ((1 1, 3 1, 1 3, 1 1))"))
    val withEmpty = zones(solid :+ ("e" -> "POLYGON EMPTY"))
    for (d <- Seq(0.0, D)) assert(same(p, withEmpty, 8, d) == same(p, zones(solid), 8, d))
    assert(sameSnap(p, withEmpty, 8, D) == sameSnap(p, zones(solid), 8, D))
  }
}
