package graft.sql

import graft.data.GeoTables
import graft.join.SpatialJoins
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The naive PIP join is auto-rewritten to the cell equi-join and returns
  * identical rows to both the manual API and a brute-force evaluation. */
class SpatialJoinRewriteSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("join on st_intersects_xy alone plans as a hash join with identical results") {
    spark.sparkContext.setLogLevel("WARN")
    GraftFunctions.install(spark)
    val sfDir = "/root/testdata/sf0.001"
    GeoTables.ensure(spark, sfDir)
    val images = GeoTables.images(spark, sfDir).select("image_id", "lon", "lat")
    val zones = GeoTables.zones(spark, sfDir)
      .withColumn("zone_geom", call_function("st_geomfromwkt", col("wkt")))
      .select("zone_id", "zone_geom")

    val naive = images.join(zones,
      call_function("st_intersects_xy", col("zone_geom"), col("lon"), col("lat")))
    val plan = naive.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"rewrite did not fire:\n$plan")

    val got = naive.select("zone_id", "image_id").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    val want = SpatialJoins.pipJoin(GeoTables.images(spark, sfDir), GeoTables.zones(spark, sfDir))
      .select("zone_id", "image_id").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == want && got.nonEmpty)

    // flipped sides also rewrite
    val flipped = zones.join(images,
      call_function("st_intersects_xy", col("zone_geom"), col("lon"), col("lat")))
    val planF = flipped.queryExecution.executedPlan.toString
    assert(!planF.contains("BroadcastNestedLoopJoin") && !planF.contains("CartesianProduct"))
    val gotF = flipped.select("zone_id", "image_id").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(gotF == want)

    // st_contains_xy rewrites too
    val viaContains = images.join(zones,
      call_function("st_contains_xy", col("zone_geom"), col("lon"), col("lat")))
    val planC = viaContains.queryExecution.executedPlan.toString
    assert(!planC.contains("BroadcastNestedLoopJoin") && !planC.contains("CartesianProduct"),
      s"contains_xy rewrite did not fire:\n$planC")
    assert(viaContains.count() > 0)

    // PIP predicate inside a conjunction rewrites, extra conjunct still applies
    val conj = images.join(zones,
      call_function("st_intersects_xy", col("zone_geom"), col("lon"), col("lat"))
        && col("zone_id") =!= "zone00000")
    val planJ = conj.queryExecution.executedPlan.toString
    assert(!planJ.contains("BroadcastNestedLoopJoin") && !planJ.contains("CartesianProduct"),
      s"conjunction rewrite did not fire:\n$planJ")
    val gotJ = conj.select("zone_id", "image_id").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(gotJ == want.filterNot(_._1 == "zone00000") && gotJ.nonEmpty)
  }

  test("geometry×geometry st_intersects/st_dwithin joins rescue with exact multiplicity (r5)") {
    spark.sparkContext.setLogLevel("WARN")
    GraftFunctions.install(spark)
    import spark.implicits._
    // overlapping rects whose covers share SEVERAL cells — the canonical-
    // shared-cell condition must keep each pair exactly once; a duplicated
    // input row must stay duplicated (bag semantics)
    def rect(x0: Double, y0: Double, x1: Double, y1: Double) =
      s"POLYGON (($x0 $y0, $x1 $y0, $x1 $y1, $x0 $y1, $x0 $y0))"
    val aRows = Seq(
      ("a0", rect(0, 0, 30, 20)), ("a1", rect(25, 5, 60, 40)),
      ("a2", rect(100, -40, 140, -5)), ("a2", rect(100, -40, 140, -5)), // duplicate row
      ("a3", rect(-170, 50, -130, 80)))
    val bRows = Seq(
      ("b0", rect(10, 10, 50, 30)), ("b1", rect(55, 35, 90, 60)),
      ("b2", rect(135, -10, 160, 20)), ("b3", rect(-140, 75, -100, 85)))
    val a = aRows.toDF("a_id", "wkt")
      .select(col("a_id"), call_function("st_geomfromwkt", col("wkt")).as("ga"))
    val b = bRows.toDF("b_id", "wkt")
      .select(col("b_id"), call_function("st_geomfromwkt", col("wkt")).as("gb"))

    val naive = a.join(b, call_function("st_intersects", col("ga"), col("gb")))
    val plan = naive.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"geom-pair rewrite did not fire:\n$plan")
    def bag(rows: Array[org.apache.spark.sql.Row]): Map[(String, String), Int] =
      rows.map(r => (r.getString(0), r.getString(1))).groupBy(identity).view.mapValues(_.length).toMap
    val got = bag(naive.select("a_id", "b_id").collect())
    // brute force via the predicate only (tiny inputs)
    val brute = bag(a.crossJoin(b)
      .where(call_function("st_intersects", col("ga"), col("gb")))
      .select("a_id", "b_id").collect())
    assert(got == brute, s"got=$got brute=$brute")
    assert(brute(("a2", "b2")) == 2, "duplicate input row must keep multiplicity 2")

    // st_dwithin geometry-pair rescue (radius pulls in pairs intersects misses)
    val naiveD = a.join(b, call_function("st_dwithin", col("ga"), col("gb"), lit(30.0)))
    val planD = naiveD.queryExecution.executedPlan.toString
    assert(!planD.contains("BroadcastNestedLoopJoin") && !planD.contains("CartesianProduct"),
      s"geom-pair dwithin rewrite did not fire:\n$planD")
    val gotD = bag(naiveD.select("a_id", "b_id").collect())
    val bruteD = bag(a.crossJoin(b)
      .where(call_function("st_dwithin", col("ga"), col("gb"), lit(30.0)))
      .select("a_id", "b_id").collect())
    assert(gotD == bruteD)
    assert(bruteD.keySet != brute.keySet, "radius should add at least one pair")
  }

  test("rule does NOT re-rewrite the already-cell-joined manual pipJoin (r2 regression)") {
    spark.sparkContext.setLogLevel("WARN")
    GraftFunctions.install(spark)
    val sfDir = "/root/testdata/sf0.001"
    GeoTables.ensure(spark, sfDir)
    val images = GeoTables.images(spark, sfDir)
    val zones = GeoTables.zones(spark, sfDir)

    // the defect stacked a second explode(st_cover) on the zones side:
    // the shuffle path's executed plan must contain exactly ONE cover
    // Generate, and the broadcast pass, which covers on the driver's zone
    // job, none. (String count, not collect{GenerateExec}: AQE hides
    // children pre-execution.)
    def coverGenerates(df: org.apache.spark.sql.DataFrame): Int =
      "Generate explode\\(stcover".r
        .findAllIn(df.queryExecution.executedPlan.toString).size
    val shuffled = SpatialJoins.pipJoin(images, zones, broadcastMaxZones = 0)
    assert(coverGenerates(shuffled) == 1,
      s"expected exactly one cover Generate in pipJoin's shuffle-path plan:\n" +
        shuffled.queryExecution.executedPlan.toString)
    val joined = SpatialJoins.pipJoin(images, zones)
    assert(coverGenerates(joined) == 0,
      s"expected no cover Generate in pipJoin's broadcast-pass plan:\n" +
        joined.queryExecution.executedPlan.toString)

    // and it must run at naive-join speed, not quadratic-broadcast speed
    // (63-88 s when broken even on a degraded host; < 5 s healthy)
    val t0 = System.nanoTime()
    val n = shuffled.count()
    val secs = (System.nanoTime() - t0) / 1e9
    assert(n > 0 && joined.count() == n)
    assert(secs < 10.0, s"pipJoin at sf0.001 took $secs s — quadratic rewrite is back?")

    // a join that already has an ordinary equi key + PIP refine is left alone
    val zcells = SpatialJoins.zoneCover(zones, 8).select("zone_id", "zone_geom", "cell")
    val pts = images.withColumn("cell",
      call_function("st_cellid", col("lon"), col("lat"), lit(8)))
    val manual = pts.join(zcells, pts("cell") === zcells("cell") &&
      call_function("st_intersects_xy", col("zone_geom"), col("lon"), col("lat")))
    assert(coverGenerates(manual) == 1, s"equi-keyed join was re-rewritten:\n" +
      manual.queryExecution.executedPlan.toString)
  }
}
