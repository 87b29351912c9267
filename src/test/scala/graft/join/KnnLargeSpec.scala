package graft.join

import graft.data.GeoTables
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.scalatest.funsuite.AnyFunSuite

/** The large-query-set kNN must be exact vs brute force when EVERY point
  * is a query: both the public entry (the broadcast pass below 2²² queries)
  * and the all-DataFrame ring loop that takes over above that bound. */
class KnnLargeSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val sfDir = "/root/testdata/sf0.001"

  test("knn exact vs brute force with 2000 queries (= all points)") {
    spark.sparkContext.setLogLevel("WARN")
    GeoTables.ensure(spark, sfDir)
    val img = GeoTables.images(spark, sfDir)
      .select(col("image_id").as("id"), col("nx"), col("ny"))
    val k = 3
    val level = 5

    def run(df: org.apache.spark.sql.DataFrame) = df.select("q_id", "p_id", "rank")
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    val got = run(SpatialJoins.knn(img, img, k, level))
    val rings = run(SpatialJoins.knnRings(img, img, k, level))

    val q = img.select(col("id").as("q_id"), col("nx").as("qnx"), col("ny").as("qny"))
    val w = Window.partitionBy("q_id").orderBy(col("d2"), col("p_id"))
    val brute = img.select(col("id").as("p_id"), col("nx"), col("ny"))
      .crossJoin(q)
      .select(col("q_id"), col("p_id"),
        ((col("nx") - col("qnx")) * (col("nx") - col("qnx")) +
         (col("ny") - col("qny")) * (col("ny") - col("qny"))).as("d2"))
      .withColumn("rank", row_number().over(w)).where(col("rank") <= k)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(3))).toSet

    assert(got.size == brute.size, s"got=${got.size} brute=${brute.size}")
    assert(got == brute, s"diff=${(got diff brute).take(3)} / ${(brute diff got).take(3)}")
    assert(rings == brute, s"ring loop diff=${(rings diff brute).take(3)} / ${(brute diff rings).take(3)}")
  }

  test("brute-force fallback broadcasts the FRONTIER, never the points side") {
    GeoTables.ensure(spark, sfDir)
    val img = GeoTables.images(spark, sfDir)
      .select(col("image_id").as("id"), col("nx"), col("ny"))
    val pts = img.select(col("id").as("p_id"), col("nx").as("p_nx"), col("ny").as("p_ny"))
    val frontier = img.limit(7).select(col("id").as("q_id"), col("nx"), col("ny"))
    val brute = SpatialJoins.bruteTopK(pts, frontier, k = 2)
    val plan = brute.queryExecution.executedPlan.toString
    // broadcast(frontier) on the right of the crossJoin ⇒ BuildRight;
    // BuildLeft would mean the planner chose to broadcast the points side
    assert(plan.contains("BroadcastNestedLoopJoin BuildRight"),
      s"frontier is not the broadcast build side:\n$plan")
    assert(brute.count() == 14)
  }

  test("knn() gives the same answer whatever largeQThreshold says") {
    GeoTables.ensure(spark, sfDir)
    val img = GeoTables.images(spark, sfDir)
      .select(col("image_id").as("id"), col("nx"), col("ny"))
    // below 2²² queries the threshold selects no path: 10 and the default agree
    val queries = img.limit(100)
    def run(t: Long) = SpatialJoins.knn(img, queries, k = 2, level = 5, largeQThreshold = t)
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2), r.getInt(3))).toSet
    val low = run(10)
    assert(low.size == 200)
    assert(low == run(2000))
  }
}
