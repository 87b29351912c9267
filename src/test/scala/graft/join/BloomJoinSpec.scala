package graft.join

import graft.data.GeoTables
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** A bloom filter over a zone subset's cell cover (`bloom_agg`, probed by
  * `bloom_contains`) keeps every candidate point (no false negatives) and
  * prunes most of the rest. */
class BloomJoinSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val dir = "/root/testdata/sf0.001"

  test("the bloom prune is selective: survivors ≈ cover-cell candidates") {
    val s = spark
    graft.sql.GraftFunctions.install(s)
    val imgs = GeoTables.images(s, dir)
    val hot = GeoTables.zones(s, dir)
      .where(expr("CAST(substring(zone_id, 5) AS INT) % 17 = 3"))
    val cover = hot
      .withColumn("zone_geom", call_function("st_geomfromwkt", col("wkt")))
      .select(col("zone_id"),
        explode(call_function("st_cover", col("zone_geom"), lit(8))).as("cell"))
    val bloomDf = cover.agg(
      call_function("bloom_agg", col("cell"), lit(1 << 20), lit(7)).as("bl"))
    val pts = imgs.withColumn("cell",
      call_function("st_cellid", col("lon"), col("lat"), lit(8)))
    val total = pts.count()
    val survivors = pts.join(broadcast(bloomDf))
      .where(call_function("bloom_contains", col("bl"), col("cell"), lit(7)))
      .count()
    val exactCandidates = pts.join(cover.select("cell").distinct(), "cell").count()
    // no false negatives → survivors ≥ candidates; tight filter → the
    // excess is bloom fp only (4 bits/8-cell probes at 2^20 bits → tiny)
    assert(survivors >= exactCandidates)
    assert(survivors <= exactCandidates + total / 100,
      s"survivors=$survivors candidates=$exactCandidates total=$total")
    assert(survivors < total / 2, s"prune not selective: $survivors of $total")
  }
}
