package graft.tile

import graft.data.GeoTables
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** Verify-before-publish on every copy-on-write rewrite: when the
  * committed manifest no longer matches its files (one live entry's
  * checksum flipped), compact, deleteWhere and mergeUpsert must refuse to
  * publish, rebucket must fail its conservation check before writing
  * anything, and the current pointer must stay where it was. */
class RewriteAbortSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val sfDir = "/root/testdata/sf0.001"

  test("a manifest that disagrees with its files aborts every rewrite unpublished") {
    spark.sparkContext.setLogLevel("WARN")
    GeoTables.ensure(spark, sfDir)
    val images = spark.read.parquet(GeoTables.imagesPath(sfDir))
      .orderBy("image_id").limit(40).cache()
    val root = Files.createTempDirectory("cowabort").toString
    // two batches over the same region: shared buckets hold one entry per batch
    TileJob.ingestBatch(spark, images.limit(20), root, batchId = 0, zoom = 6)
    val s1 = TileJob.ingestBatch(spark, images.orderBy(desc("image_id")).limit(20),
      root, batchId = 1, zoom = 6)
    val multi = s1.buckets.filter(_.rows > 0).groupBy(_.bucket).filter(_._2.size > 1)
    assert(multi.nonEmpty, "fixture must have a multi-entry bucket")

    // flip one live entry's checksum and commit that copy as current
    val victim = multi.values.head.head
    val tampered = IceLite.Snapshot(s1.snapshotId + 1, s1.snapshotId, "tamper",
      s1.buckets.map(e => if (e == victim) e.copy(checksum = e.checksum ^ 1L) else e))
    IceLite.commit(root, tampered)
    def currentId = IceLite.currentSnapshot(root).get.snapshotId

    val id = spark.read.parquet(victim.dataDir).select("image_id").head().getString(0)
    val update = images.where(col("image_id") === id)
      .withColumn("caption", concat(col("caption"), lit(" v2")))
    val refused = Seq[(String, () => Any)](
      "compact" -> (() => TileJob.compact(spark, root)),
      "delete" -> (() => TileJob.deleteWhere(spark, root, col("image_id") === id)),
      "merge" -> (() => TileJob.mergeUpsert(spark, root, update, zoom = 6)))
    refused.foreach { case (op, f) =>
      val ex = intercept[IllegalStateException](f())
      assert(ex.getMessage.contains("not committed"), s"$op: ${ex.getMessage}")
      assert(currentId == tampered.snapshotId, s"$op published")
    }

    val ex = intercept[IllegalStateException](
      TileJob.rebucket(spark, root, zoom = 6, newBucketLevel = 1))
    assert(ex.getMessage.contains("conservation"))
    assert(!Files.exists(Paths.get(s"$root/data-r${tampered.snapshotId + 1}")))
    assert(currentId == tampered.snapshotId)
    images.unpersist()
  }
}
