package graft.tile

import graft.data.GeoTables
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Copy-on-write row-level DELETE and MERGE/upsert (the Iceberg table
  * mutations after ADD COLUMN): deleteWhere removes exactly the rows where
  * the predicate is TRUE (NULL keeps — the SQL DELETE contract, pinned on
  * an evolved table where pre-evolution rows carry NULL in the added
  * column); mergeUpsert replaces matched ids wherever they live (including
  * across buckets when lon/lat move), appends insert-only buckets without
  * rewriting them, and rejects ambiguous duplicate-id sources. Time travel
  * to pre-mutation snapshots is unaffected; compaction after a merge still
  * verifies its checksums. */
class MergeDeleteSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val sfDir = "/root/testdata/sf0.001"

  test("deleteWhere: TRUE rows gone, NULL rows kept, time travel intact") {
    spark.sparkContext.setLogLevel("WARN")
    GeoTables.ensure(spark, sfDir)
    val images = spark.read.parquet(GeoTables.imagesPath(sfDir))
      .orderBy("image_id").limit(40).cache()
    val old = images.limit(20)
    val neu = images.orderBy(desc("image_id")).limit(20)
      .withColumn("quality", (length(col("caption")) % 7).cast("long"))
    val root = Files.createTempDirectory("cowdel").toString
    TileJob.ingestBatch(spark, old, root, batchId = 0, zoom = 6)
    val sPre = TileJob.ingestBatch(spark, neu, root, batchId = 1, zoom = 6,
      extraCols = Seq("quality"))

    val nHigh = neu.where(col("quality") > 3).count()
    assert(nHigh > 0, "fixture must have quality>3 rows")

    // quality > 3 is NULL on every pre-evolution row — all 20 must survive
    val s2 = TileJob.deleteWhere(spark, root, col("quality") > 3)
    val ev = TileJob.readEvolved(spark, root)
    assert(ev.count() == 40 - nHigh)
    assert(ev.where(col("quality").isNull).count() == 20)
    assert(ev.where(col("quality") > 3).count() == 0)
    // time travel: the pre-delete snapshot still shows every row
    assert(TileJob.readAt(spark, root, sPre.snapshotId).count() == 40)

    // id-list delete (the GDPR shape): exactly those ids disappear
    val ids = ev.select("image_id").orderBy("image_id").limit(3)
      .collect().map(_.getString(0)).toSeq
    TileJob.deleteWhere(spark, root, col("image_id").isInCollection(ids))
    val ev2 = TileJob.readEvolved(spark, root)
    assert(ev2.count() == 40 - nHigh - 3)
    assert(ev2.where(col("image_id").isInCollection(ids)).count() == 0)

    // zero matches: no new snapshot, same manifest
    val s3 = IceLite.currentSnapshot(root).get
    val s4 = TileJob.deleteWhere(spark, root, col("image_id") === "nope")
    assert(s4.snapshotId == s3.snapshotId)

    // untouched buckets keep their original dirs (no write amplification):
    // every surviving entry of s2 that had no quality>3 rows must still
    // point at a data-s* ingest dir, not a rewritten data-d* dir
    val delDirs = s2.buckets.map(_.dataDir)
    assert(delDirs.exists(_.contains("data-d")), "some bucket rewritten")
    assert(delDirs.exists(_.contains("data-s")), "some bucket untouched")
    images.unpersist()
  }

  test("mergeUpsert on an evolved table: evolved values ride through; missing column rejects") {
    spark.sparkContext.setLogLevel("WARN")
    GeoTables.ensure(spark, sfDir)
    val images = spark.read.parquet(GeoTables.imagesPath(sfDir))
      .orderBy("image_id").limit(40).cache()
    val old = images.limit(20)
    val neu = images.orderBy(desc("image_id")).limit(20)
      .withColumn("quality", (length(col("caption")) % 7).cast("long"))
    val root = Files.createTempDirectory("cowmergeev").toString
    TileJob.ingestBatch(spark, old, root, batchId = 0, zoom = 6)
    TileJob.ingestBatch(spark, neu, root, batchId = 1, zoom = 6,
      extraCols = Seq("quality"))

    // updates WITHOUT the evolved column would silently blank it (the
    // verify checksum hashes core columns only) — rejected loudly instead
    val ex = intercept[IllegalArgumentException] {
      TileJob.mergeUpsert(spark, root, old.limit(3), zoom = 6)
    }
    assert(ex.getMessage.contains("evolved"))

    // updates carrying it: matched rows take the fresh value, everyone
    // else (incl. the NULL pre-evolution rows) is untouched
    val upd = neu.orderBy("image_id").limit(3)
      .withColumn("caption", concat(col("caption"), lit(" v2")))
      .withColumn("quality", lit(99L))
    TileJob.mergeUpsert(spark, root, upd, zoom = 6)
    val ev = TileJob.readEvolved(spark, root)
    assert(ev.count() == 40)
    assert(ev.where(col("quality") === 99L).count() == 3)
    assert(ev.where(col("quality") === 99L)
      .where(!col("caption").endsWith(" v2")).count() == 0)
    assert(ev.where(col("quality").isNull).count() == 20)
    images.unpersist()
  }

  test("mergeUpsert: replace in place, bucket hop, insert append, dup reject") {
    spark.sparkContext.setLogLevel("WARN")
    GeoTables.ensure(spark, sfDir)
    val images = spark.read.parquet(GeoTables.imagesPath(sfDir))
      .orderBy("image_id").limit(33).cache()
    val base = images.limit(30)
    val root = Files.createTempDirectory("cowmerge").toString
    val s0 = TileJob.ingestBatch(spark, base, root, batchId = 0, zoom = 6)

    val upd5 = base.orderBy("image_id").limit(5)
      .withColumn("caption", concat(col("caption"), lit(" v2")))
    // two of the five also MOVE (lon sign flip → different level-2 bucket)
    val moved = upd5.orderBy("image_id").limit(2)
      .withColumn("lon", -col("lon") + lit(0.5))
    val stay = upd5.orderBy(desc("image_id")).limit(3)
    // three brand-new ids (cloned payloads, fresh keys) pinned to a far
    // corner no base row occupies → a guaranteed insert-only bucket
    val fresh = images.orderBy(desc("image_id")).limit(3)
      .withColumn("image_id", concat(lit("new-"), col("image_id")))
      .withColumn("lon", lit(179.5)).withColumn("lat", lit(80.0))
    val updates = moved.unionByName(stay).unionByName(fresh)

    val s1 = TileJob.mergeUpsert(spark, root, updates, zoom = 6)
    val cur = TileJob.readCurrent(spark, root)
    assert(cur.count() == 33)
    assert(cur.where(col("caption").endsWith(" v2")).count() == 5)
    assert(cur.where(col("image_id").startsWith("new-")).count() == 3)
    // each id appears exactly once (the moved rows did not leave ghosts)
    assert(cur.groupBy("image_id").count().where(col("count") > 1).count() == 0)
    // moved rows carry exactly the flipped lon (bit-deterministic -x+0.5)
    val expLon = moved.select("image_id", "lon").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val gotLon = cur.where(col("image_id").isInCollection(expLon.keys.toSeq))
      .select("image_id", "lon").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(gotLon == expLon)
    // pre-merge snapshot unchanged
    val at0 = TileJob.readAt(spark, root, s0.snapshotId)
    assert(at0.count() == 30)
    assert(at0.where(col("caption").endsWith(" v2")).count() == 0)

    // insert-only buckets APPEND a merge-insert entry (never a rewrite of
    // rows they already held); matched buckets are rewritten with a
    // "merge" lineage row — both shapes must appear
    assert(s1.buckets.exists(_.lineage.lastOption.exists(_.stage == "merge-insert")),
      "the far-corner inserts must land as an appended entry")
    assert(s1.buckets.exists(e =>
      e.dataDir.contains("data-m") && e.lineage.exists(_.stage == "merge")),
      "matched buckets must be rewritten")
    // untouched buckets keep their ingest dirs byte-identical
    assert(s1.buckets.exists(_.dataDir.contains("data-s")),
      "unmatched buckets must keep their original files")

    // duplicate source ids are ambiguous — rejected loudly
    val ex = intercept[IllegalArgumentException] {
      TileJob.mergeUpsert(spark, root, stay.unionByName(stay), zoom = 6)
    }
    assert(ex.getMessage.contains("unique"))

    // re-merging the same updates is a row-set no-op (snapshot advances,
    // content identical)
    TileJob.mergeUpsert(spark, root, updates, zoom = 6)
    val cur2 = TileJob.readCurrent(spark, root)
    assert(cur2.count() == 33)
    assert(cur2.select("image_id", "caption", "cell").orderBy("image_id")
      .collect().toSeq ==
      cur.select("image_id", "caption", "cell").orderBy("image_id")
        .collect().toSeq)

    // compaction after merges: multi-entry buckets fold, checksums verify,
    // the table reads identically
    TileJob.compact(spark, root)
    val cur3 = TileJob.readCurrent(spark, root)
    assert(cur3.count() == 33)
    assert(cur3.select("image_id", "caption").orderBy("image_id")
      .collect().toSeq ==
      cur.select("image_id", "caption").orderBy("image_id").collect().toSeq)
    images.unpersist()
  }

  test("deleting every row leaves an empty table that reads as zero rows") {
    spark.sparkContext.setLogLevel("WARN")
    GeoTables.ensure(spark, sfDir)
    val images = spark.read.parquet(GeoTables.imagesPath(sfDir))
      .orderBy("image_id").limit(30).cache()
    val root = Files.createTempDirectory("cowempty").toString
    TileJob.ingestBatch(spark, images.limit(15), root, batchId = 0, zoom = 6)
    val sPre = TileJob.ingestBatch(spark, images.orderBy(desc("image_id")).limit(15),
      root, batchId = 1, zoom = 6)
    val full = TileJob.readAt(spark, root, sPre.snapshotId)

    val sEmpty = TileJob.deleteWhere(spark, root, lit(true))
    assert(sEmpty.snapshotId == sPre.snapshotId + 1 && sEmpty.buckets.isEmpty)
    val cur = TileJob.readCurrent(spark, root)
    assert(cur.count() == 0)
    // the empty read carries the core columns at the table's own types
    assert(cur.schema.map(f => f.name -> f.dataType) ==
      full.schema.map(f => f.name -> f.dataType))
    assert(TileJob.readEvolved(spark, root).count() == 0)
    assert(TileJob.readCellRange(spark, root, Long.MinValue, Long.MaxValue).count() == 0)
    assert(TileJob.tileAggOf(cur).collect().isEmpty)
    // time travel still reads every row; compaction has nothing to do
    assert(TileJob.readAt(spark, root, sPre.snapshotId).count() == 30)
    assert(TileJob.compact(spark, root) == sEmpty)

    // a batch build over an input with no rows reads as empty too
    val noRows = Files.createTempDirectory("cowempty_in").resolve("images.parquet").toString
    images.limit(0).write.parquet(noRows)
    val built = Files.createTempDirectory("cowempty_run").toString
    assert(TileJob.run(spark, noRows, built, zoom = 6).buckets.forall(_.rows == 0))
    assert(TileJob.readCurrent(spark, built).count() == 0)
    images.unpersist()
  }
}
