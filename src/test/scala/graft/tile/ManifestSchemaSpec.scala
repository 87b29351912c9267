package graft.tile

import graft.data.GeoTables
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, MetadataBuilder, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/** The table schema rides in every IceLite snapshot: reads, appends and
  * rewrites take it from the manifest instead of running Spark's
  * schema-inference job over the data-file footers; a manifest written
  * without it (no `"schema"` key) still reads, compacts and rebuckets to
  * the same rows, and the commit that follows records the footer union;
  * a `_current` pointing at a missing snapshot file fails loudly; and
  * snapshots list in id order. */
class ManifestSchemaSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val sfDir = "/root/testdata/sf0.001"

  /** 60 images sorted by id, collected once, so that a batch built from
    * them is a local relation and its own reads run no job. */
  private lazy val images: (StructType, Seq[Row]) = {
    spark.sparkContext.setLogLevel("WARN")
    GeoTables.ensure(spark, sfDir)
    val df = spark.read.parquet(GeoTables.imagesPath(sfDir)).orderBy("image_id").limit(60)
    (df.schema, df.collect().toSeq)
  }

  private def batch(from: Int, until: Int, quality: Boolean = false): DataFrame = {
    val (schema, rows) = images
    val df = spark.createDataFrame(rows.slice(from, until).asJava, schema)
    if (quality) df.withColumn("quality", (length(col("caption")) % 7).cast("long")) else df
  }

  /** The Spark jobs `f` starts; listener events are async, so drain. */
  private def jobs(f: => Any): Int = {
    val n = new AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    Thread.sleep(500)
    spark.sparkContext.addSparkListener(listener)
    try { f; Thread.sleep(500) } finally spark.sparkContext.removeSparkListener(listener)
    n.get()
  }

  private def rows(df: DataFrame): Seq[String] =
    df.select(df.columns.sorted.map(col).toSeq: _*).orderBy("image_id")
      .collect().map(_.toString).toSeq

  /** Rewrite every snapshot file of `root` as a manifest written before
    * snapshots recorded their schema. */
  private def stripSchemas(root: String): Unit =
    IceLite.listSnapshots(root).foreach { n =>
      val f = IceLite.metaDir(root).resolve(n)
      val snap = IceLite.fromJson(new String(Files.readAllBytes(f), StandardCharsets.UTF_8))
      val json = IceLite.toJson(snap.copy(schema = None))
      assert(!json.contains("\"schema\""))
      Files.write(f, json.getBytes(StandardCharsets.UTF_8))
    }

  test("reads, appends and compactions run no schema-inference job") {
    def table(level: Int): String = {
      val root = Files.createTempDirectory(s"mschema_L$level").toString
      TileJob.ingestBatch(spark, batch(0, 30), root, batchId = 0, zoom = 6, bucketLevel = level)
      root
    }
    val l1 = table(1)
    val appendJobs = jobs(TileJob.ingestBatch(spark, batch(30, 60), l1, batchId = 1, zoom = 6,
      bucketLevel = 1))
    assert(appendJobs <= 3, s"ingestBatch ran $appendJobs jobs")

    val cellMax = IceLite.currentSnapshot(l1).get.buckets.map(_.cellMax).max
    val rangeJobs = jobs(TileJob.readCellRange(spark, l1, 0L, cellMax)
      .agg(count(lit(1)), sum(col("w").cast("long"))).collect())
    assert(rangeJobs <= 2, s"cell-range read ran $rangeJobs jobs")
    val aggJobs = jobs(TileJob.tileAggOf(TileJob.readCurrent(spark, l1)).collect())
    assert(aggJobs <= 2, s"tile-aggregate read ran $aggJobs jobs")

    val before = IceLite.currentSnapshot(l1).get
    val compactJobs = jobs(TileJob.compact(spark, l1))
    assert(compactJobs <= 4, s"compact ran $compactJobs jobs")
    assert(IceLite.currentSnapshot(l1).get.snapshotId == before.snapshotId + 1)

    // 16 buckets: a rewrite touching more buckets starts no more jobs
    val l2 = table(2)
    TileJob.ingestBatch(spark, batch(30, 60), l2, batchId = 1, zoom = 6, bucketLevel = 2)
    def compacted(root: String) = IceLite.currentSnapshot(root).get.buckets
      .count(_.dataDir.contains("/data-c"))
    val compactJobs2 = jobs(TileJob.compact(spark, l2))
    assert(compacted(l2) > compacted(l1), "the level-2 fixture must compact more buckets")
    assert(compactJobs2 == compactJobs, s"16-bucket compact ran $compactJobs2 jobs, 4-bucket $compactJobs")
  }

  test("an evolved table reads at its union schema whichever footer Spark would pick") {
    val narrowFirst = Files.createTempDirectory("mschema_nw").toString
    TileJob.ingestBatch(spark, batch(0, 30), narrowFirst, batchId = 0, zoom = 6)
    TileJob.ingestBatch(spark, batch(30, 60, quality = true), narrowFirst, batchId = 1,
      zoom = 6, extraCols = Seq("quality"))
    val wideFirst = Files.createTempDirectory("mschema_wn").toString
    TileJob.ingestBatch(spark, batch(30, 60, quality = true), wideFirst, batchId = 0,
      zoom = 6, extraCols = Seq("quality"))
    TileJob.ingestBatch(spark, batch(0, 30), wideFirst, batchId = 1, zoom = 6)

    val a = TileJob.readCurrent(spark, narrowFirst)
    val b = TileJob.readCurrent(spark, wideFirst)
    assert(a.schema == b.schema)
    assert(a.columns.last == "quality")
    assert(IceLite.currentSnapshot(wideFirst).get.schema.contains(a.schema))
    assert(rows(a) == rows(b))
    assert(a.where(col("quality").isNull).count() == 30)
    // a plain footer read of one batch's dir would have dropped the column
    assert(!spark.read.parquet(s"$narrowFirst/data-s0").columns.contains("quality"))
  }

  test("a manifest without a schema reads, compacts and rebuckets as the new format") {
    def build(): String = {
      val root = Files.createTempDirectory("mschema_legacy").toString
      TileJob.ingestBatch(spark, batch(0, 30), root, batchId = 0, zoom = 6)
      TileJob.ingestBatch(spark, batch(30, 50, quality = true), root, batchId = 1,
        zoom = 6, extraCols = Seq("quality"))
      root
    }
    val (fresh, legacy) = (build(), build())
    stripSchemas(legacy)
    assert(IceLite.currentSnapshot(legacy).get.schema.isEmpty)
    assert(rows(TileJob.readCurrent(spark, legacy)) == rows(TileJob.readCurrent(spark, fresh)))
    val mid = IceLite.currentSnapshot(fresh).get.buckets.filter(_.rows > 0).head
    assert(rows(TileJob.readCellRange(spark, legacy, mid.cellMin, mid.cellMax)) ==
      rows(TileJob.readCellRange(spark, fresh, mid.cellMin, mid.cellMax)))

    // the next commit on a legacy table records the footer union: here a
    // batch without `quality`, which only older entries hold
    val next = TileJob.ingestBatch(spark, batch(50, 60), legacy, batchId = 2, zoom = 6)
    val nextFresh = TileJob.ingestBatch(spark, batch(50, 60), fresh, batchId = 2, zoom = 6)
    assert(next.schema.exists(_.fieldNames.contains("quality")))
    assert(next.schema == nextFresh.schema)

    stripSchemas(legacy)
    val c = TileJob.compact(spark, legacy)
    assert(c.schema == TileJob.compact(spark, fresh).schema)
    assert(rows(TileJob.readCurrent(spark, legacy)) == rows(TileJob.readCurrent(spark, fresh)))

    stripSchemas(legacy)
    val r = TileJob.rebucket(spark, legacy, zoom = 6, newBucketLevel = 1)
    assert(r.schema == TileJob.rebucket(spark, fresh, zoom = 6, newBucketLevel = 1).schema)
    val got = rows(TileJob.readCurrent(spark, legacy))
    assert(got == rows(TileJob.readCurrent(spark, fresh)))
    assert(got.size == 60)
  }

  test("a commit rejects a column whose type clashes with the table's") {
    val root = Files.createTempDirectory("mschema_clash").toString
    TileJob.ingestBatch(spark, batch(0, 20, quality = true), root, batchId = 0, zoom = 6,
      extraCols = Seq("quality"))
    val before = IceLite.currentSnapshot(root).get
    val ex = intercept[IllegalArgumentException](TileJob.ingestBatch(spark,
      batch(20, 40).withColumn("quality", lit("high")), root, batchId = 1, zoom = 6,
      extraCols = Seq("quality")))
    assert(ex.getMessage.contains("quality"))
    assert(IceLite.currentSnapshot(root).get == before)
    assert(!Files.exists(Paths.get(s"$root/data-s1")))
  }

  test("the schema survives toJson/fromJson, names with quotes and backslashes included") {
    val schema = StructType(Seq(
      StructField("image_id", StringType),
      StructField("a\"b\\c", LongType, nullable = false,
        new MetadataBuilder().putString("doc", "q\"uo\\te").build())))
    val entry = IceLite.BucketEntry(3, 7L, 11L, 1L, 9L, "/t/data-s0/bucket=3",
      Seq(IceLite.LineageRow("s-0", 0, 7L, 7L, 11L)))
    val snap = IceLite.Snapshot(2L, 1L, "job-\"1\"", Seq(entry), Some(schema))
    assert(IceLite.fromJson(IceLite.toJson(snap)) == snap)
    val legacy = snap.copy(schema = None)
    assert(!IceLite.toJson(legacy).contains("schema"))
    assert(IceLite.fromJson(IceLite.toJson(legacy)) == legacy)
  }

  test("a _current naming a missing snapshot throws instead of restarting the chain") {
    val empty = Files.createTempDirectory("mschema_none").toString
    assert(IceLite.currentSnapshot(empty).isEmpty)

    val root = Files.createTempDirectory("mschema_ptr").toString
    TileJob.ingestBatch(spark, batch(0, 10), root, batchId = 0, zoom = 6)
    TileJob.ingestBatch(spark, batch(10, 20), root, batchId = 1, zoom = 6)
    val meta = IceLite.metaDir(root)
    val first = Files.readAllBytes(meta.resolve("snap-1.json"))
    Files.delete(meta.resolve("snap-2.json"))
    val ex = intercept[IllegalStateException](IceLite.currentSnapshot(root))
    assert(ex.getMessage.contains("_current") && ex.getMessage.contains("snap-2.json"))
    intercept[IllegalStateException](
      TileJob.ingestBatch(spark, batch(20, 30), root, batchId = 2, zoom = 6))
    assert(Files.readAllBytes(meta.resolve("snap-1.json")).sameElements(first))
  }

  test("listSnapshots orders by snapshot id and closes its directory stream") {
    val root = Files.createTempDirectory("mschema_list").toString
    (1L to 12L).foreach(id => IceLite.commit(root, IceLite.Snapshot(id, id - 1, s"j$id", Nil)))
    Files.write(IceLite.metaDir(root).resolve("snap-3.json.tmp"), Array.emptyByteArray)
    assert(IceLite.listSnapshots(root) == (1 to 12).map(i => s"snap-$i.json"))

    val fds = Paths.get("/proc/self/fd")
    assume(Files.isDirectory(fds), "needs /proc/self/fd to count open descriptors")
    def open(): Int = { val s = Files.list(fds); try s.count().toInt finally s.close() }
    val before = open()
    (1 to 400).foreach(_ => IceLite.listSnapshots(root))
    assert(open() - before < 100, "listSnapshots leaks directory descriptors")
  }
}
