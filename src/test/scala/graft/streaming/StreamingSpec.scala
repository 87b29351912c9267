package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming parity: the same expressions produce the same results on a
  * stream as on the batch table (driven via file source + memory sink). */
class StreamingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val eventsPath = "/root/testdata/sf0.001/events.parquet"

  test("windowed counts over a stream equal the batch computation") {
    spark.sparkContext.setLogLevel("WARN")
    val batch = spark.read.parquet(eventsPath)
    // file source needs a directory; re-materialize the events under one
    val dir = java.nio.file.Files.createTempDirectory("stream_events").toString
    batch.write.mode("overwrite").parquet(dir)
    val stream = Streams.parquetStream(spark, dir, batch.schema)

    val q = Streams.windowedCounts(stream).writeStream
      .outputMode("complete").format("memory").queryName("win_out").start()
    q.processAllAvailable()
    q.stop()

    val got = spark.table("win_out")
      .select(col("window.start").cast("long").as("ws"), col("event_type"), col("n"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val want = Streams.windowedCounts(batch)
      .select(col("window.start").cast("long").as("ws"), col("event_type"), col("n"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got == want && got.nonEmpty)
  }

  test("session_window sessionization over a stream equals the batch result (q77 shape)") {
    spark.sparkContext.setLogLevel("WARN")
    val batch = spark.read.parquet(eventsPath)
    val dir = java.nio.file.Files.createTempDirectory("stream_sess").toString
    batch.repartition(4).write.mode("overwrite").parquet(dir) // multi-file → multi-batch
    val stream = Streams.parquetStream(spark, dir, batch.schema)

    def sessionize(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("tst", col("ts").cast("timestamp"))
      .withWatermark("tst", "1 hour")
      .groupBy(col("user_id"), session_window(col("tst"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").cast("long").as("ss"),
        col("w.end").cast("long").as("se"), col("n_events"))

    val q = sessionize(stream).writeStream
      .outputMode("complete").format("memory").queryName("sess_out").start()
    q.processAllAvailable()
    q.stop()

    val got = spark.table("sess_out").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val want = sessionize(batch).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == want && got.nonEmpty, s"stream ${got.size} vs batch ${want.size} sessions")
  }

  test("mapGroupsWithState accumulates per-cell state ACROSS micro-batches") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Streams.CellPoint]
    val q = Streams.cellRunningStats(input.toDS())
      .writeStream.outputMode("update").format("memory").queryName("cell_state").start()
    // batch 1: two points in cell 7, one in cell 9
    input.addData(Streams.CellPoint(7, 1.0, 2.0), Streams.CellPoint(7, 3.0, -1.0),
      Streams.CellPoint(9, 10.0, 10.0))
    q.processAllAvailable()
    // batch 2: cell 7 grows — state must carry the previous count/envelope
    input.addData(Streams.CellPoint(7, -5.0, 4.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("cell_state")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(5)))
    // last update for cell 7: n=3 (2 from batch 1 + 1 from batch 2), envelope spans both batches
    val last7 = rows.filter(_._1 == 7L).maxBy(_._2)
    assert(last7._2 == 3L, s"state did not carry across batches: $last7")
    assert(last7._3 == -5.0 && last7._4 == 4.0)
    assert(rows.filter(_._1 == 9L).maxBy(_._2)._2 == 1L)
  }

  test("stream-static spatial enrichment equals the batch PIP join") {
    import graft.data.GeoTables
    val sfDir = "/root/testdata/sf0.001"
    GeoTables.ensure(spark, sfDir)
    val images = GeoTables.images(spark, sfDir).select("image_id", "lon", "lat")
    val zones = GeoTables.zones(spark, sfDir)
    val dir = java.nio.file.Files.createTempDirectory("stream_pip").toString
    images.write.mode("overwrite").parquet(dir)
    val stream = Streams.parquetStream(spark, dir, images.schema)

    val q = Streams.spatialEnrich(stream, zones).writeStream
      .outputMode("append").format("memory").queryName("pip_out").start()
    q.processAllAvailable()
    q.stop()

    val got = spark.table("pip_out").select("zone_id", "image_id")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val want = graft.join.SpatialJoins.pipJoin(images, zones)
      .select("zone_id", "image_id")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == want && got.nonEmpty, s"got=${got.size} want=${want.size}")

    // each micro-batch probes the broadcast zone index in one pass: the
    // PipPass node, not a broadcast hash join on the cell key
    val plan = q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
      .streamingQuery.lastExecution.executedPlan.toString
    assert(plan.contains("PipPass"), s"no PipPass in the micro-batch plan:\n$plan")
    assert(!plan.contains("BroadcastHashJoin"), s"micro-batch plan joins on the cell key:\n$plan")
  }

  test("over the zone cap, pipJoin over a stream takes the stream-static equi-join") {
    import graft.data.GeoTables
    val sfDir = new java.io.File(eventsPath).getParent
    GeoTables.ensure(spark, sfDir)
    val images = GeoTables.images(spark, sfDir).select("image_id", "lon", "lat")
    val zones = GeoTables.zones(spark, sfDir)
    val dir = java.nio.file.Files.createTempDirectory("stream_pip_cap").toString
    images.write.mode("overwrite").parquet(dir)
    val stream = Streams.parquetStream(spark, dir, images.schema)

    val q = graft.join.SpatialJoins.pipJoin(stream, zones, broadcastMaxZones = 0)
      .drop("zone_geom").writeStream
      .outputMode("append").format("memory").queryName("pip_cap_out").start()
    q.processAllAvailable()
    q.stop()

    val got = spark.table("pip_cap_out").select("zone_id", "image_id")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val want = graft.join.SpatialJoins.pipJoin(images, zones)
      .select("zone_id", "image_id")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == want && got.nonEmpty, s"got=${got.size} want=${want.size}")
    val plan = q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
      .streamingQuery.lastExecution.executedPlan.toString
    assert(!plan.contains("PipPass") && plan.contains("Join"), s"not the equi-join:\n$plan")
  }

  test("batch spatial enrichment runs at most 2 jobs: no zone-count probe") {
    import graft.data.GeoTables
    val sfDir = new java.io.File(eventsPath).getParent
    GeoTables.ensure(spark, sfDir)
    val images = GeoTables.images(spark, sfDir).select("image_id", "lon", "lat")
    val zones = GeoTables.zones(spark, sfDir)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      Thread.sleep(500) // listener events are async; drain
      jobs.set(0)
      val enriched = Streams.spatialEnrich(images, zones)
      val rows = enriched.collect()
      Thread.sleep(500)
      // one job collects the zone index, one runs the pass
      assert(jobs.get() <= 2, s"spatialEnrich ran ${jobs.get()} jobs")
      assert(enriched.columns.toSeq == Seq("cell", "image_id", "lon", "lat", "zone_id"))
      assert(rows.nonEmpty)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("watermarked streaming dedup drops in-watermark duplicate phashes") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Long, java.sql.Timestamp)]
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$m%02d:00")
    val deduped = Streams.dedupWithinWatermark(
      input.toDF().toDF("id", "phash", "ts"), Seq("phash"), "ts", "10 minutes")
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    input.addData(("a", 11L, ts(0)), ("b", 11L, ts(1)), ("c", 22L, ts(2)))
    q.processAllAvailable()
    input.addData(("d", 11L, ts(3)), ("e", 33L, ts(4))) // 11 still in watermark → dropped
    q.processAllAvailable()
    q.stop()
    val ids = spark.table("dedup_out").select("id").collect().map(_.getString(0)).toSet
    assert(ids == Set("a", "c", "e"), s"got $ids")
  }

  test("stream-stream interval join matches in-window pairs and evicts out-of-watermark state") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    def ts(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 $h%02d:$m%02d:00")
    val imgs = MemoryStream[(String, java.sql.Timestamp)]
    val caps = MemoryStream[(String, java.sql.Timestamp)]
    val joined = Streams.streamStreamJoin(
      imgs.toDF().toDF("img_id", "img_ts"), caps.toDF().toDF("cap_id", "cap_ts"),
      "img_id", "cap_id", "img_ts", "cap_ts",
      watermark = "10 minutes", within = "5 minutes")
    val q = joined.select("img_id", "img_ts", "cap_ts").writeStream
      .outputMode("append").format("memory").queryName("ss_join").start()
    // batch 1: a matches within 5 min; b's caption is 7 min late → no pair
    imgs.addData(("a", ts(10, 0)), ("b", ts(10, 2)))
    caps.addData(("a", ts(10, 3)), ("b", ts(10, 9)))
    q.processAllAvailable()
    // batch 2: advance both watermarks far past 10:00 (max ts 11:00 → wm 10:50)
    imgs.addData(("c", ts(11, 0)))
    caps.addData(("c", ts(10, 58)))
    q.processAllAvailable()
    // batch 3: a caption for 'b' at 10:04 would match b@10:02, but both
    // sides' state before ~10:35 is evicted → must NOT produce a pair
    caps.addData(("b", ts(10, 4)))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("ss_join").select("img_id")
      .collect().map(_.getString(0)).sorted.toSeq
    assert(got == Seq("a", "c"), s"got $got")
  }

  test("geometry expressions run per streamed row (bidi-stream shape)") {
    val batch = spark.read.parquet(eventsPath)
      .withColumn("lon", (col("user_id") % 360 - 180).cast("double"))
      .withColumn("lat", (col("user_id") % 170 - 85).cast("double"))
    val tmp = java.nio.file.Files.createTempDirectory("stream_geo").toString
    batch.write.mode("overwrite").parquet(tmp)
    val stream = Streams.parquetStream(spark, tmp, batch.schema)

    val q = Streams.enrichGeo(stream, level = 8, zoom = 6)
      .writeStream.outputMode("append").format("memory").queryName("geo_out").start()
    q.processAllAvailable()
    q.stop()

    val got = spark.table("geo_out")
      .agg(count(lit(1)), countDistinct(col("cell"))).collect()(0)
    val want = Streams.enrichGeo(batch, level = 8, zoom = 6)
      .agg(count(lit(1)), countDistinct(col("cell"))).collect()(0)
    assert(got == want)
    assert(got.getLong(0) > 0)
  }
}
