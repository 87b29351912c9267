package graft.streaming

import graft.sql.GraftFunctions
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/**
 * Structured Streaming parity (SURVEY.md §2.5 #42): the reference's bidi
 * stream applies the same operator per message independently
 * ⟨ref: GeometryServer.java OperateBiStream; flow-control via
 * onReadyHandler⟩ — here the same Catalyst expressions run per streamed
 * row (backpressure = micro-batch admission control), and the watermarked
 * windowed aggregation covers the accumulate shape with event-time
 * semantics the reference never had.
 */
object Streams {

  /** Per-message operator application: stream of rows with lon/lat → cell/tile
    * enrichment, exactly the batch expressions (no rewrite needed). */
  def enrichGeo(stream: DataFrame, level: Int, zoom: Int): DataFrame = {
    GraftFunctions.install(stream.sparkSession)
    stream
      .withColumn("cell", call_function("st_cellid", col("lon"), col("lat"), lit(level)))
      .withColumn("tx", call_function("st_tile_x", col("lon"), lit(zoom)))
      .withColumn("ty", call_function("st_tile_y", col("lat"), lit(zoom)))
  }

  /** Watermarked tumbling-window counts per event type (client-stream fold,
    * streaming flavor). */
  def windowedCounts(events: DataFrame, watermark: String = "10 minutes",
                     window_ : String = "5 minutes"): DataFrame =
    events
      .withColumn("ts_tz", col("ts").cast("timestamp"))
      .withWatermark("ts_tz", watermark)
      .groupBy(window(col("ts_tz"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))

  /** File-source stream over a parquet dir with explicit schema. */
  def parquetStream(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.readStream.schema(schema).parquet(path)

  /**
   * CONTINUOUS tile ingestion into an IceLite table — the streaming
   * flavor of [[graft.tile.TileJob.run]] (north_rule: resumable ingest
   * with per-partition lineage). Each micro-batch lands as one immutable
   * per-batch data dir plus one snapshot commit, exactly-once via the
   * batchId-keyed idempotent commit in [[graft.tile.TileJob.ingestBatch]]:
   * a replayed batch (kill between the snapshot commit and the streaming
   * checkpoint advancing) is detected on the snapshot chain and skipped.
   * At 10^12 rows this is the standing ingest: per-batch dirs stay
   * read-optimal via [[graft.tile.TileJob.compact]] (merges same-bucket
   * entries) and [[graft.tile.IceLite.expireSnapshots]] (reclaims
   * superseded per-batch dirs).
   */
  /** `runId` keys the exactly-once markers together with the batchId:
    * batch numbering restarts at 0 under a FRESH checkpoint, so reusing a
    * runId across checkpoints would silently skip the renumbered batches
    * — keep (checkpoint, runId) paired for the life of a query. */
  def tileIngest(images: DataFrame, outRoot: String, checkpoint: String,
                 zoom: Int = 8, bucketLevel: Int = 2,
                 trigger: Trigger = Trigger.AvailableNow(),
                 runId: String = "stream"): StreamingQuery =
    images.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        graft.tile.TileJob.ingestBatch(batch.sparkSession, batch, outRoot, id,
          zoom, bucketLevel, runId)
        ()
      }
      .start()

  /**
   * Stream-static spatial enrichment: [[graft.join.SpatialJoins.pipJoin]]
   * over a stream. Output: `cell`, the stream's columns, `zone_id` — one
   * row per (row, zone) with the row's DOUBLE (lon, lat) inside or on the
   * zone. The zones are STATIC: one bounded job reads them when this is
   * called. Under pipJoin's zone cap every micro-batch probes one
   * broadcast cell→zone index in a single pass, so rows added to the zone
   * table later are not seen; over the cap each micro-batch runs a
   * stream-static equi-join on the cell key instead of the driver
   * collecting an unbounded zone table. No stream-side state.
   */
  def spatialEnrich(stream: DataFrame, zones: DataFrame, level: Int = 8): DataFrame =
    graft.join.SpatialJoins.pipJoin(stream, zones, level).drop("zone_geom")

  /**
   * Streaming exact dedup on a key column (e.g. the pHash of an image
   * ingest): state is bounded by the event-time watermark instead of
   * growing forever — `dropDuplicatesWithinWatermark` keeps a key only
   * until the watermark passes it, the streaming analog of q13's
   * hash-groupBy dedup.
   */
  def dedupWithinWatermark(stream: DataFrame, keyCols: Seq[String],
                           tsCol: String, watermark: String): DataFrame =
    stream
      .withColumn("_ts", col(tsCol).cast("timestamp"))
      .withWatermark("_ts", watermark)
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)

  /**
   * Watermarked STREAM-STREAM interval join (r4): two live streams joined
   * on a key within an event-time window — e.g. an image-bytes ingest
   * matched to its caption/annotation stream. Both watermarks plus the
   * time-range conjunct bound the join state on BOTH sides (Spark evicts
   * rows older than watermark − within), so state is O(rows within the
   * window), never O(stream) — the only stream-stream join shape that
   * survives an unbounded 10^12-row ingest.
   */
  def streamStreamJoin(left: DataFrame, right: DataFrame,
                       leftKey: String, rightKey: String,
                       leftTs: String, rightTs: String,
                       watermark: String, within: String): DataFrame = {
    val l = left.withWatermark(leftTs, watermark)
    val r = right.withWatermark(rightTs, watermark)
    // dataframe-qualified references: bare col(name) is ambiguous whenever
    // both streams share the key/timestamp column name — the most natural
    // call shape this signature invites (review r4)
    l.join(r, l(leftKey) === r(rightKey) &&
      r(rightTs) >= l(leftTs) - expr(s"INTERVAL $within") &&
      r(rightTs) <= l(leftTs) + expr(s"INTERVAL $within"))
  }

  /**
   * Watermarked STREAM-STREAM LEFT OUTER join: like [[streamStreamJoin]]
   * but unmatched left rows EMIT with nulls once the watermark passes
   * their join window — the enrichment shape where the left stream is the
   * system of record (every ingested image appears exactly once, with or
   * without its annotation). State stays watermark-bounded on both sides;
   * the null row for a left element is withheld until no future right row
   * could match it, so a terminating run must advance the final watermark
   * past the data (the q152 sentinel pattern) or accept withheld tails.
   */
  def streamStreamLeftOuter(left: DataFrame, right: DataFrame,
                            leftKey: String, rightKey: String,
                            leftTs: String, rightTs: String,
                            watermark: String, within: String): DataFrame = {
    val l = left.withWatermark(leftTs, watermark)
    val r = right.withWatermark(rightTs, watermark)
    l.join(r, l(leftKey) === r(rightKey) &&
      r(rightTs) >= l(leftTs) - expr(s"INTERVAL $within") &&
      r(rightTs) <= l(leftTs) + expr(s"INTERVAL $within"), "leftOuter")
  }

  // ---------------- custom state (mapGroupsWithState) ----------------

  /** Running per-cell accumulator carried across micro-batches. */
  final case class CellState(n: Long, xmin: Double, ymin: Double,
                             xmax: Double, ymax: Double)
  final case class CellPoint(cell: Long, lon: Double, lat: Double)
  final case class CellStats(cell: Long, n: Long, xmin: Double, ymin: Double,
                             xmax: Double, ymax: Double)

  /**
   * Stateful per-cell fold: count + running envelope maintained in
   * `GroupState` across micro-batches — the client-stream accumulate shape
   * with UNBOUNDED stream lifetime (the windowed agg above only folds
   * within a window). State is O(1) per key regardless of row count, so a
   * 10^12-row stream carries only #distinct-cells state.
   */
  def cellRunningStats(points: Dataset[CellPoint]): Dataset[CellStats] = {
    import points.sparkSession.implicits._
    points.groupByKey(_.cell)
      .mapGroupsWithState[CellState, CellStats](GroupStateTimeout.NoTimeout) {
        (cell: Long, rows: Iterator[CellPoint], state: GroupState[CellState]) =>
          var s = state.getOption.getOrElse(
            CellState(0L, Double.PositiveInfinity, Double.PositiveInfinity,
              Double.NegativeInfinity, Double.NegativeInfinity))
          rows.foreach { p =>
            s = CellState(s.n + 1,
              math.min(s.xmin, p.lon), math.min(s.ymin, p.lat),
              math.max(s.xmax, p.lon), math.max(s.ymax, p.lat))
          }
          state.update(s)
          CellStats(cell, s.n, s.xmin, s.ymin, s.xmax, s.ymax)
      }
  }
}
