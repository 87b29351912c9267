package perfbench

import graft.img.Images
import graft.tile.{IceLite, TileJob}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

final case class ImgRow(idx: Long, image_id: String, caption: String, w: Int, h: Int, fmt: String,
                        lon: Double, lat: Double, bytes: Array[Byte], phash: Long)

/** A standing tile table: one TileJob build over seeded encoded images, then
  * a closed loop of appends from a landing table, cell-range and tile-
  * aggregate reads, and a compaction every few appends. */
final class TileTable(spark: SparkSession, seed: Long, cores: Int) extends Workload {
  import TileTable._
  import spark.implicits._

  private val meta: Array[Meta] = Array.tabulate(NBase + NPool)(i => TileTable.meta(seed, i))
  private var root: String = _
  private var landing: DataFrame = _
  /** Live rows of the table: (pool or base index) per row. */
  private val live = mutable.ArrayBuffer.empty[Int]
  private var appends = 0
  /** Seconds of each set-up round's build. */
  private val builds = mutable.ArrayBuffer.empty[Double]
  private val appendBytes = mutable.ArrayBuffer.empty[Long]

  def kinds: Seq[String] = Seq("append", "read", "compact")

  def setup(dir: Path, t: Tracer, checks: LoopResult, warm: Boolean): Unit = {
    val t0 = System.nanoTime()
    def lap(what: String) = System.err.println(f"perfbench: setup $what at ${(System.nanoTime() - t0) / 1e9}%.2fs")
    val s = seed
    // both tables are written concurrently
    Par.all(Seq(
      () => spark.range(0, NBase, 1, cores * 2).map(i => row(s, i.toInt))
        .write.mode("overwrite").parquet(s"$dir/images.parquet"),
      () => spark.range(NBase, NBase + NPool, 1, cores * 2).map(i => row(s, i.toInt))
        .write.mode("overwrite").parquet(s"$dir/landing.parquet")))
    landing = spark.read.parquet(s"$dir/landing.parquet")
    lap("inputs")
    root = s"$dir/table"
    live.clear(); appends = 0; appendBytes.clear()
    val b0 = System.nanoTime()
    val snap = t.span("tile.build")(TileJob.run(spark, s"$dir/images.parquet", root,
      zoom = Zoom, bucketLevel = BucketLevel))
    builds += (System.nanoTime() - b0) / 1e9
    lap("build")
    live ++= 0 until NBase
    Check.equal("rows after build", NBase.toLong, snap.buckets.map(_.rows).sum)
    // warm-up: one append and then both reads, checked; compaction is left to the loop
    if (warm) Seq(appendOp(), rangeOp(new scala.util.Random(seed)), aggOp())
      .foreach { o => Check.warmAll(Seq(o), spark, checks); lap(s"warm ${o.kind}") }
  }

  /** Copies the table directory and the client's view of it. */
  def savePoint(): () => Unit = {
    val saved = Paths.get(s"$root.saved")
    Main.deleteTree(saved)
    copyTree(Paths.get(root), saved)
    val (liveNow, appendsNow, bytesNow) = (live.toVector, appends, appendBytes.toVector)
    () => {
      Main.deleteTree(Paths.get(root))
      copyTree(saved, Paths.get(root))
      live.clear(); live ++= liveNow
      appends = appendsNow
      appendBytes.clear(); appendBytes ++= bytesNow
    }
  }

  // The SparkEntry catalogue has one query that appends to a tile table
  // (q118) and 6 that group the images table by tile (q09, q38, q52, q134,
  // q168, q172). One cycle is 2 appends with 6 reads each, split evenly
  // between tile-aggregate and cell-range reads, and one compaction. The
  // catalogue gives no share for the compaction or for the split.
  private val cycle = Array("append", "agg", "range", "agg", "range", "agg", "range",
    "append", "agg", "range", "agg", "range", "agg", "range", "compact")

  def cycleLength: Int = cycle.length

  def op(i: Int): Op = cycle(i % cycle.length) match {
    case "append" => appendOp()
    case "range" => rangeOp(new scala.util.Random(Stats.mix64(seed * 1000003 + i)))
    case "agg" => aggOp()
    case "compact" => compactOp()
  }

  private def appendOp(): Op = {
    val b = appends
    appends += 1
    val lo = (b * Batch) % NPool
    val rows = (lo until lo + Batch).map(k => NBase + k % NPool)
    new Op("append", "tile.append") {
      type R = IceLite.Snapshot
      private def dirBytes = du(Paths.get(s"$root/data-s${b + 1}"))
      def exec(t: Tracer): IceLite.Snapshot = {
        val batch = landing.where(col("idx") >= NBase + lo && col("idx") < NBase + lo + Batch)
          .withColumn("image_id", concat(lit(s"a$b-"), col("image_id")))
        TileJob.ingestBatch(spark, batch, root, batchId = b + 1, zoom = Zoom,
          bucketLevel = BucketLevel, runId = "perfbench")
      }
      def check(snap: IceLite.Snapshot): Long = {
        live ++= rows
        Check.equal(s"rows after append $b", live.length.toLong, snap.buckets.map(_.rows).sum)
        appendBytes += dirBytes
        Batch.toLong
      }
    }
  }

  /** Count, width sum and failed pHash checks over an aligned block of cells. */
  private def rangeOp(r: scala.util.Random): Op = {
    val level = 3 + r.nextInt(2)
    val shift = 2 * (Zoom - level)
    val block = if (r.nextInt(3) == 0) Refs.cellOf(HotLon + 1.0, HotLat + 1.0, Zoom) >>> shift
                else r.nextInt(1 << (2 * level)).toLong
    val (c0, c1) = (block << shift, ((block + 1) << shift) - 1)
    Op("read", "tile.read") { _ =>
      TileJob.readCellRange(spark, root, c0, c1)
        .agg(count(lit(1)), coalesce(sum(col("w").cast("long")), lit(0L)),
          sum(when(col("phash_ok"), 0L).otherwise(1L)))
        .collect()(0)
    } { got =>
      val hit = live.filter { k => val c = Refs.cellOf(meta(k).lon, meta(k).lat, Zoom); c >= c0 && c <= c1 }
      Check.equal(s"cells [$c0,$c1] rows", hit.length.toLong, got.getLong(0))
      Check.equal(s"cells [$c0,$c1] width sum", hit.map(meta(_).w.toLong).sum, got.getLong(1))
      Check.equal(s"cells [$c0,$c1] pHash mismatches", 0L, Option(got.get(2)).map(_.toString.toLong).getOrElse(0L))
      hit.length
    }
  }

  /** Per-tile image count and width sum of the whole current table. */
  private def aggOp(): Op =
    Op("read", "tile.read") { _ =>
      TileJob.tileAggOf(TileJob.readCurrent(spark, root)).collect()
    } { got =>
      val exp = live.groupBy(k => (Refs.tileX(meta(k).lon, Zoom), Refs.tileY(meta(k).lat, Zoom)))
        .map { case ((tx, ty), ks) => Seq(tx, ty, ks.length.toLong, ks.map(meta(_).w.toLong).sum) }
      val rows = got.map((r: Row) => Seq(r.getAs[Number](0).longValue, r.getAs[Number](1).longValue,
        r.getLong(2), r.getLong(3)))
      Check.equal("tiles", exp.size, rows.length)
      Check.equal("tile aggregate checksum", Stats.bagChecksum(exp), Stats.bagChecksum(rows.toSeq))
      live.length
    }

  private def compactOp(): Op =
    Op("compact", "tile.compact") { _ => TileJob.compact(spark, root) } { snap =>
      Check.equal("rows after compaction", live.length.toLong, snap.buckets.map(_.rows).sum)
      live.length
    }

  /** Images committed per second of committing: the warm set-up builds (all
    * but the first round's, which runs cold) plus the loop's appends. */
  def itemsPerS(loop: LoopResult): Double = {
    val warm = if (builds.length > 1) builds.tail else builds
    (NBase.toDouble * warm.length + loop.items("append")) / (warm.sum + loop.seconds("append"))
  }

  def layerMetrics(t: Tracer, loop: LoopResult): Seq[(String, Double)] = {
    val files = IceLite.currentSnapshot(root).toSeq.flatMap(_.buckets)
      .groupBy(_.bucket).values.map(_.map(e => partFiles(Paths.get(e.dataDir))).sum.toDouble).toSeq
    Seq(
      "tile.files_per_bucket_max" -> (if (files.isEmpty) 0.0 else files.max),
      "tile.files_per_bucket_mean" -> Stats.mean(files),
      "tile.snapshots" -> IceLite.listSnapshots(root).length.toDouble,
      "tile.bytes_written_per_append" -> Stats.mean(appendBytes.toSeq.map(_.toDouble)),
      "tile.stored_bytes_per_image" -> du(Paths.get(root)).toDouble / live.length,
      "tile.images_per_s" -> NBase / builds.last)
  }
}

object TileTable {
  val NBase = 1500
  val NPool = 1000
  val Batch = 250
  val Zoom = 8
  /** 4 buckets: a small table's layout, so that a compaction is a few
    * seconds rather than the whole run. */
  val BucketLevel = 1
  val HotLon = 12.0
  val HotLat = 41.0

  final case class Meta(w: Int, h: Int, fmt: String, lon: Double, lat: Double)

  private def u(h: Long): Double = (h >>> 11).toDouble / (1L << 53).toDouble

  /** Image i: 80% png, 20% jpg; 70% of sides in 16–127 px, 30% in 128–256;
    * 20% placed in a 2° hot spot, the rest uniform. */
  def meta(seed: Long, i: Int): Meta = {
    val h = Stats.mix64(seed * 0x632BE59BD9B4E019L + i)
    def side(salt: Long) = {
      val v = Stats.mix64(h ^ salt)
      if (u(v) < 0.7) 16 + (v & 0x7FFF).toInt % 112 else 128 + (v & 0x7FFF).toInt % 129
    }
    val fmt = if (u(Stats.mix64(h ^ 3)) < 0.8) "png" else "jpg"
    val a = u(Stats.mix64(h ^ 4)); val b = u(Stats.mix64(h ^ 5))
    val (lon, lat) =
      if (u(Stats.mix64(h ^ 6)) < 0.2) (HotLon + 2.0 * a, HotLat + 2.0 * b)
      else (-180.0 + 360.0 * a, -80.0 + 160.0 * b)
    Meta(side(1), side(2), fmt, lon, lat)
  }

  def row(seed: Long, i: Int): ImgRow = {
    val m = meta(seed, i)
    val bytes = Pictures.encoded(seed, i, m.w, m.h, m.fmt)
    ImgRow(i, f"img$i%07d", s"seeded picture $i", m.w, m.h, m.fmt, m.lon, m.lat, bytes, Images.phash(bytes))
  }

  def du(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum finally s.close()
    }

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.foreach(p => Files.copy(p, to.resolve(from.relativize(p).toString)))
    finally s.close()
  }

  def partFiles(p: Path): Int =
    if (!Files.exists(p)) 0
    else {
      val s = Files.list(p)
      try s.iterator().asScala.count(_.getFileName.toString.endsWith(".parquet")) finally s.close()
    }
}
