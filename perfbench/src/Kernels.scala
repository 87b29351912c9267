package perfbench

import graft.cell.Cells
import graft.geom.{Prepared, Wkb, Wkt}
import graft.img.Images
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
import org.apache.spark.sql.graft.TopKPairs
import org.apache.spark.sql.types.{DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Single-thread throughput of the engine's hot kernels on warmed, fixed-size
  * seeded inputs, timed from outside the engine. */
object Kernels {

  val names: Seq[(String, String)] = Seq(
    "cell.cellid_ops_per_s" -> "1/s", "cell.cover_cells_per_s" -> "1/s",
    "geom.wkb_read_mb_per_s" -> "MB/s", "geom.locate_ops_per_s" -> "1/s",
    "sql.topk_rows_per_s" -> "1/s",
    "img.decode_png_mb_per_s" -> "MB/s", "img.decode_jpg_mb_per_s" -> "MB/s",
    "img.phash_per_s" -> "1/s")

  /** Units of work per second: `body` is run until `minS` has passed (after
    * a warm-up of the same length) and returns the units it processed. */
  def rate(minS: Double = 0.3)(body: => Double): Double = {
    def timed(): (Double, Double) = {
      val t0 = System.nanoTime()
      var units = 0.0
      var dt = 0.0
      while (dt < minS) { units += body; dt = (System.nanoTime() - t0) / 1e9 }
      (units, dt)
    }
    timed()
    val (u, dt) = timed()
    u / dt
  }

  def run(seed: Long): Seq[(String, Double)] = {
    val r = new scala.util.Random(seed * 104729 + 3)
    val lon = Array.fill(100000)(-180.0 + 360.0 * r.nextDouble())
    val lat = Array.fill(100000)(-80.0 + 160.0 * r.nextDouble())
    val polys = (0 until 100).map(z => GeoQuery.star(s"k$z", r, -170.0 + 340.0 * r.nextDouble(),
      -70.0 + 140.0 * r.nextDouble(), 0.5 + 3.5 * r.nextDouble(), 8 + r.nextInt(121)))
    val wkbs = polys.map(p => Wkb.write(Wkt.read(p.wkt))).toArray
    val geoms = wkbs.map(Wkb.read)
    val probes = polys.map(p => Array.fill(64)((p.xmin + (p.xmax - p.xmin) * r.nextDouble(),
      p.ymin + (p.ymax - p.ymin) * r.nextDouble()))).toArray

    val cellid = rate() {
      var s = 0L; var i = 0
      while (i < lon.length) { s ^= Cells.cellId(lon(i), lat(i), 16); i += 1 }
      if (s == 42) println(s); lon.length
    }
    val cover = rate()(geoms.map(g => Cells.cover(g, 10).length.toDouble).sum)
    val wkbMb = wkbs.map(_.length).sum / 1e6
    val wkbRead = rate() { wkbs.foreach(Wkb.read); wkbMb }
    val locate = rate() {
      var s = 0; var z = 0
      while (z < wkbs.length) {
        probes(z).foreach { case (x, y) => s += Prepared.of(wkbs(z)).locate(x, y) }
        z += 1
      }
      if (s == 42) println(s); wkbs.length * 64.0
    }
    val topk = topkRate(r)
    val png = (0 until 40).map(i => Pictures.encoded(seed, 900000 + i, 64 + r.nextInt(193), 64 + r.nextInt(193), "png"))
    val jpg = (0 until 40).map(i => Pictures.encoded(seed, 950000 + i, 64 + r.nextInt(193), 64 + r.nextInt(193), "jpg"))
    def decodeMb(imgs: Seq[Array[Byte]]) = {
      val mb = imgs.map(_.length).sum / 1e6
      rate() { imgs.foreach(Images.decode); mb }
    }
    val decPng = decodeMb(png)
    val decJpg = decodeMb(jpg)
    val phash = rate() { (png ++ jpg).foreach(Images.phash); png.length + jpg.length }
    Prepared.clearCache() // the workload starts without the ladder's polygons
    Seq(cellid, cover, wkbRead, locate, topk, decPng, decJpg, phash).zip(names).map {
      case (v, (n, _)) => n -> v
    }
  }

  /** topk_pairs buffers: per-group updates, then a pairwise merge of the
    * group buffers (the map-side partial and final-merge paths). */
  private def topkRate(r: scala.util.Random): Double = {
    val agg = TopKPairs(BoundReference(0, DoubleType, nullable = false),
      BoundReference(1, StringType, nullable = false), Literal(5))
    val rows = Array.tabulate(50000)(i => InternalRow(r.nextDouble(), UTF8String.fromString(f"id$i%06d")))
    rate() {
      val bufs = Array.fill(64)(agg.createAggregationBuffer())
      var i = 0
      while (i < rows.length) { agg.update(bufs(i & 63), rows(i)); i += 1 }
      var b = 1
      while (b < bufs.length) { agg.merge(bufs(0), bufs(b)); b += 1 }
      rows.length
    }
  }
}
