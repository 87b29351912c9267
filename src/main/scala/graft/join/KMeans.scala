package graft.join

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Distributed k-means point clustering (the PostGIS ST_ClusterKMeans
 * analog, batch Lloyd over lon/lat) — deterministic end to end so an
 * ANSI-SQL oracle can replay it EXACTLY:
 *
 * - init: the k points with smallest ids, in id order (bounded driver
 *   collect of k rows — the PIP-index/kNN bounded-contract pattern);
 * - assignment: argmin over the k broadcast-literal centroids, ties to
 *   the smallest cluster index (array_min over (d², j) structs — plain
 *   codegen'd column arithmetic, no UDF);
 * - update: centroid = Σ floor(coord·1e6+0.5) / (n·1e6) — the sums are
 *   INTEGER, hence partition-order-independent, unlike a double mean
 *   whose value depends on reduction order and would make any
 *   cross-engine comparison flaky; empty clusters keep their centroid;
 * - `rounds` update iterations, then one final assignment.
 *
 * Each round is one distributed aggregate over the points (k rows to the
 * driver); assignment is a narrow map — the 100 TB shape. For k beyond a
 * few hundred, AnnIndex's distributed Lloyd (√n buckets) is the tool;
 * this operator is the small-k labeling primitive.
 */
object KMeans {

  private def assignExpr(cents: Array[(Double, Double)]): Column = {
    val entries = cents.zipWithIndex.map { case ((cx, cy), j) =>
      struct(
        ((col("lon") - lit(cx)) * (col("lon") - lit(cx)) +
         (col("lat") - lit(cy)) * (col("lat") - lit(cy))).as("d"),
        lit(j).as("j"))
    }
    array_min(array(entries: _*)).getField("j")
  }

  /** (idCol, lon, lat) → (id, cluster, lon, lat); cluster ∈ [0, k). */
  def cluster(points: DataFrame, idCol: String, k: Int, rounds: Int): DataFrame = {
    // cap keeps the per-row argmin expression comfortably inside Janino
    // method limits (k structs in one array literal); larger k belongs to
    // AnnIndex's distributed Lloyd
    require(k >= 1 && k <= 256, s"k=$k out of [1,256]")
    require(rounds >= 0, s"negative rounds $rounds")
    val pts = points.select(col(idCol).as("id"), col("lon"), col("lat")).persist()
    var cents = pts.orderBy("id").limit(k).collect()
      .map(r => (r.getDouble(1), r.getDouble(2)))
    require(cents.length == k, s"need at least $k points, got ${cents.length}")
    (1 to rounds).foreach { _ =>
      val upd = pts.withColumn("cluster", assignExpr(cents))
        .groupBy("cluster")
        .agg(sum(floor(col("lon") * 1e6 + 0.5).cast("long")).as("sx"),
             sum(floor(col("lat") * 1e6 + 0.5).cast("long")).as("sy"),
             count(lit(1)).as("n"))
        .collect()
        .map(r => r.getInt(0) -> ((r.getLong(1).toDouble / (r.getLong(3).toDouble * 1e6),
          r.getLong(2).toDouble / (r.getLong(3).toDouble * 1e6))))
      val m = upd.toMap
      cents = cents.indices.map(j => m.getOrElse(j, cents(j))).toArray
    }
    // materialize BEFORE releasing the cache — the returned frame still
    // references pts (the dbscan review-r4 pattern)
    val out = pts.withColumn("cluster", assignExpr(cents)).localCheckpoint(true)
    pts.unpersist()
    out
  }
}
