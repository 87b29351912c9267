package graft.tools

import graft.join.AnnIndex
import graft.sql.GraftFunctions
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/**
 * Times AnnIndex.topK's two paths against each other: the one scan
 * (`topKScan`) and the IVF index (`topKIvf`), on clustered unit vectors
 * shaped like analytics_suite's (16 dims, 60 clusters, spread 0.08,
 * k = 11), with the cluster drawn at random rather than from the id (a
 * stride-sampled init over ids that cycle through the clusters would seed
 * every centroid from a few of them and leave the index little to prune),
 * at query counts Q around the index's bucket count b = ⌊√n⌋ or as
 * given. topK scans up to `AnnIndex.ScanMaxQueries` queries, and this is
 * the measurement that threshold rests on. Each config runs one warm-up
 * of each path, then `reps` alternating timed pairs of `collect()`; it
 * prints one JSON line per config with the median seconds of each path,
 * and checks that both paths return the same rows. Not part of
 * `sbt test`.
 *
 * Usage: Test/runMain graft.tools.AnnPathTiming [cores] [reps] [n,...] [Q,...]
 * (Q defaults to b/2, b, 2b and 4b)
 *
 * The `neardup` mode times AnnIndex.cosineNearDup's two paths the same
 * way: the one pass (`cosineNearDupScan`) against the IVF index
 * (`cosineNearDupIvf`), on n unit vectors, spread 0.08, each vector's
 * cluster drawn at random. By default the clusters hold about 50 vectors
 * each (so the result grows linearly with n) and tau is 0.95; a fixed
 * cluster count below the index's √n buckets, with a higher tau, gives
 * the shape the index prunes best. It prints one JSON line per n with the
 * median seconds of each path and the result row count, and checks that
 * both paths return the same rows. cosineNearDup scans up to
 * `AnnIndex.NearDupScanMax` members; this is the measurement that cap
 * rests on.
 *
 * Usage: Test/runMain graft.tools.AnnPathTiming neardup [cores] [reps] [n,...] [dim]
 * [clusters] [tau] (clusters 0, the default, means n/50)
 */
object AnnPathTiming {
  def main(args: Array[String]): Unit =
    if (args.headOption.contains("neardup")) nearDup(args.tail) else topK(args)

  private def session(cores: Int): SparkSession = {
    val spark = SparkSession.builder().master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    GraftFunctions.install(spark)
    spark
  }

  private def med(xs: Seq[Double]): Double = xs.sorted.apply(xs.length / 2)

  /** Seconds to collect `f`, and its rows. */
  private def time[T](f: => org.apache.spark.sql.DataFrame)(
      row: org.apache.spark.sql.Row => T): (Double, Seq[T]) = {
    val t0 = System.nanoTime()
    val rows = f.collect()
    ((System.nanoTime() - t0) / 1e9, rows.toSeq.map(row))
  }

  private def nearDup(args: Array[String]): Unit = {
    val cores = if (args.nonEmpty) args(0).toInt else 4
    val reps = if (args.length > 1) args(1).toInt else 5
    val sizes = if (args.length > 2) args(2).split(",").map(_.toInt).toSeq else Seq(3000, 6000, 12000, 24000)
    val dim = if (args.length > 3) args(3).toInt else 16
    val fixed = if (args.length > 4) args(4).toInt else 0
    val tau = if (args.length > 5) args(5).toDouble else 0.95
    val spark = session(cores)
    import spark.implicits._
    for (n <- sizes) {
      val r = new scala.util.Random(n)
      val clusters = if (fixed > 0) fixed else math.max(1, n / 50)
      val centres = Array.fill(clusters)(Array.fill(dim)(r.nextGaussian().toFloat))
      val vecs = Array.tabulate(n) { i =>
        val v = centres(r.nextInt(clusters)).map(c => c + (0.08 * r.nextGaussian()).toFloat)
        val nrm = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
        (i.toLong, v.map(_ / nrm).toSeq)
      }
      val e = vecs.toSeq.toDF("vec_id", "embedding").repartition(cores).cache()
      e.count()
      def scan = time(AnnIndex.cosineNearDupScan(e, tau))(x => (x.getLong(0), x.getLong(1), x.getDouble(2)))
      def ivf = time(AnnIndex.cosineNearDupIvf(e, tau))(x => (x.getLong(0), x.getLong(1), x.getDouble(2)))
      val scan0 = scan._2.sorted
      require(scan0 == ivf._2.sorted, s"n=$n: the paths disagree")
      val ts = (0 until reps).map { i =>
        if (i % 2 == 0) { val s = scan._1; (s, ivf._1) }
        else { val v = ivf._1; (scan._1, v) }
      }
      println(f"""{"n":$n,"dim":$dim,"clusters":$clusters,"tau":$tau,"rows":${scan0.length},"scan_s":${med(ts.map(_._1))}%.3f,"ivf_s":${med(ts.map(_._2))}%.3f,"scan_faster":${ts.count(t => t._1 < t._2)},"pairs":$reps}""")
      e.unpersist()
    }
    spark.stop()
  }

  private def topK(args: Array[String]): Unit = {
    val cores = if (args.nonEmpty) args(0).toInt else 4
    val reps = if (args.length > 1) args(1).toInt else 5
    val sizes = if (args.length > 2) args(2).split(",").map(_.toInt).toSeq else Seq(3000, 40000)
    val spark = session(cores)
    import spark.implicits._
    val k = 11
    val dim = 16

    for (n <- sizes) {
      val r = new scala.util.Random(n)
      val centres = Array.fill(60)(Array.fill(dim)(r.nextGaussian().toFloat))
      val vecs = Array.tabulate(n) { i =>
        val v = centres(r.nextInt(60)).map(c => c + (0.08 * r.nextGaussian()).toFloat)
        val nrm = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
        (i.toLong, v.map(_ / nrm).toSeq)
      }
      val e = vecs.toSeq.toDF("vec_id", "embedding").repartition(cores).cache()
      e.count()
      val b = math.max(4, math.min(4096, math.sqrt(n.toDouble).toInt))
      val qs = if (args.length > 3) args(3).split(",").map(_.toInt).toSeq else Seq(b / 2, b, 2 * b, 4 * b)
      for (q <- qs if q < n) {
        val pred = col("vec_id") < q
        def scan = time(AnnIndex.topKScan(e, pred, k))(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
        def ivf = time(AnnIndex.topKIvf(e, pred, k))(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
        require(scan._2.toSet == ivf._2.toSet, s"n=$n Q=$q: the paths disagree")
        val ts = (0 until reps).map { i =>
          if (i % 2 == 0) { val s = scan._1; (s, ivf._1) }
          else { val v = ivf._1; (scan._1, v) }
        }
        println(f"""{"n":$n,"buckets":$b,"queries":$q,"scan_s":${med(ts.map(_._1))}%.3f,"ivf_s":${med(ts.map(_._2))}%.3f,"scan_faster":${ts.count(t => t._1 < t._2)},"pairs":$reps}""")
      }
      e.unpersist()
    }
    spark.stop()
  }
}
