package graft.tools

import graft.join.{AnnIndex, Pq}
import graft.sql.GraftFunctions
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/**
 * Idle-capacity differential fuzz for the vector surface (the DeepFuzz
 * counterpart for §2.6 similarity search): random (n, dim, m, kCodes,
 * kCoarse, distribution, k, query-set) configurations of Pq.topK,
 * Pq.topKSketched, Pq.topKIvfPq and AnnIndex.topK's two paths
 * (AnnIndex.topKScan, AnnIndex.topKIvf), each checked for SET
 * EQUALITY against the brute-force ranking in the same metric. Exits 1
 * with the failing config on any divergence. Not part of `sbt test`.
 *
 * Usage: Test/runMain graft.tools.VecFuzz [seed] [configs]
 */
object VecFuzz {
  def main(args: Array[String]): Unit = {
    val seed = if (args.nonEmpty) args(0).toLong else 1L
    val configs = if (args.length > 1) args(1).toInt else 30
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    GraftFunctions.install(spark)
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    val t0 = System.nanoTime()

    (1 to configs).foreach { t =>
      val dim = Seq(8, 16, 24, 32, 64)(rnd.nextInt(5))
      val ms = Seq(1, 2, 4, 8).filter(dim % _ == 0)
      val m = ms(rnd.nextInt(ms.length))
      val kCodes = Seq(4, 8, 16, 64, 256)(rnd.nextInt(5))
      val kCoarse = Seq(8, 16, 48)(rnd.nextInt(3))
      val n = 500 + rnd.nextInt(4000)
      val clusters = 1 + rnd.nextInt(40)
      val jitter = if (rnd.nextBoolean()) 0.02f else 1.5f
      val k = 1 + rnd.nextInt(8)
      val qmod = Seq(17, 33, 61)(rnd.nextInt(3))
      val dataSeed = rnd.nextLong()
      val local = new scala.util.Random(dataSeed)
      val rows = (0L until n.toLong).map { i =>
        val c = (i % clusters).toInt
        (i, Array.tabulate(dim)(j =>
          math.sin((c + 1) * (j + 1) * 0.7).toFloat + (local.nextFloat() - 0.5f) * jitter))
      }
      val e = rows.toDF("vec_id", "embedding").cache()
      val pred = pmod(col("vec_id"), lit(qmod)) === 1

      def s3(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
        df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

      // brute force, quantized-L2 metric (PQ family)
      val q = e.where(pred).select(col("vec_id").as("q_vec"), col("embedding").as("q_emb"))
      val wd = Window.partitionBy("q_vec").orderBy(asc("d2"), asc("p_vec"))
      val bruteL2 = s3(e.select(col("vec_id").as("p_vec"), col("embedding"))
        .crossJoin(broadcast(q))
        .withColumn("d2", call_function("vec_l2_q", col("q_emb"), col("embedding")))
        .withColumn("rank", row_number().over(wd).cast("bigint"))
        .where(col("rank") <= k)
        .select(col("q_vec"), col("p_vec"), col("rank")))

      def fail(which: String, got: Set[(Long, Long, Long)], want: Set[(Long, Long, Long)]): Unit = {
        System.err.println(s"[vecfuzz] FAIL $which config#$t: n=$n dim=$dim m=$m kCodes=$kCodes " +
          s"kCoarse=$kCoarse clusters=$clusters jitter=$jitter k=$k qmod=$qmod dataSeed=$dataSeed " +
          s"diff=${(got diff want).take(4)} / ${(want diff got).take(4)}")
        sys.exit(1)
      }

      val a = s3(Pq.topK(e, pred, k, m, kCodes))
      if (a != bruteL2) fail("Pq.topK", a, bruteL2)
      Pq.writeSketch(e, s"/tmp/graft_vecfuzz/sk$seed", m, kCodes)
      val b = s3(Pq.topKSketched(e, s"/tmp/graft_vecfuzz/sk$seed", pred, k))
      if (b != bruteL2) fail("Pq.topKSketched", b, bruteL2)
      Pq.writeIvfPq(e, s"/tmp/graft_vecfuzz/ivf$seed", s"vf$seed", kCoarse, m, kCodes, buckets = 8)
      val c = s3(Pq.topKIvfPq(e, s"/tmp/graft_vecfuzz/ivf$seed", s"vf$seed", pred, k))
      if (c != bruteL2) fail("Pq.topKIvfPq", c, bruteL2)

      // IVF cosine path vs its own brute force
      val withNorm = e.withColumn("nrm", call_function("vec_dot_q", col("embedding"), col("embedding")))
      val qc = withNorm.where(pred)
        .select(col("vec_id").as("q_vec"), col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
      val wc = Window.partitionBy("q_vec").orderBy(desc("cos"), asc("p_vec"))
      val bruteCos = s3(withNorm.select(col("vec_id").as("p_vec"), col("embedding"), col("nrm").as("p_nrm"))
        .crossJoin(broadcast(qc))
        .withColumn("dot_q", call_function("vec_dot_q", col("q_emb"), col("embedding")))
        .withColumn("cos", col("dot_q") / sqrt(col("q_nrm").cast("double") * col("p_nrm").cast("double")))
        .withColumn("rank", row_number().over(wc).cast("bigint"))
        .where(col("rank") <= k)
        .select(col("q_vec"), col("p_vec"), col("rank")))
      // topK runs one of its two paths by the query count; both entries
      // are checked on every config
      val d = s3(AnnIndex.topKScan(e, pred, k))
      if (d != bruteCos) fail("AnnIndex.topKScan", d, bruteCos)
      val d2 = s3(AnnIndex.topKIvf(e, pred, k))
      if (d2 != bruteCos) fail("AnnIndex.topKIvf", d2, bruteCos)

      e.unpersist()
      if (t % 5 == 0) System.err.println(
        f"[vecfuzz] $t/$configs configs clean, ${(System.nanoTime() - t0) / 1e9}%.0f s")
    }
    println(s"""{"tool":"vecfuzz","seed":$seed,"configs":$configs,"fails":0}""")
    spark.stop()
  }
}
