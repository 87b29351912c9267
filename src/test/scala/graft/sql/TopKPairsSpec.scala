package graft.sql

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** topk_pairs must own the string ids it keeps: the rows it is fed may
  * share one reused buffer (a mapPartitions output, a parquet scan). */
class TopKPairsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def want(rows: Seq[(Int, Double, String)], k: Int): Map[Int, Seq[(Double, String)]] =
    rows.groupBy(_._1).map { case (g, rs) =>
      g -> rs.map(r => (r._2, r._3)).distinct.sortBy(identity).take(k)
    }

  private def got(df: org.apache.spark.sql.DataFrame, k: Int): Map[Int, Seq[(Double, String)]] =
    df.groupBy("g")
      .agg(call_function("topk_pairs", col("o"), col("i"), lit(k)).as("tk"))
      .collect().map { r =>
        r.getInt(0) -> r.getSeq[org.apache.spark.sql.Row](1).map(e => (e.getDouble(0), e.getString(1)))
      }.toMap

  test("string ids fed from a reused row buffer are kept intact") {
    spark.sparkContext.setLogLevel("WARN")
    GraftFunctions.install(spark)
    import spark.implicits._
    // ids of varying length, so a stale reference into the buffer shows
    // as the wrong id; the ord is not monotone in the id
    val rows = (0 until 4000).map(j => (j % 3, ((j * 7919) % 4001).toDouble, s"id$j"))
    val k = 5
    // mapPartitions output: the encoder writes every row into one buffer
    val fromMap = spark.range(0, 4000, 1, 2).as[Long]
      .mapPartitions(_.map { j => val i = j.toInt; (i % 3, ((i * 7919) % 4001).toDouble, s"id$i") })
      .toDF("g", "o", "i")
    assert(got(fromMap, k) == want(rows, k))
    // parquet scan: the vectorized reader reuses its column batches
    val dir = java.nio.file.Files.createTempDirectory("topk_pairs").toString
    try {
      rows.toDF("g", "o", "i").repartition(2).write.mode("overwrite").parquet(dir)
      assert(got(spark.read.parquet(dir), k) == want(rows, k))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("equal (ord, id) pairs are kept once") {
    GraftFunctions.install(spark)
    import spark.implicits._
    val rows = Seq((0, 1.0, "a"), (0, 1.0, "a"), (0, 1.0, "b"), (0, 2.0, "a"), (0, 3.0, "c"))
    assert(got(rows.toDF("g", "o", "i"), 3) == Map(0 -> Seq((1.0, "a"), (1.0, "b"), (2.0, "a"))))
  }
}
