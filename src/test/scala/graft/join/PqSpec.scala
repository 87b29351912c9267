package graft.join

import graft.sql.GraftFunctions
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.scalatest.funsuite.AnyFunSuite

/** Pq.topK must be exact vs the brute-force quantized-integer-L2 ranking
  * (the ADC lower bound sqrt(adc) − r can never exclude a true top-k
  * member), the codebook must be bit-deterministic, and the round-2
  * survivor set must actually PRUNE on clustered data (the whole point of
  * scanning the 24 B/row sketch instead of the 256 B/row vectors). */
class PqSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def brute(e: org.apache.spark.sql.DataFrame,
                    pred: org.apache.spark.sql.Column, k: Int) = {
    val q = e.where(pred).select(col("vec_id").as("q_vec"), col("embedding").as("q_emb"))
    val w = Window.partitionBy("q_vec").orderBy(asc("d2"), asc("p_vec"))
    e.select(col("vec_id").as("p_vec"), col("embedding"))
      .crossJoin(broadcast(q))
      .withColumn("d2", call_function("vec_l2_q", col("q_emb"), col("embedding")))
      .withColumn("rank", row_number().over(w).cast("bigint"))
      .where(col("rank") <= k)
      .select(col("q_vec"), col("p_vec"), col("rank"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
  }

  test("PQ top-k equals brute force exactly on the sf0.01 fixture") {
    spark.sparkContext.setLogLevel("WARN")
    GraftFunctions.install(spark)
    val e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val pred = col("vec_id") % 20 === 0 // 25 queries
    val got = Pq.topK(e, pred, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = brute(e, pred, 5)
    assert(got == want, s"pq=${got.size} brute=${want.size} " +
      s"diff=${(got diff want).take(5)} ${(want diff got).take(5)}")
  }

  test("codebook training is bit-deterministic") {
    GraftFunctions.install(spark)
    val e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val a = Pq.train(e.select("vec_id", "embedding"), m = 8, kCodes = 16)
    val b = Pq.train(e.select("vec_id", "embedding"), m = 8, kCodes = 16)
    assert(java.util.Arrays.equals(a, b), "same input must give byte-identical codebooks")
  }

  test("encode/radius/adc are mutually consistent: adc(q=x) + bound sanity") {
    GraftFunctions.install(spark)
    val e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val cb = Pq.train(e.select("vec_id", "embedding"), m = 8, kCodes = 16)
    val cbArr = Pq.unpackCached(cb)
    val rows = e.limit(64).collect()
    rows.foreach { r =>
      val qv = r.getSeq[Float](1).map(Pq.qz).toArray
      val lut = Pq.lutBytes(qv, cbArr)
      val sk = e.where(col("vec_id") === r.getLong(0))
        .withColumn("codes", call_function("vec_pq_encode", col("embedding"), lit(cb)))
        .withColumn("rr", call_function("vec_pq_radius", col("embedding"), lit(cb), col("codes")))
        .select("codes", "rr").head()
      val codes = sk.getAs[Array[Byte]](0)
      val rad = sk.getDouble(1)
      val adc = Pq.adc(codes, lut)
      // for q = x: d(q,x) = 0 and adc = ||x − recon(x)||² = r², so the
      // lower bound sqrt(adc) − r must be ~0 (never positive beyond fp)
      assert(math.abs(math.sqrt(adc.toDouble) - rad) < 1e-6,
        s"self-ADC ${math.sqrt(adc.toDouble)} != radius $rad")
    }
  }

  test("clustered 20k vectors: exact AND round-2 survivors actually pruned") {
    spark.sparkContext.setLogLevel("WARN")
    GraftFunctions.install(spark)
    val n = 20000L
    val dim = 16
    // 32 tight clusters: center c = vec_id % 32, coords = f(c) + tiny jitter
    val e = spark.range(n).toDF("vec_id")
      .withColumn("embedding",
        array((0 until dim).map(j =>
          (sin(col("vec_id") % 32 * (j + 1) * 2.39996).cast("float") +
           (pmod(col("vec_id") * (j + 7), lit(97)).cast("float") / lit(97000.0f)))
            .cast("float")): _*))
      .cache()
    val pred = col("vec_id") < 8
    val got = Pq.topK(e, pred, k = 3, m = 4, kCodes = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = brute(e, pred, 3)
    assert(got == want, s"diff=${(got diff want).take(5)} ${(want diff got).take(5)}")
    val surv = Pq.survivorCount(e, pred, k = 3, m = 4, kCodes = 32)
    // 8 queries × 20k rows = 160k sketch pairs; pruning must kill ≥ 90%
    assert(surv < 16000, s"round-2 survivors $surv — PQ bound is not pruning")
    e.unpersist()
  }

  test("persisted sketch: same answers as ad-hoc, probe plan has no re-encode") {
    spark.sparkContext.setLogLevel("WARN")
    GraftFunctions.install(spark)
    val e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val pred = col("vec_id") % 40 === 1
    Pq.writeSketch(e, "/tmp/graft_pq_spec")
    val got = Pq.topKSketched(e, "/tmp/graft_pq_spec", pred, k = 5)
    val plan = got.queryExecution.analyzed.toString
    assert(!plan.contains("vec_pq_encode"),
      "sketched probe must read the persisted codes, not re-encode:\n" + plan)
    val a = got.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(a == brute(e, pred, 5))
    assert(a == Pq.topK(e, pred, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet)
  }

  test("IVF-PQ: exact vs brute force, bucket-file-pruned probe plan") {
    spark.sparkContext.setLogLevel("WARN")
    GraftFunctions.install(spark)
    val e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val pred = col("vec_id") % 21 === 2
    Pq.writeIvfPq(e, "/tmp/graft_ivfpq_spec", "spec")
    val got = Pq.topKIvfPq(e, "/tmp/graft_ivfpq_spec", "spec", pred, k = 5)
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("SelectedBucketsCount"),
      s"IVF-PQ probe must scan the bucketed layout with file pruning:\n$plan")
    val a = got.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(a == brute(e, pred, 5))
  }

  test("IVF-PQ on clustered 20k vectors: exact, coarse partition prunes buckets") {
    spark.sparkContext.setLogLevel("WARN")
    GraftFunctions.install(spark)
    val n = 20000L
    val dim = 16
    val e = spark.range(n).toDF("vec_id")
      .withColumn("embedding",
        array((0 until dim).map(j =>
          (sin(col("vec_id") % 32 * (j + 1) * 2.39996).cast("float") +
           (pmod(col("vec_id") * (j + 7), lit(97)).cast("float") / lit(97000.0f)))
            .cast("float")): _*))
      .cache()
    val pred = col("vec_id") < 6
    Pq.writeIvfPq(e, "/tmp/graft_ivfpq_spec20k", "spec20k", kCoarse = 48, m = 4, kCodes = 32)
    val got = Pq.topKIvfPq(e, "/tmp/graft_ivfpq_spec20k", "spec20k", pred, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == brute(e, pred, 3))
    e.unpersist()
  }

  test("randomized configs: 10 (dim, m, kCodes, distribution) draws stay exact") {
    spark.sparkContext.setLogLevel("WARN")
    GraftFunctions.install(spark)
    import spark.implicits._
    val rnd = new scala.util.Random(0x5EED5EEDL)
    (0 until 10).foreach { t =>
      val dim = Seq(8, 16, 32)(rnd.nextInt(3))
      val m = Seq(2, 4, 8).filter(dim % _ == 0)(rnd.nextInt(3))
      val kCodes = Seq(4, 16, 64)(rnd.nextInt(3))
      val clustered = rnd.nextBoolean()
      val n = 400 + rnd.nextInt(400)
      val seed = rnd.nextLong()
      val local = new scala.util.Random(seed)
      val rows = (0L until n.toLong).map { i =>
        val base = if (clustered) {
          val c = (i % 13).toInt
          Array.tabulate(dim)(j => math.sin((c + 1) * (j + 1) * 0.7).toFloat)
        } else Array.fill(dim)(0f)
        (i, base.map(v => v + (local.nextFloat() - 0.5f) * (if (clustered) 0.02f else 2f)))
      }
      val e = rows.toDF("vec_id", "embedding")
      val pred = col("vec_id") < 5
      val got = Pq.topK(e, pred, k = 4, m = m, kCodes = kCodes)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val want = brute(e, pred, 4)
      assert(got == want,
        s"config $t: dim=$dim m=$m k=$kCodes clustered=$clustered n=$n seed=$seed " +
          s"diff=${(got diff want).take(3)} ${(want diff got).take(3)}")
    }
  }

  test("IVF-PQ at 100k vectors: still exact, training + probe stay bounded") {
    spark.sparkContext.setLogLevel("WARN")
    GraftFunctions.install(spark)
    val n = 100000L
    val dim = 16
    val e = spark.range(n).toDF("vec_id")
      .withColumn("embedding",
        array((0 until dim).map(j =>
          (sin(col("vec_id") % 64 * (j + 1) * 1.17).cast("float") +
           (pmod(col("vec_id") * (j + 11), lit(101)).cast("float") / lit(50500.0f)))
            .cast("float")): _*))
      .cache()
    val pred = col("vec_id") < 4
    Pq.writeIvfPq(e, "/tmp/graft_ivfpq_100k", "spec100k", kCoarse = 64, m = 4, kCodes = 64)
    val got = Pq.topKIvfPq(e, "/tmp/graft_ivfpq_100k", "spec100k", pred, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == brute(e, pred, 5))
    e.unpersist()
  }

  test("degenerate inputs: corpus smaller than k, and n < kCodes") {
    GraftFunctions.install(spark)
    import spark.implicits._
    val tiny = (0L until 3L).map(i => (i, Array(i.toFloat, 1f - i, 0.5f, 0.25f)))
      .toDF("vec_id", "embedding")
    val got = Pq.topK(tiny, col("vec_id") === 0, k = 10, m = 2, kCodes = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = brute(tiny, col("vec_id") === 0, 10)
    assert(got == want)
    assert(got.size == 3) // all rows ranked, rank never exceeds corpus size
  }

  test("a queryPred matching maxQueries + 1 rows fails loudly; maxQueries rows run") {
    GraftFunctions.install(spark)
    import spark.implicits._
    val e = (0L until 40L).map(i => (i, Array.tabulate(4)(j => ((i * 7 + j * 3) % 11).toFloat)))
      .toDF("vec_id", "embedding")
    val err = intercept[IllegalArgumentException](
      Pq.topK(e, col("vec_id") < 6, k = 2, m = 2, kCodes = 4, maxQueries = 5))
    assert(err.getMessage.contains("Pq.topK materializes the query side on the driver; " +
      "queryPred matches > 5 rows. Shrink the query set or raise maxQueries deliberately."),
      err.getMessage)
    val got = Pq.topK(e, col("vec_id") < 5, k = 2, m = 2, kCodes = 4, maxQueries = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == brute(e, col("vec_id") < 5, 2))
  }
}
