package graft.join

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** Exact kNN vs brute force on random and adversarial point sets. */
class KnnSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("knn matches brute force, including clustered + sparse regions") {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    var state = 7L
    def next(): Double = {
      state ^= state << 13; state ^= state >>> 7; state ^= state << 17
      (state >>> 11).toDouble / (1L << 53).toDouble
    }
    // 3000 points: half clustered in one hot corner, half uniform (sparse)
    val pts = (0 until 3000).map { i =>
      if (i % 2 == 0) (f"p$i%05d", 0.1 + next() * 0.01, 0.1 + next() * 0.01)
      else (f"p$i%05d", next(), next())
    }
    val queries = (0 until 40).map { i =>
      (f"q$i%03d", next(), next())
    }
    val ptsDf = spark.createDataset(pts).toDF("id", "nx", "ny")
    val qDf = spark.createDataset(queries).toDF("id", "nx", "ny")
    val k = 7
    val got = SpatialJoins.knn(ptsDf, qDf, k = k, level = 6)
      .select("q_id", "p_id", "rank").collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet

    // brute force reference (driver-side)
    val want = queries.flatMap { case (qid, qx, qy) =>
      pts.map { case (pid, px, py) =>
        (qid, pid, (px - qx) * (px - qx) + (py - qy) * (py - qy))
      }.sortBy(t => (t._3, t._2)).take(k).zipWithIndex
        .map { case ((_, pid, _), i) => (qid, pid, i + 1) }
    }.toSet
    assert(got == want)
  }

  test("knn stays exact on points clustered far from every query") {
    // adversarially clustered points: everything sits in one tiny blob
    // far from the queries
    import spark.implicits._
    var state = 99L
    def next(): Double = {
      state ^= state << 13; state ^= state >>> 7; state ^= state << 17
      (state >>> 11).toDouble / (1L << 53).toDouble
    }
    val pts = (0 until 4000).map(i => (f"c$i%05d", 0.9 + next() * 1e-4, 0.9 + next() * 1e-4))
    val queries = (0 until 30).map(i => (f"q$i%03d", next() * 0.2, next() * 0.2))
    val k = 5
    val got = SpatialJoins.knn(pts.toDF("id", "nx", "ny"), queries.toDF("id", "nx", "ny"),
        k = k, level = 9)
      .select("q_id", "p_id", "rank").collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    val want = queries.flatMap { case (qid, qx, qy) =>
      pts.map { case (pid, px, py) =>
        (qid, pid, (px - qx) * (px - qx) + (py - qy) * (py - qy))
      }.sortBy(t => (t._3, t._2)).take(k).zipWithIndex
        .map { case ((_, pid, _), i) => (qid, pid, i + 1) }
    }.toSet
    assert(got == want)
  }

  test("small-Q dispatch runs ONE bounded job, not a full count plus collect") {
    import spark.implicits._
    // jobs whose sole purpose is dispatch show up as extra job launches;
    // count every job during a tiny knn() call and pin the budget. Before
    // the fix the dispatch-only queries.count() added one full job.
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val ptsDf = spark.createDataset((0 until 200).map(i =>
      (f"p$i%04d", (i % 17) / 17.0, (i % 13) / 13.0))).toDF("id", "nx", "ny")
    val qDf = spark.createDataset(Seq(("q0", 0.31, 0.41), ("q1", 0.72, 0.18)))
      .toDF("id", "nx", "ny")
    spark.sparkContext.addSparkListener(listener)
    try {
      val baseline = {
        jobs.set(0)
        SpatialJoins.knn(ptsDf, qDf, k = 3, level = 4).count()
        Thread.sleep(800) // listener events are async; drain
        jobs.get()
      }
      // re-run with an artificial extra dispatch count() to measure what the
      // old two-job dispatch cost; the real path must beat it by ≥ 1 job
      jobs.set(0)
      qDf.count() // the job the old dispatch used to launch
      SpatialJoins.knn(ptsDf, qDf, k = 3, level = 4).count()
      Thread.sleep(800)
      val withExtra = jobs.get()
      assert(baseline <= withExtra - 1,
        s"dispatch still costs an extra job: baseline=$baseline withExtra=$withExtra")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  type P = (String, Double, Double)

  private def rng(seed: Long): () => Double = {
    var state = seed
    () => {
      state ^= state << 13; state ^= state >>> 7; state ^= state << 17
      (state >>> 11).toDouble / (1L << 53).toDouble
    }
  }

  /** Driver-side reference: (q_id, p_id, d2, rank), ties by UTF-8 id order,
    * equal (d2, id) pairs once. */
  private def brute(pts: Seq[P], qs: Seq[P], k: Int): Set[(String, String, Double, Int)] = {
    val ord = Ordering.Tuple2(Ordering.Double.TotalOrdering,
      Ordering.fromLessThan[String]((a, b) =>
        UTF8String.fromString(a).compareTo(UTF8String.fromString(b)) < 0))
    qs.flatMap { case (qid, qx, qy) =>
      pts.map { case (pid, px, py) => ((px - qx) * (px - qx) + (py - qy) * (py - qy), pid) }
        .distinct.sorted(ord).take(k).zipWithIndex
        .map { case ((d2, pid), i) => (qid, pid, d2, i + 1) }
    }.toSet
  }

  /** knn() over `ptsDf` (holding `pts`) equals the reference, d2 bit for bit. */
  private def assertExact(pts: Seq[P], ptsDf: DataFrame, qs: Seq[P], k: Int, level: Int = 8): Unit = {
    import spark.implicits._
    val got = SpatialJoins.knn(ptsDf, qs.toDF("id", "nx", "ny"), k = k, level = level)
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2), r.getInt(3))).toSet
    val want = brute(pts, qs, k)
    assert(got == want, s"missing ${(want diff got).take(3)}, extra ${(got diff want).take(3)}")
  }

  test("one cell holding over half the points, queries inside it") {
    import spark.implicits._
    val next = rng(11)
    val cell = 1.0 / 256 // one level-8 cell at (100, 60)
    val pts = (0 until 6000).map { i =>
      if (i < 3200) (f"h$i%05d", (100 + next()) * cell, (60 + next()) * cell)
      else (f"u$i%05d", next(), next())
    }
    val qs = (0 until 50).map(j => (f"q$j%03d", (100 + next()) * cell, (60 + next()) * cell))
    assertExact(pts, pts.toDF("id", "nx", "ny"), qs, k = 7)
  }

  test("points range-partitioned into strips, queries far from most strips") {
    import spark.implicits._
    val next = rng(23)
    val pts = (0 until 40000).map(i => (f"p$i%06d", next(), next()))
    val strips = pts.toDF("id", "nx", "ny").repartitionByRange(8, col("nx"))
    val qs = (0 until 400).map(j => (f"q$j%03d", 0.02 * next(), next()))
    val t0 = System.nanoTime()
    assertExact(pts, strips, qs, k = 5)
    val s = (System.nanoTime() - t0) / 1e9
    assert(s < 60, s"took $s s")
  }

  test("partitions with fewer than k points, and fewer than k points in all") {
    import spark.implicits._
    val next = rng(37)
    val big = (0 until 500).map(i => (f"p$i%04d", next(), next()))
    // "t0" twice: an equal (d2, id) pair must count once, not take two places
    val tiny = Seq(("t0", 0.5, 0.5), ("t1", 0.25, 0.75), ("t0", 0.5, 0.5))
    // `tiny` keeps its own small partitions; repartition(16) leaves some empty
    val mixed = big.toDF("id", "nx", "ny").repartition(16)
      .union(tiny.toDF("id", "nx", "ny").repartition(2))
    val qs = (0 until 30).map(j => (f"q$j%03d", next(), next())) :+ (("qt", 0.5, 0.5))
    assertExact(big ++ tiny, mixed, qs, k = 6)
    assertExact(tiny, tiny.toDF("id", "nx", "ny").repartition(3), qs, k = 6)
    // both copies of "t0" in one partition, k = 2: "t1" must still place
    assertExact(tiny, tiny.toDF("id", "nx", "ny").coalesce(1), qs, k = 2)
  }

  test("ties at the k-th place are broken by id") {
    import spark.implicits._
    // a 16×16 lattice at multiples of 1/16: distances from lattice points
    // and cell centres are exact, so most k-th places are ties. The ids are
    // scrambled so that id order is not spatial order, and some differ in
    // their first code point where UTF-8 and UTF-16 order disagree.
    val prefixes = Seq("a", "\uFFFD", "\uD83D\uDE00")
    val pts = (0 until 256).map { i =>
      val s = (i * 97) % 256
      (s"${prefixes(s % 3)}$s", (i % 16) / 16.0, (i / 16) / 16.0)
    }
    val qs = (0 until 40).map { j =>
      val c = if (j % 2 == 0) 0.0 else 1.0 / 32
      (f"q$j%02d", ((j * 5) % 16) / 16.0 + c, ((j * 3) % 16) / 16.0 + c)
    }
    for (k <- Seq(3, 6)) assertExact(pts, pts.toDF("id", "nx", "ny").repartition(5), qs, k)
  }

  test("rows with a null or NaN coordinate are dropped") {
    import spark.implicits._
    val next = rng(41)
    val good = (0 until 300).map(i => (f"p$i%04d", next(), next()))
    val bad = Seq[(String, Option[Double], Option[Double])](
      ("n0", None, Some(0.5)), ("n1", Some(0.5), None), ("n2", Some(Double.NaN), Some(0.5)),
      (null, Some(0.5), Some(0.5)))
    val ptsDf = (good.map { case (i, x, y) => (i, Option(x), Option(y)) } ++ bad)
      .toDF("id", "nx", "ny")
    val qs = (0 until 20).map(j => (f"q$j%02d", next(), next())) :+ (("q_at_bad", 0.5, 0.5))
    assertExact(good, ptsDf, qs, k = 4)
    val nullQ = Seq[(String, Option[Double], Option[Double])](("qn", None, Some(0.1)), ("qm", Some(0.2), Some(0.3)))
      .toDF("id", "nx", "ny")
    val got = SpatialJoins.knn(ptsDf, nullQ, k = 2, level = 8).select("q_id").collect().map(_.getString(0))
    assert(got.toSeq == Seq("qm", "qm"))
  }

  test("a knn() call runs at most 3 jobs, for 120 and for 2,000 queries") {
    import spark.implicits._
    val next = rng(53)
    val ptsDf = (0 until 3000).map(i => (f"p$i%05d", next(), next())).toDF("id", "nx", "ny")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      for (nq <- Seq(120, 2000)) {
        val qDf = (0 until nq).map(j => (f"q$j%05d", next(), next())).toDF("id", "nx", "ny")
        Thread.sleep(800) // listener events are async; drain
        jobs.set(0)
        val rows = SpatialJoins.knn(ptsDf, qDf, k = 5, level = 8).collect()
        Thread.sleep(800)
        assert(rows.length == nq * 5)
        assert(jobs.get() <= 3, s"$nq queries: ${jobs.get()} jobs")
      }
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("knn collects a local query frame without a job") {
    import spark.implicits._
    // the query frame of a local Seq (as the benchmark builds it) is
    // collected by the driver alone; a bounded countAndKeep collect would
    // add one job per call
    val next = rng(59)
    val ptsDf = (0 until 500).map(i => (f"p$i%05d", next(), next())).toDF("id", "nx", "ny")
    val qDf = (0 until 120).map(j => (f"q$j%05d", next(), next())).toDF("id", "nx", "ny")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      Thread.sleep(800) // listener events are async; drain
      jobs.set(0)
      val df = SpatialJoins.knn(ptsDf, qDf, k = 3, level = 8)
      Thread.sleep(800)
      assert(jobs.get() == 0, s"knn ran ${jobs.get()} jobs before its result was collected")
      assert(df.count() == 120 * 3)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
