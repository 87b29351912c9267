package graft.join

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The vertex-dense PageRank and HITS against the DataFrame rounds they
  * replace ([[Graph.pagerankRounds]], [[Graph.hitsRounds]]): same bag of
  * rows, same schema, same exceptions, on the edge cases the two must
  * agree on; and the dense path's Spark job budget. */
class GraphDenseSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def longs(rows: Seq[(java.lang.Long, java.lang.Long)]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (s, d) => Row(s, d) }, 3),
      StructType(Seq(StructField("src", LongType), StructField("dst", LongType))))

  private def ids(vs: Seq[java.lang.Long]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(vs.map(Row(_)), 2),
      StructType(Seq(StructField("id", LongType))))

  private def bag(df: DataFrame): Map[Seq[Any], Int] =
    df.collect().toSeq.map(_.toSeq).groupBy(identity).map { case (k, v) => k -> v.size }

  private def dense(e: DataFrame, v: DataFrame): Boolean =
    DenseGraph.index(e, "src", "dst", v, Graph.maxBroadcastVerts).isDefined

  /** Graph.pagerank equals the DataFrame rounds; returns the rows. */
  private def samePr(e: DataFrame, v: DataFrame, iters: Int, canonical: Boolean = false,
                     expectDense: Boolean = true): Map[Seq[Any], Int] = {
    assert(dense(e, v) == expectDense)
    val got = Graph.pagerank(e, "src", "dst", v, iters, canonical = canonical)
    val want = Graph.pagerankRounds(e, "src", "dst", v, iters, 1000000000L, canonical)
    assert(got.schema == want.schema)
    assert(bag(got) == bag(want))
    bag(got)
  }

  private def sameHits(e: DataFrame, v: DataFrame, iters: Int,
                       expectDense: Boolean = true): Map[Seq[Any], Int] = {
    assert(dense(e, v) == expectDense)
    val got = Graph.hits(e, "src", "dst", v, iters)
    val want = Graph.hitsRounds(e, "src", "dst", v, iters)
    assert(got.schema == want.schema)
    assert(bag(got) == bag(want))
    bag(got)
  }

  private def L(x: Long): java.lang.Long = java.lang.Long.valueOf(x)

  test("edges to and from non-vertex ids: PageRank drops their mass, HITS scores them") {
    spark.sparkContext.setLogLevel("WARN")
    // 7, 8 and 9 are not vertices
    val e = longs(Seq((0L, 1L), (0L, 7L), (1L, 2L), (7L, 2L), (8L, 0L), (2L, 9L), (9L, 1L),
      (2L, 0L), (3L, 8L)).map { case (s, d) => (L(s), L(d)) })
    val v = ids(Seq(0L, 1L, 2L, 3L).map(L))
    Seq(1, 2, 5).foreach { k =>
      val pr = samePr(e, v, k)
      assert(pr.size == 4)
      val h = sameHits(e, v, k)
      assert(h.keySet.map(_.head) == Set(0L, 1L, 2L, 3L))
    }
    // the extras count in HITS' total: without their edges the scores change
    val inner = longs(Seq((0L, 1L), (1L, 2L), (2L, 0L)).map { case (s, d) => (L(s), L(d)) })
    assert(sameHits(inner, v, 1) != sameHits(e, v, 1))
  }

  test("a null vertex id: PageRank emits it with the base score, HITS drops it") {
    val e = longs(Seq((L(0), L(1)), (L(1), L(2)), (L(2), L(0)), (L(1), L(0))))
    val v = ids(Seq(L(0), L(1), L(2), null))
    val pr = samePr(e, v, 2)
    assert(pr.keySet.contains(Seq(null, 150000000L)))
    assert(samePr(e, v, 0).keySet.contains(Seq(null, 1000000000L)))
    val h = sameHits(e, v, 2)
    assert(h.size == 3 && !h.keySet.exists(_.head == null))
  }

  test("duplicate vertices and edges, self-loops and null endpoints, canonical or not") {
    val e = longs(Seq((L(0), L(1)), (L(0), L(1)), (L(1), L(1)), (L(1), L(2)), (L(2), L(0)),
      (L(2), null), (null, L(1)), (null, null), (L(3), L(3)), (L(0), L(2))))
    val v = ids(Seq(L(0), L(1), L(2), L(3), L(0), L(2)))
    for (k <- Seq(1, 3); canonical <- Seq(false, true)) samePr(e, v, k, canonical)
    sameHits(e, v, 3)
  }

  test("iters = 0 for PageRank and an edgeless graph for HITS") {
    val v = ids(Seq(L(5), L(6), null))
    val none = longs(Nil)
    assert(samePr(longs(Seq((L(5), L(6)))), v, 0).keySet ==
      Set(Seq(5L, 1000000000L), Seq(6L, 1000000000L), Seq(null, 1000000000L)))
    assert(sameHits(none, v, 2) == Map(Seq(5L, 0L, 0L) -> 1, Seq(6L, 0L, 0L) -> 1))
    assert(samePr(none, v, 3).keySet.forall(_(1) == 150000000L))
  }

  test("string, int and long ids take the dense path; mixed types take the rounds") {
    import spark.implicits._
    val rnd = new scala.util.Random(20261018)
    val es = Seq.fill(60)((s"w${rnd.nextInt(15)}", s"w${rnd.nextInt(18)}")) // w15..w17: extras
    val vs = (0 until 15).map(i => s"w$i") :+ "lonely"
    samePr(es.toDF("src", "dst"), vs.toDF("id"), 4)
    sameHits(es.toDF("src", "dst"), vs.toDF("id"), 3)
    val ei = es.map { case (s, d) => (s.drop(1).toInt, d.drop(1).toInt) }
    val vi = (0 until 15) :+ 99
    samePr(ei.toDF("src", "dst"), vi.toDF("id"), 4)
    sameHits(ei.toDF("src", "dst"), vi.toDF("id"), 3)
    // int vertices, long edges: Spark widens in the join, the dense key would not
    val el = ei.map { case (s, d) => (s.toLong, d.toLong) }
    samePr(el.toDF("src", "dst"), vi.toDF("id"), 4, expectDense = false)
    sameHits(el.toDF("src", "dst"), vi.toDF("id"), 3, expectDense = false)
    // a type the dense path does not admit
    val ed = ei.map { case (s, d) => (s.toDouble, d.toDouble) }
    samePr(ed.toDF("src", "dst"), vi.map(_.toDouble).toDF("id"), 2, expectDense = false)
  }

  test("random graphs: same rows on 12 graphs, both algorithms") {
    var state = 4242L
    def rnd(n: Int): Int = {
      state ^= state << 13; state ^= state >>> 7; state ^= state << 17
      ((state >>> 33) % n).toInt
    }
    (1 to 12).foreach { _ =>
      val n = 3 + rnd(30)
      val edges = Seq.fill(1 + rnd(5 * n))((L(rnd(n + 3)), L(rnd(n + 3))))
      val e = longs(edges)
      val v = ids((0 until n).map(i => L(i)))
      samePr(e, v, 1 + rnd(5))
      samePr(e, v, 1 + rnd(5), canonical = true)
      sameHits(e, v, 1 + rnd(5))
    }
  }

  test("the vertex index: capped, null-aware, and bounded per partition") {
    def index(vs: Seq[java.lang.Long], parts: Int, cap: Int) = DenseGraph.index(
      longs(Nil), "src", "dst",
      spark.createDataFrame(spark.sparkContext.parallelize(vs.map(Row(_)), parts),
        StructType(Seq(StructField("id", LongType)))), cap)
    val ten = (0 until 10).map(i => L(i))
    // 8 partitions share 4·(cap + 1) = 44 picks, 6 each: every partition
    // ships its own deduplicated ids in the one job, and the driver
    // merges the repeats
    val skewed = ten.take(7) ++ ten.take(7) ++ ten.drop(7)
    for ((vs, parts) <- Seq((ten ++ ten, 2), (skewed, 8))) {
      val ix = index(vs, parts, 10).get
      assert(ix.ids.toSet == (0L until 10L).toSet && !ix.hasNull)
      assert(ix.ids.indices.forall(i => ix.keys.get(L(ix.ids(i).asInstanceOf[Long])) == i))
    }
    assert(index(ten :+ null, 2, 10).isEmpty, "null counts toward the cap")
    assert(index(ten :+ null, 8, 11).get.hasNull)
    assert(index(ten :+ L(10), 1, 10).isEmpty)
  }

  /** true when some cause in the chain is an ArithmeticException */
  private def arithmetic(t: Throwable): Boolean =
    t != null && (t.isInstanceOf[ArithmeticException] || arithmetic(t.getCause))

  test("an overflowing scale throws ArithmeticException on both paths") {
    val e = longs(Seq((L(0), L(1)), (L(1), L(0))))
    val v = ids(Seq(L(0), L(1)))
    val big = Long.MaxValue / 10 // 85 * big overflows
    assert(dense(e, v))
    val d = intercept[Exception](Graph.pagerank(e, "src", "dst", v, 1, big).collect())
    assert(arithmetic(d), d.toString)
    val r = intercept[Exception](Graph.pagerankRounds(e, "src", "dst", v, 1, big, false).collect())
    assert(arithmetic(r), r.toString)
    // the sums overflow: 200 edges into one vertex, each carrying ~7.8e16
    val fan = longs((1 to 200).map(i => (L(i), L(0))))
    val fv = ids((0 to 200).map(i => L(i)))
    val s = Long.MaxValue / 100
    val d2 = intercept[Exception](Graph.pagerank(fan, "src", "dst", fv, 1, s).collect())
    assert(arithmetic(d2), d2.toString)
    val r2 = intercept[Exception](Graph.pagerankRounds(fan, "src", "dst", fv, 1, s, false).collect())
    assert(arithmetic(r2), r2.toString)
  }

  test("PageRank runs at most iters + 3 jobs, HITS 2·iters + 3; re-reading runs none") {
    var state = 99L
    def rnd(n: Int): Int = {
      state ^= state << 13; state ^= state >>> 7; state ^= state << 17
      ((state >>> 33) % n).toInt
    }
    val e = longs(Seq.fill(3000)((L(rnd(600)), L(rnd(40) * 15))))
    val v = ids((0 until 600).map(i => L(i)))
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    def count(f: => Unit): Int = {
      Thread.sleep(500) // listener events are async; drain
      jobs.set(0)
      f
      Thread.sleep(500)
      jobs.get()
    }
    try {
      for (k <- Seq(1, 2, 5)) {
        var pr: DataFrame = null
        val nPr = count { pr = Graph.pagerank(e, "src", "dst", v, iters = k); pr.collect() }
        assert(nPr <= k + 3, s"pagerank iters=$k: $nPr jobs")
        assert(count(pr.collect()) == 0)
        var h: DataFrame = null
        val nH = count { h = Graph.hits(e, "src", "dst", v, iters = k); h.collect() }
        assert(nH <= 2 * k + 3, s"hits iters=$k: $nH jobs")
        assert(count(h.collect()) == 0)
      }
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
