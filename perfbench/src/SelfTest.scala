package perfbench

/** Tests of the benchmark's own helpers, on hand-made cases.
  * Run with: python3 perfbench/run.py --selftest */
object SelfTest {
  private var passed = 0
  private val failures = scala.collection.mutable.ArrayBuffer.empty[String]

  private def check(what: String)(cond: => Boolean): Unit =
    if (try cond catch { case e: Exception => failures += s"$what threw $e"; true }) passed += 1
    else failures += what

  def main(args: Array[String]): Unit = {
    // percentile with its sample count
    val hundred = (1 to 100).map(_.toDouble).reverse
    check("tail of 100 is the 11th largest at p90")(Stats.tail(hundred) == Stats.Tail(90.0, 90.0, 100))
    check("tail of 11 is the minimum at p9.09")(Stats.tail((1 to 11).map(_.toDouble)) == Stats.Tail(100.0 / 11, 1.0, 11))
    check("tail of 10 or fewer is the maximum at p100")(Stats.tail(Seq(3.0, 1.0, 2.0)) == Stats.Tail(100.0, 3.0, 3))
    check("median odd")(Stats.median(Seq(5.0, 1.0, 3.0)) == 3.0)
    check("median even")(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)

    // checksum: order-independent, bag-sensitive, float-rounded
    val rows = Seq(Seq("a", 1L, 0.5), Seq("b", 2L, 1.25), Seq("c", 3L, -7.0))
    check("checksum ignores row order")(Stats.bagChecksum(rows) == Stats.bagChecksum(rows.reverse))
    check("checksum sees a duplicated row")(Stats.bagChecksum(rows :+ rows.head) != Stats.bagChecksum(rows))
    check("checksum sees a changed field")(Stats.bagChecksum(rows.updated(1, Seq("b", 2L, 1.26))) != Stats.bagChecksum(rows))
    check("checksum rounds floats")(Stats.bagChecksum(Seq(Seq(0.1 + 0.2))) == Stats.bagChecksum(Seq(Seq(0.3))))
    check("checksum field order matters")(Stats.rowHash(Seq(1L, 2L)) != Stats.rowHash(Seq(2L, 1L)))

    // point in polygon: closed semantics on a square and a concave L
    val sq = new Refs.Poly("sq", Array(0.0, 2.0, 2.0, 0.0), Array(0.0, 0.0, 2.0, 2.0))
    check("pip interior")(sq.covers(1.0, 1.0))
    check("pip edge counts as inside")(sq.covers(0.0, 1.0) && sq.covers(1.0, 2.0))
    check("pip vertex counts as inside")(sq.covers(2.0, 2.0))
    check("pip exterior")(!sq.covers(2.5, 1.0) && !sq.covers(1.0, -1e-9))
    val ell = new Refs.Poly("L", Array(0.0, 2.0, 2.0, 1.0, 1.0, 0.0), Array(0.0, 0.0, 1.0, 1.0, 2.0, 2.0))
    check("pip concave notch is outside")(!ell.covers(1.5, 1.5))
    check("pip concave arms are inside")(ell.covers(1.5, 0.5) && ell.covers(0.5, 1.5))
    check("pip wkt closes the ring")(sq.wkt == "POLYGON ((0.0 0.0, 2.0 0.0, 2.0 2.0, 0.0 2.0, 0.0 0.0))")
    val far = new Refs.Poly("far", Array(10.0, 11.0, 11.0), Array(10.0, 10.0, 11.0))
    val grid = new Refs.ZoneGrid(IndexedSeq(sq, ell, far), 0.5)
    check("grid finds both overlapping polygons")(grid.covering(0.5, 0.5).toSeq == Seq(0, 1))
    check("grid finds one in the notch")(grid.covering(1.5, 1.5).toSeq == Seq(0))
    check("pipPairs")(Refs.pipPairs(grid, Array(0.5, 10.9, 5.0), Array(0.5, 10.1, 5.0), Array(0, 1, 2))
      .toSeq == Seq((0, 0), (0, 1), (1, 2)))

    // tiles and cells
    check("tile x at the antimeridian")(Refs.tileX(-180.0, 8) == 0 && Refs.tileX(180.0, 8) == 255)
    check("tile x at 0°")(Refs.tileX(0.0, 1) == 1 && Refs.tileX(-1e-9, 1) == 0)
    check("tile y at the equator")(Refs.tileY(0.0, 1) == 1 && Refs.tileY(1e-6, 1) == 0)
    check("tile y clamps at the poles")(Refs.tileY(89.0, 4) == 0 && Refs.tileY(-89.0, 4) == 15)
    check("tile y of 45°N at z=3")(Refs.tileY(45.0, 3) == 2)
    check("interleave")(Refs.interleave(1, 0) == 1 && Refs.interleave(0, 1) == 2 && Refs.interleave(3, 3) == 15 &&
      Refs.interleave(4, 0) == 16)
    check("cell of the origin at z=1")(Refs.cellOf(0.5, -0.5, 1) == 3)

    // exact kNN sweep against brute force
    val r = new scala.util.Random(7)
    val xs = Array.fill(500)(r.nextDouble()); val ys = Array.fill(500)(r.nextDouble())
    val ids = Array.tabulate(500)(i => f"p$i%03d")
    val sweep = new Refs.SweepIndex(xs, ys, ids)
    check("knn sweep equals brute force")((0 until 50).forall { _ =>
      val (qx, qy) = (r.nextDouble(), r.nextDouble())
      val brute = xs.indices.map { i => val dx = xs(i) - qx; val dy = ys(i) - qy; (dx * dx + dy * dy, ids(i)) }
        .sorted.take(5)
      sweep.nearest(qx, qy, 5) == brute
    })
    val tie = new Refs.SweepIndex(Array(1.0, -1.0, 0.0), Array(0.0, 0.0, 2.0), Array("b", "a", "c"))
    check("knn ties break by id")(tie.nearest(0.0, 0.0, 2).map(_._2) == Seq("a", "b"))

    // byte-pair encoding
    check("words lower-case and split on non-alphanumerics")(
      Refs.words("Hello, World 42!").toSeq == Seq("hello", "world", "42"))
    check("bpe encode")(Refs.bpeEncode("abc") == "|a|b|c|")
    check("bpe merge rescans overlapping pairs")(Refs.bpeMerge("|a|b|a|b|", "a", "b") == "|ab|ab|")
    check("bpe merge takes the leftmost of a run")(Refs.bpeMerge("|a|a|a|", "a", "a") == "|aa|a|")
    check("bpe train: counts, ties by (a, b), stops when words are single symbols")(
      Refs.bpeTrain(Seq("aaab", "ab ab"), 5) == Seq((1, "a", "b", 3L), (2, "a", "a", 1L), (3, "aa", "ab", 1L)))
    check("bpe tokens")(Refs.bpeTokens("abab", Seq(("a", "b"))) == 2 && Refs.bpeTokens("abc", Nil) == 3)

    // integer PageRank and HITS on a 3-vertex graph with a duplicate edge and a self-loop
    val edges = Refs.simpleEdges(Array(0L, 0L, 1L, 0L, 2L), Array(1L, 2L, 2L, 1L, 2L))
    check("simple edges drop duplicates and self-loops")(edges.toSeq == Seq((0L, 1L), (0L, 2L), (1L, 2L)))
    check("pagerank one round")(Refs.pagerank(Array(0L, 1L, 2L), edges, 1, scale = 100) ==
      Map(0L -> 15L, 1L -> 57L, 2L -> 142L))
    check("ppm floors")(Refs.ppm(1, 3) == 333333 && Refs.ppm(0, 0) == 0)
    check("hits one round")(Refs.hits(Array(0L, 1L, 2L), edges, 1) ==
      Map(0L -> ((0L, 600000L)), 1L -> ((333333L, 400000L)), 2L -> ((666666L, 0L))))

    // quantised cosine top-k
    check("quantise rounds half up")(Refs.quantise(Array(0.25f, -0.2504f, 1.2344f)).toSeq == Seq(250L, -250L, 1234L))
    val qv = Array(Array(1000L, 0L), Array(0L, 1000L), Array(707L, 707L), Array(1000L, 0L))
    check("cosine top-k ties by id")(Refs.cosineTopK(0, qv, qv.map(v => Refs.dotQ(v, v)), 3) == Seq(0L, 3L, 2L))

    // interval join with inclusive bounds
    val (lk, lts) = (Array(1, 2, 3), Array(100L, 100L, 100L))
    val (rk, rts) = (Array(1, 1, 2, 9), Array(400L, 401L, -200L, 100L))
    check("interval join")(Refs.intervalJoin(lk, lts, rk, rts, 300, outer = false).toSeq == Seq((0, 0), (1, 2)))
    check("interval left outer join")(Refs.intervalJoin(lk, lts, rk, rts, 300, outer = true).toSeq ==
      Seq((0, 0), (1, 2), (2, -1)))

    failures.foreach(f => println(s"FAILED: $f"))
    println(s"selftest: $passed passed, ${failures.length} failed")
    if (failures.nonEmpty) sys.exit(1)
  }
}
