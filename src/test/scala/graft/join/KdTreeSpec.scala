package graft.join

import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** The per-partition k-d tree search vs a sorted scan, on lattices where
  * most k-th places are exact ties. */
class KdTreeSpec extends AnyFunSuite {

  private val byD2ThenUtf8 = Ordering.Tuple2(Ordering.Double.TotalOrdering,
    Ordering.fromLessThan[String]((a, b) =>
      UTF8String.fromString(a).compareTo(UTF8String.fromString(b)) < 0))

  test("nearest equals a sorted scan, ties broken by UTF-8 id, duplicates once") {
    for (side <- Seq(3, 7, 16, 23); k <- Seq(1, 2, 3, 5, 8, 13)) {
      // lattice step 1/8 keeps every distance exact; ids are scrambled and
      // every 5th point appears twice, every 7th shares a coordinate
      val n = side * side
      val pts = (0 until n).flatMap { i =>
        val p = (s"${(i * 7919) % n}" + (if (i % 3 == 0) "\uFFFD" else "\uD83D\uDE00"),
          (i % side) * 0.125, (i / side) * 0.125)
        Seq(p) ++ (if (i % 5 == 0) Seq(p) else Nil) ++
          (if (i % 7 == 0) Seq((s"z$i", p._2, p._3)) else Nil)
      }
      val tree = new KdTree(pts.map(_._2).toArray, pts.map(_._3).toArray, pts.map(_._1).toArray, k)
      val qs = for (x <- 0 until side; y <- 0 until side; h <- Seq(0.0, 0.0625))
        yield (x * 0.125 + h, y * 0.125 + h / 2)
      qs.foreach { case (qx, qy) =>
        val want = pts.map { case (id, px, py) =>
          ((px - qx) * (px - qx) + (py - qy) * (py - qy), id)
        }.distinct.sorted(byD2ThenUtf8).take(k)
        val got = tree.nearest(qx, qy).map { case (id, d2) => (d2, id) }.sorted(byD2ThenUtf8).toSeq
        assert(got == want, s"side=$side k=$k q=($qx, $qy)")
      }
    }
  }

  test("UTF-8 order differs from String.compareTo past the BMP") {
    val (bmp, astral) = ("\uFFFD", "\uD83D\uDE00")
    assert(bmp.compareTo(astral) > 0)
    assert(KdTree.compareUtf8(bmp, astral) < 0)
    assert(KdTree.compareUtf8("ab", "abc") < 0 && KdTree.compareUtf8("abc", "abc") == 0)
  }
}
