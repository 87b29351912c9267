package graft.join

import java.util.{HashMap => JHashMap}

import scala.collection.mutable.{ArrayBuffer, ArrayBuilder}
import scala.jdk.CollectionConverters._

import org.apache.spark.Partitioner
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.types.UTF8String

/**
 * Vertex-dense rounds of [[Graph.pagerank]] and [[Graph.hits]]: the
 * per-vertex state lives in driver arrays indexed by a dense vertex index,
 * the edges stay distributed, and each PageRank round or HITS half-round
 * is ONE Spark job that sums one long per edge and returns at most one
 * (index, value) pair per id.
 *
 * Layout. The distinct vertex ids are collected once (bounded by the
 * broadcast cap) and numbered 0..V-1. One pass over the edges packs them
 * into [[DenseGraph.Block]]s, persisted for the rounds: every edge is kept
 * twice, once at the block that owns its dst and once at the block that
 * owns its src (vertex i is owned by block i mod B, any other endpoint by
 * the hash of its key), each side sorted into compressed-sparse-row form
 * and deduplicated there. A sum into either end of the edges is therefore
 * complete inside one block: no round shuffles, and the blocks' answers
 * never overlap. Endpoints that are not vertices ("extras") are kept by
 * key; HITS numbers them V.. on the driver after the packing pass.
 *
 * Exactness. Every operation the DataFrame rounds run under ANSI SQL —
 * `85 * x`, the sums, `raw * 100` — uses `Math.multiplyExact`/`addExact`,
 * so an overflow throws `ArithmeticException` here as it throws there.
 * Ids of type bigint/int/smallint/tinyint and binary-collated string are
 * the only ones admitted: for those, `equals` on the key (a `Long` for the
 * integral types, `UTF8String` for strings) is Spark's join equality.
 */
private[join] object DenseGraph {

  /** The collected vertex set: `ids(i)` is vertex i's value as the caller
    * gave it, `keys` maps each key to i; a null id is not indexed. */
  final class Index(val ids: Array[Any], val keys: JHashMap[AnyRef, Integer],
                    val hasNull: Boolean, val idField: StructField) {
    def size: Int = ids.length
  }

  /** An endpoint that is not a vertex, by key (null for a null endpoint). */
  final case class XKey(k: AnyRef)

  /** One side of a block: `keys` sorted, key i's other endpoints are
    * `other(off(i) until off(i + 1))`. A ref ≥ 0 is a vertex index;
    * -(j + 1) is the block's `extras(j)`. */
  final class Csr(val keys: Array[Int], val off: Array[Int], val other: Array[Int])
    extends Serializable

  /** `in` holds the edges whose dst this block owns (keys = dst), `out`
    * those whose src it owns (keys = src). */
  final class Block(val in: Csr, val out: Csr, val extras: Array[XKey]) extends Serializable

  /** Edges bound for one block from one input partition: vertex–vertex
    * edges packed as longs (in: dst·2³² | src, out: src·2³² | dst), edges
    * with an extra as flat (src, dst) ref pairs, a ref being an `Integer`
    * vertex index or an [[XKey]]. */
  private final class Piece(val in: Array[Long], val out: Array[Long],
                            val xIn: Array[AnyRef], val xOut: Array[AnyRef]) extends Serializable

  private final class Owner(val numPartitions: Int) extends Partitioner {
    def getPartition(key: Any): Int = key.asInstanceOf[Int]
  }

  private val DenseTypes: Set[DataType] = Set(LongType, IntegerType, ShortType, ByteType, StringType)

  /** The vertex index, or None when the call must take the DataFrame
    * rounds: an id type outside [[DenseTypes]], src/dst of another type
    * than the id, or more than `cap` distinct ids (null counts as one).
    *
    * One job collects the ids through [[Bounded.countAndKeep]], each
    * partition deduplicating its own (a null id is kept once), with up to
    * 4·(cap + 1) picks in all; the driver then rejects more than `cap`
    * distinct ids. Picks past 4·(cap + 1), which repeated ids spread over
    * many partitions can reach with `cap` or fewer distinct ids, also
    * take the DataFrame rounds; those give the same rows. */
  def index(edges: DataFrame, srcCol: String, dstCol: String,
            vertices: DataFrame, cap: Int): Option[Index] = {
    val v = vertices.select(col("id"))
    val idField = v.schema.head
    val t = idField.dataType
    val eTypes = edges.select(col(srcCol), col(dstCol)).schema.map(_.dataType)
    if (!DenseTypes(t) || eTypes.exists(_ != t)) return None
    val (_, picks) = Bounded.countAndKeep(v.queryExecution.toRdd, 4 * (cap + 1)) { () =>
      val seen = new java.util.HashSet[AnyRef]
      var hasNull = false
      (r: InternalRow) => read(r, 0, t) match {
        case null => if (hasNull) None else { hasNull = true; Some(null) }
        case k if seen.contains(k) => None
        case k =>
          val own = k match { case u: UTF8String => u.clone(); case o => o }
          seen.add(own); Some(own)
      }
    }
    picks.flatMap { ks =>
      val keys = new JHashMap[AnyRef, Integer]
      val ids = new ArrayBuffer[Any]
      var hasNull = false
      ks.foreach { k =>
        if (k == null) hasNull = true
        else if (!keys.containsKey(k)) { keys.put(k, Integer.valueOf(ids.length)); ids += external(k, t) }
      }
      if (ids.length + (if (hasNull) 1 else 0) > cap) None
      else Some(new Index(ids.toArray, keys, hasNull, idField))
    }
  }

  /** The id value of a key, as a Row of type `t` holds it. */
  private def external(k: AnyRef, t: DataType): Any = t match {
    case IntegerType => k.asInstanceOf[java.lang.Long].intValue
    case ShortType => k.asInstanceOf[java.lang.Long].shortValue
    case ByteType => k.asInstanceOf[java.lang.Long].byteValue
    case StringType => k.toString
    case _ => k
  }

  /** Column i of an edge row as a key; null for null. The UTF8String may
    * point into a reused row buffer: clone it before keeping it. */
  private def read(r: InternalRow, i: Int, t: DataType): AnyRef =
    if (r.isNullAt(i)) null
    else t match {
      case LongType => java.lang.Long.valueOf(r.getLong(i))
      case IntegerType => java.lang.Long.valueOf(r.getInt(i).toLong)
      case ShortType => java.lang.Long.valueOf(r.getShort(i).toLong)
      case ByteType => java.lang.Long.valueOf(r.getByte(i).toLong)
      case _ => r.getUTF8String(i)
    }

  private def pack(hi: Int, lo: Int): Long = (hi.toLong << 32) | (lo & 0xffffffffL)

  /**
   * Packs the edges into persisted blocks (lazily: the first action on the
   * result runs the packing job). Self-loops and null endpoints are dropped
   * and duplicates removed unless `canonical`; with `vertexSrcOnly`, edges
   * whose src is not a vertex are dropped too (they carry no PageRank mass).
   */
  private def packEdges(ix: Index, bIx: Broadcast[JHashMap[AnyRef, Integer]], edges: DataFrame,
                        srcCol: String, dstCol: String, canonical: Boolean,
                        vertexSrcOnly: Boolean): RDD[Block] = {
    val t = ix.idField.dataType
    val rows = edges.select(col(srcCol), col(dstCol)).queryExecution.toRdd
    val nB = math.max(1, rows.getNumPartitions)
    def owner(ref: AnyRef): Int = ref match {
      case i: Integer => i.intValue % nB
      case x => Math.floorMod(x.hashCode, nB)
    }
    rows.mapPartitions { it =>
      val vIx = bIx.value
      val in = Array.fill(nB)(new ArrayBuilder.ofLong)
      val out = Array.fill(nB)(new ArrayBuilder.ofLong)
      val xIn = Array.fill(nB)(new ArrayBuffer[AnyRef])
      val xOut = Array.fill(nB)(new ArrayBuffer[AnyRef])
      def ref(k: AnyRef): AnyRef = {
        val i = if (k == null) null else vIx.get(k)
        if (i != null) i
        else XKey(k match { case u: UTF8String => u.clone(); case o => o })
      }
      it.foreach { r =>
        val s = read(r, 0, t)
        val d = read(r, 1, t)
        if (canonical || (s != null && d != null && !s.equals(d))) {
          val sr = ref(s)
          if (!vertexSrcOnly || sr.isInstanceOf[Integer]) {
            val dr = ref(d)
            val bs = owner(sr)
            val bd = owner(dr)
            if (sr.isInstanceOf[Integer] && dr.isInstanceOf[Integer]) {
              val si = sr.asInstanceOf[Integer].intValue
              val di = dr.asInstanceOf[Integer].intValue
              in(bd) += pack(di, si)
              out(bs) += pack(si, di)
            } else {
              xIn(bd).addOne(sr).addOne(dr)
              xOut(bs).addOne(sr).addOne(dr)
            }
          }
        }
      }
      Iterator.tabulate(nB)(b => b -> new Piece(in(b).result(), out(b).result(),
          xIn(b).toArray, xOut(b).toArray))
        .filter { case (_, p) => p.in.nonEmpty || p.out.nonEmpty || p.xIn.nonEmpty || p.xOut.nonEmpty }
    }.partitionBy(new Owner(nB))
      .mapPartitions(ps => Iterator(block(ps.map(_._2), dedup = !canonical)))
      .persist(StorageLevel.MEMORY_AND_DISK)
  }

  private def block(pieces: Iterator[Piece], dedup: Boolean): Block = {
    val local = new JHashMap[XKey, Integer]
    val extras = new ArrayBuffer[XKey]
    def ref(o: AnyRef): Int = o match {
      case i: Integer => i.intValue
      case x: XKey =>
        var j = local.get(x)
        if (j == null) { j = Integer.valueOf(extras.length); local.put(x, j); extras += x }
        -(j.intValue + 1)
    }
    val in = new ArrayBuilder.ofLong
    val out = new ArrayBuilder.ofLong
    pieces.foreach { p =>
      in ++= p.in
      out ++= p.out
      p.xIn.grouped(2).foreach(sd => in += pack(ref(sd(1)), ref(sd(0))))
      p.xOut.grouped(2).foreach(sd => out += pack(ref(sd(0)), ref(sd(1))))
    }
    new Block(csr(in.result(), dedup), csr(out.result(), dedup), extras.toArray)
  }

  /** Sorted packed edges → CSR on the high half; equal edges kept once when `dedup`. */
  private def csr(a: Array[Long], dedup: Boolean): Csr = {
    java.util.Arrays.sort(a)
    var n = a.length
    if (dedup) {
      n = 0
      a.foreach { x => if (n == 0 || x != a(n - 1)) { a(n) = x; n += 1 } }
    }
    var nk = 0
    var i = 0
    while (i < n) { if (i == 0 || (a(i) >> 32) != (a(i - 1) >> 32)) nk += 1; i += 1 }
    val keys = new Array[Int](nk)
    val off = new Array[Int](nk + 1)
    val other = new Array[Int](n)
    var k = -1
    i = 0
    while (i < n) {
      val hi = (a(i) >> 32).toInt
      if (k < 0 || hi != keys(k)) { k += 1; keys(k) = hi; off(k) = i }
      other(i) = a(i).toInt
      i += 1
    }
    off(nk) = n
    new Csr(keys, off, other)
  }

  /** The blocks' extras as global indices (V..), or -1 each without an index. */
  private def resolve(b: Block, xIx: JHashMap[XKey, Integer]): Array[Int] =
    b.extras.map(x => if (xIx == null) -1 else xIx.get(x).intValue)

  /**
   * One round: y(k) = Σ x(other) over one side's keys of every block (the
   * `in` side, keyed by dst, when `toDst`; else the `out` side, keyed by
   * src) — one Spark job.
   * Keys that resolve to no index (PageRank's extras) are summed, so an
   * overflow still throws, and then dropped.
   */
  private def sumInto(blocks: RDD[Block], toDst: Boolean, x: Array[Long], u: Int,
                      bX: Broadcast[JHashMap[XKey, Integer]]): Array[Long] = {
    val bx = blocks.sparkContext.broadcast(x)
    try {
      val parts = blocks.map { b =>
        val c = if (toDst) b.in else b.out
        val g = resolve(b, if (bX == null) null else bX.value)
        val xv = bx.value
        val ks = new Array[Int](c.keys.length)
        val vs = new Array[Long](c.keys.length)
        var i = 0
        while (i < ks.length) {
          var s = 0L
          var e = c.off(i)
          while (e < c.off(i + 1)) {
            val o = c.other(e)
            s = Math.addExact(s, xv(if (o >= 0) o else g(-o - 1)))
            e += 1
          }
          val k = c.keys(i)
          ks(i) = if (k >= 0) k else g(-k - 1)
          vs(i) = s
          i += 1
        }
        (ks, vs)
      }.collect()
      val y = new Array[Long](u)
      parts.foreach { case (ks, vs) =>
        var i = 0
        while (i < ks.length) {
          if (ks(i) >= 0) y(ks(i)) = Math.addExact(y(ks(i)), vs(i))
          i += 1
        }
      }
      y
    } finally bx.destroy()
  }

  /** Packs the edges, runs `f` on the blocks and releases them and the
    * vertex-index broadcast whatever `f` does. */
  private def withBlocks[T](ix: Index, edges: DataFrame, srcCol: String, dstCol: String,
                            canonical: Boolean, vertexSrcOnly: Boolean)(f: RDD[Block] => T): T = {
    val sc = edges.sparkSession.sparkContext
    val bIx = sc.broadcast(ix.keys)
    var blocks: RDD[Block] = null
    try {
      blocks = packEdges(ix, bIx, edges, srcCol, dstCol, canonical, vertexSrcOnly)
      f(blocks)
    } finally {
      if (blocks != null) blocks.unpersist(blocking = false)
      bIx.destroy()
    }
  }

  private def frame(edges: DataFrame, ix: Index, cols: Seq[String], rows: Seq[Row]): DataFrame =
    edges.sparkSession.createDataFrame(rows.asJava,
      StructType(ix.idField +: cols.map(StructField(_, LongType, nullable = false))))

  /** [[Graph.pagerank]] over the index; same arguments, same rows and schema. */
  def pagerank(ix: Index, edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int, scale: Long, canonical: Boolean): DataFrame = {
    val v = ix.size
    val base = scale * 15L / 100L
    val r = Array.fill(v)(scale)
    if (iters > 0) withBlocks(ix, edges, srcCol, dstCol, canonical, vertexSrcOnly = true) { blocks =>
      // the packing job: every src is a vertex and owned by one block
      val deg = new Array[Long](v)
      blocks.map(b => (b.out.keys, b.out.off)).collect().foreach { case (ks, off) =>
        ks.indices.foreach(i => deg(ks(i)) = off(i + 1) - off(i))
      }
      val c = new Array[Long](v)
      var k = 0
      while (k < iters) {
        k += 1
        var s = 0
        while (s < v) {
          c(s) = if (deg(s) == 0) 0L else Math.multiplyExact(85L, r(s) / deg(s)) / 100L
          s += 1
        }
        val mass = sumInto(blocks, toDst = true, c, v, null)
        s = 0
        while (s < v) { r(s) = Math.addExact(base, mass(s)); s += 1 }
      }
    }
    val nullRow = if (ix.hasNull) Seq(Row(null, if (iters == 0) scale else base)) else Nil
    frame(edges, ix, Seq("r"), Seq.tabulate(v)(i => Row(ix.ids(i), r(i))) ++ nullRow)
  }

  /** floor(raw·1e6/t) by the base-100 ladder of [[Graph.hits]]; t = 0 gives 0. */
  private def ppm(raw: Array[Long]): Array[Long] = {
    val t = raw.foldLeft(0L)(Math.addExact)
    raw.map { x =>
      if (t == 0) 0L
      else {
        val x100 = Math.multiplyExact(x, 100L)
        val r1 = Math.multiplyExact(x100 % t, 100L)
        val r2 = Math.multiplyExact(r1 % t, 100L)
        Math.addExact(Math.addExact(Math.multiplyExact(x100 / t, 10000L),
          Math.multiplyExact(r1 / t, 100L)), r2 / t)
      }
    }
  }

  /** [[Graph.hits]] over the index, or None when the vertices and the
    * extras together exceed `cap`. */
  def hits(ix: Index, edges: DataFrame, srcCol: String, dstCol: String,
           iters: Int, cap: Int): Option[DataFrame] = {
    val v = ix.size
    val scores = withBlocks(ix, edges, srcCol, dstCol, canonical = false, vertexSrcOnly = false) { blocks =>
      // the packing job: number the extras V.. in first-seen order
      val xIx = new JHashMap[XKey, Integer]
      blocks.map(_.extras).collect().foreach(_.foreach { x =>
        if (!xIx.containsKey(x)) xIx.put(x, Integer.valueOf(v + xIx.size))
      })
      val u = v + xIx.size
      if (u > cap) None
      else {
        val bX = blocks.sparkContext.broadcast(xIx)
        try {
          var h = Array.tabulate(u)(i => if (i < v) 1000000L else 0L)
          var a = h
          var k = 0
          while (k < iters) {
            k += 1
            a = ppm(sumInto(blocks, toDst = true, h, u, bX)) // authority: Σ hub over in-edges
            h = ppm(sumInto(blocks, toDst = false, a, u, bX)) // hub: Σ authority over out-edges
          }
          Some((a, h))
        } finally bX.destroy()
      }
    }
    scores.map { case (a, h) =>
      frame(edges, ix, Seq("a_ppm", "h_ppm"), Seq.tabulate(v)(i => Row(ix.ids(i), a(i), h(i))))
    }
  }
}
