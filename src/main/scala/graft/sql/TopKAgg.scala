package org.apache.spark.sql.graft

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.ExpectsInputTypes
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * topk_pairs(ord, id, K) → the K (ord, id)-smallest pairs, ascending, as
 * ARRAY<STRUCT<o, i>> — the MAP-SIDE-COMBINABLE exact top-k that replaces
 * the `row_number().over(partitionBy(key).orderBy(ord, id)) ≤ K` window
 * in the candidate-ranking kernels (kNN ring rounds, the brute scans,
 * ANN probe rounds).
 *
 * Why it exists (r6, guide §2.3 "aggregate before you shuffle"): a
 * window function has no partial aggregation, so EVERY candidate row
 * crosses the exchange — measured 33M rows for one kNN round at sf0.1 on
 * clustered data, with the top-k keeping only 8k of them. This aggregate
 * keeps a K-bounded buffer per group in the hash-aggregate's partial
 * pass, so only n_groups · K pairs per map task reach the shuffle — the
 * same exact result (ties broken by id, mirroring the window's
 * `orderBy(ord, id)`) at a shuffle volume independent of candidate count.
 *
 * ord: DOUBLE or BIGINT; id: STRING or BIGINT (binary/UTF8 string order —
 * identical to Spark's string sort order). For a DESCENDING ord (cosine
 * similarity), callers pass the negated ord. K ≤ 4096 (the buffer is
 * O(K) per group; candidate-ranking ks are single digits).
 *
 * Equal (ord, id) pairs count once: a group fed the same pair twice
 * returns it once, and the next distinct pair takes the freed place.
 * Rows with a null ord or id are skipped. String ids are copied when they
 * enter the buffer, so input rows may share one reused buffer.
 */
case class TopKPairs(ordExpr: Expression, idExpr: Expression, kExpr: Expression,
                     mutableAggBufferOffset: Int = 0,
                     inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[java.util.TreeSet[(Any, Any)]]
    with ExpectsInputTypes {

  private lazy val k = {
    val v = Sketches.litInt(kExpr, "topk_pairs K")
    require(v > 0 && v <= 4096, s"topk_pairs K out of range (1..4096): $v")
    v
  }
  private val ordIsLong = ordExpr.dataType == LongType
  private val idIsLong = idExpr.dataType == LongType

  type Buf = java.util.TreeSet[(Any, Any)]

  private def cmp(o1: Any, i1: Any, o2: Any, i2: Any): Int = {
    val c =
      if (ordIsLong) java.lang.Long.compare(o1.asInstanceOf[Long], o2.asInstanceOf[Long])
      else java.lang.Double.compare(o1.asInstanceOf[Double], o2.asInstanceOf[Double])
    if (c != 0) c
    else if (idIsLong) java.lang.Long.compare(i1.asInstanceOf[Long], i2.asInstanceOf[Long])
    else i1.asInstanceOf[UTF8String].compareTo(i2.asInstanceOf[UTF8String])
  }

  private object Cmp extends java.util.Comparator[(Any, Any)] {
    override def compare(a: (Any, Any), b: (Any, Any)): Int = cmp(a._1, a._2, b._1, b._2)
  }

  override def children: Seq[Expression] = Seq(ordExpr, idExpr, kExpr)
  override def inputTypes: Seq[AbstractDataType] =
    Seq(TypeCollection(DoubleType, LongType), TypeCollection(StringType, LongType), IntegerType)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("o", ordExpr.dataType, nullable = false),
      StructField("i", idExpr.dataType, nullable = false))), containsNull = false)

  override def createAggregationBuffer(): Buf = new java.util.TreeSet[(Any, Any)](Cmp)

  /** Inserts `e` if it ranks among the K smallest; an equal (ord, id)
    * pair already held is not added again. */
  private def add(b: Buf, e: (Any, Any)): Unit = {
    if (b.size < k) { b.add(e); () }
    else if (Cmp.compare(e, b.last()) < 0) { if (b.add(e)) { b.pollLast(); () } }
  }

  override def update(b: Buf, row: InternalRow): Buf = {
    val o = ordExpr.eval(row)
    val i = idExpr.eval(row)
    // a string id may point into the input row's buffer, which the caller
    // reuses for the next row: copy it, but only once it will be kept
    if (o != null && i != null && (b.size < k || { val w = b.last(); cmp(o, i, w._1, w._2) < 0 }))
      add(b, (o, if (idIsLong) i else i.asInstanceOf[UTF8String].clone()))
    b
  }

  override def merge(b: Buf, other: Buf): Buf = {
    val it = other.iterator()
    while (it.hasNext) add(b, it.next())
    b
  }

  override def eval(b: Buf): Any = {
    val out = new Array[Any](b.size)
    val it = b.iterator()
    var i = 0
    while (it.hasNext) {
      val e = it.next()
      out(i) = InternalRow(e._1, e._2)
      i += 1
    }
    new GenericArrayData(out)
  }

  override def serialize(b: Buf): Array[Byte] = {
    var size = 4
    val it0 = b.iterator()
    while (it0.hasNext) {
      val e = it0.next()
      size += 8 + (if (idIsLong) 8
                   else 4 + e._2.asInstanceOf[UTF8String].numBytes())
    }
    val bb = ByteBuffer.allocate(size)
    bb.putInt(b.size)
    val it = b.iterator()
    while (it.hasNext) {
      val e = it.next()
      if (ordIsLong) bb.putLong(e._1.asInstanceOf[Long])
      else bb.putDouble(e._1.asInstanceOf[Double])
      if (idIsLong) bb.putLong(e._2.asInstanceOf[Long])
      else {
        val u = e._2.asInstanceOf[UTF8String].getBytes
        bb.putInt(u.length); bb.put(u)
      }
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Buf = {
    val bb = ByteBuffer.wrap(bytes)
    val out = createAggregationBuffer()
    val n = bb.getInt()
    var i = 0
    while (i < n) {
      val o: Any = if (ordIsLong) bb.getLong() else bb.getDouble()
      val id: Any = if (idIsLong) bb.getLong()
        else {
          val len = bb.getInt()
          val u = new Array[Byte](len)
          bb.get(u)
          UTF8String.fromBytes(u)
        }
      out.add((o, id))
      i += 1
    }
    out
  }

  override def withNewMutableAggBufferOffset(n: Int): TopKPairs = copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): TopKPairs = copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): Expression =
    copy(ordExpr = cs(0), idExpr = cs(1), kExpr = cs(2))
}
