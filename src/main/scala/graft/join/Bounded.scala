package graft.join

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow

import scala.reflect.ClassTag

/** The one bounded collect of `graft`: the operators that switch on
  * "small enough to collect" decide it through [[Bounded.countAndKeep]]
  * (the ANN scans, the dense graph index and `text.Bpe.train`). */
private[graft] object Bounded {

  /**
   * The row count of `rows` and, when the picks number at most `cap`, the
   * picks in partition order. `pick` is called once per partition and
   * returns that partition's pick function, so a partition can keep state
   * across its rows (deduplicate, say); the picks of one partition are
   * then the same on every run over the same rows.
   *
   * Bounded for the driver whatever the input: in the one job over every
   * partition, a partition sends its picks only while it holds at most its
   * share, cap / P + 1 of P, and otherwise sends just its counts, so at
   * most cap + P picks reach the driver. A partition stops picking past
   * cap + 1, which already decides the answer. When the picks fit under
   * the cap but some partition held more than its share, a second job
   * collects just those partitions, each bounded by the count the first
   * job saw.
   */
  def countAndKeep[T: ClassTag](rows: RDD[InternalRow], cap: Int)(
      pick: () => InternalRow => Option[T]): (Long, Option[Array[T]]) = {
    // (rows, picks up to cap + 1, the picks when at most `share` of them)
    def scan(share: Long, it: Iterator[InternalRow]): (Long, Long, Option[Array[T]]) = {
      val keep = pick()
      var n = 0L; var m = 0L
      val kept = Array.newBuilder[T]
      it.foreach { r =>
        n += 1
        if (m <= cap) keep(r).foreach { x => m += 1; if (m <= share) kept += x }
      }
      (n, m, if (m <= share) Some(kept.result()) else None)
    }
    val share = cap.toLong / math.max(1, rows.getNumPartitions) + 1
    val parts = rows.mapPartitions(it => Iterator(scan(share, it))).collect()
    val n = parts.map(_._1).sum
    if (parts.map(_._2).sum > cap) (n, None)
    else {
      val held = parts.indices.filter(parts(_)._3.isEmpty)
      val seen = held.map(p => p -> parts(p)._2).toMap
      val late = if (held.isEmpty) Map.empty[Int, Option[Array[T]]]
        else held.zip(rows.sparkContext.runJob(rows,
          (ctx: TaskContext, it: Iterator[InternalRow]) => scan(seen(ctx.partitionId()), it)._3, held)).toMap
      val all = parts.indices.map(p => late.getOrElse(p, parts(p)._3))
      // a partition that picks more the second time (a nondeterministic
      // input) withholds its picks: the answer is then "over the cap"
      if (all.exists(_.isEmpty)) (n, None) else (n, Some(all.flatMap(_.get).toArray))
    }
  }
}
