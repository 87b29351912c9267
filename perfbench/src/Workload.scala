package perfbench

import org.apache.spark.sql.SparkSession

import scala.util.control.NonFatal

/** A result check failed: the engine's answer differs from the reference. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

object Par {
  /** Runs the tasks on one driver thread each (Spark runs their jobs
    * concurrently) and returns their results in order; the first failure
    * is rethrown after all have ended. */
  def all[T](tasks: Seq[() => T]): Seq[T] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.max(1, tasks.length))
    try {
      val fs = tasks.map(t => pool.submit(new java.util.concurrent.Callable[T] { def call(): T = t() }))
      val rs = fs.map(f => scala.util.Try(f.get()))
      rs.map {
        case scala.util.Success(v) => v
        case scala.util.Failure(e: java.util.concurrent.ExecutionException) => throw e.getCause
        case scala.util.Failure(e) => throw e
      }
    } finally pool.shutdown()
  }
}

object Check {
  /** Runs ops outside the timed loop (set-up warm-up), concurrently, one
    * driver thread each, untraced. They are not timed, but each counts as
    * attempted, and a throw or a wrong answer as failed. */
  def warmAll(ops: Seq[Op], spark: SparkSession, checks: LoopResult): Unit = {
    val off = new Tracer(false, spark.sparkContext)
    Par.all(ops.map { o => () =>
      val r = try Right(o.check(o.exec(off))) catch { case NonFatal(e) => Left(e) }
      checks.synchronized {
        checks.attempted += 1
        r match { case Left(e) => checks.fail(-1, s"set-up ${o.kind}", e); case _ => }
      }
    })
  }

  def equal[T](what: String, expected: T, got: T): Unit =
    if (expected != got) throw new CheckFailed(s"$what: expected $expected, got $got")

  /** Compares two bags of encoded rows; reports sizes and a first difference. */
  def sameBag(what: String, expected: Array[Long], got: Array[Long]): Unit = {
    val e = expected.sorted; val g = got.sorted
    if (!java.util.Arrays.equals(e, g)) {
      val extra = g.diff(e).take(3).mkString(",")
      val missing = e.diff(g).take(3).mkString(",")
      throw new CheckFailed(s"$what: expected ${e.length} rows, got ${g.length} " +
        s"(unexpected: $extra; missing: $missing)")
    }
  }
}

/** One operation of the closed loop. `exec` is the engine's work and is the
  * only part timed; `check` compares its result with the reference and
  * returns the number of useful items the op produced. */
abstract class Op(val kind: String, val span: String) {
  type R
  def exec(t: Tracer): R
  def check(r: R): Long
  /** Extra traced-only measurements (own spans, outside the timed part). */
  def traced(t: Tracer): Unit = ()
}

object Op {
  def apply[A](kind: String, span: String)(run: Tracer => A)(verify: A => Long): Op =
    new Op(kind, span) {
      type R = A
      def exec(t: Tracer): A = run(t)
      def check(r: A): Long = verify(r)
    }
}

/** A benchmark workload: seeded inputs, a set-up, and an endless op schedule. */
trait Workload {
  /** One set-up round into `dir`: generate the inputs and, if `warm`, run
    * each op shape once, counting those checks in `checks`. A later round
    * replaces the state of an earlier one. */
  def setup(dir: java.nio.file.Path, t: Tracer, checks: LoopResult, warm: Boolean): Unit
  /** Records the current state; the returned function puts it back, so
    * that two passes over the same ops start from the same state. */
  def savePoint(): () => Unit
  /** The i-th op of the closed loop (deterministic in seed and i). */
  def op(i: Int): Op
  /** Ops per cycle of the op schedule; the loop runs whole cycles. */
  def cycleLength: Int
  /** The workload's useful-output rate, in items per second. */
  def itemsPerS(loop: LoopResult): Double
  /** Workload-specific per-layer metrics, after the traced loop. */
  def layerMetrics(t: Tracer, loop: LoopResult): Seq[(String, Double)]
  /** Op kinds whose latencies are reported separately. */
  def kinds: Seq[String]
}

object Workload {
  val names: Seq[String] = Seq("geo_query", "tile_table", "analytics_suite")

  def apply(name: String, spark: SparkSession, seed: Long, cores: Int): Workload = name match {
    case "geo_query" => new GeoQuery(spark, seed, cores)
    case "tile_table" => new TileTable(spark, seed, cores)
    case "analytics_suite" => new Analytics(spark, seed, cores)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}
