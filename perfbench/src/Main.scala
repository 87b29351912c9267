package perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.util.control.NonFatal

/** What one closed-loop pass measured, per op kind: latencies of the ops that
  * returned, items of those that also passed their check, and every failure
  * (a throw or a wrong answer) by error class. */
final class LoopResult {
  val lat = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val itemCount = mutable.HashMap.empty[String, Long]
  val errors = mutable.LinkedHashMap.empty[String, Int]
  var attempted = 0
  var failed = 0
  /** Seconds spent inside the engine (the timed parts of all ops). */
  var engineS = 0.0

  def add(kind: String, seconds: Double): Unit =
    lat.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += seconds
  def addItems(kind: String, items: Long): Unit =
    itemCount(kind) = itemCount.getOrElse(kind, 0L) + items
  def fail(i: Int, kind: String, e: Throwable): Unit = {
    failed += 1
    val cls = e.getClass.getSimpleName
    errors(cls) = errors.getOrElse(cls, 0) + 1
    System.err.println(s"perfbench: op $i ($kind) failed: $e")
  }
  def items(kind: String): Long = itemCount.getOrElse(kind, 0L)
  def seconds(kind: String): Double = lat.get(kind).map(_.sum).getOrElse(0.0)
  def all: Seq[Double] = lat.values.flatten.toSeq
  def ok: Int = all.length
}

/** Benchmark entry point; see perfbench/README.md. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        root: Path, cores: Int)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m.getOrElse("trace", "0") == "1",
      Paths.get(m("root")).toAbsolutePath, m.getOrElse("cores", "4").toInt)
  }

  def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The closed loop: one client sends op i+1 only after op i returned and
    * was checked, until `seconds` of engine time have been spent and the
    * current cycle of the op schedule is complete, so that every run has
    * the same mix of op kinds. */
  def loop(w: Workload, t: Tracer, seconds: Double, first: Int,
           heap: Option[HeapWatch] = None, maxOps: Int = Int.MaxValue): (LoopResult, Int) = {
    val res = new LoopResult
    var i = first
    while ((res.engineS < seconds || (i - first) % w.cycleLength != 0) && i - first < maxOps) {
      val op = w.op(i)
      res.attempted += 1
      t.span(s"op.${op.kind}", (root: Span) => {
        val t0 = System.nanoTime()
        val out = try Right(t.span(op.span)(op.exec(t))) catch { case NonFatal(e) => Left(e) }
        val dt = (System.nanoTime() - t0) / 1e9
        res.engineS += dt
        out match {
          case Right(r) =>
            // a wrong answer still returned: its latency counts, and so does the failure
            res.add(op.kind, dt)
            try res.addItems(op.kind, t.span("bench.check")(op.check(r)))
            catch { case NonFatal(e) => res.fail(i, op.kind, e) }
          case Left(e) => res.fail(i, op.kind, e)
        }
        if (root != null) {
          root.attrs("prepared_cache_entries") = graft.geom.Prepared.cacheSize.toDouble
          root.attrs("prepared_cache_bytes") = graft.geom.Prepared.cacheBytes.toDouble
          if (out.isRight) op.traced(t)
        }
      })
      if (i % 4 == 3) heap.foreach(_.sample())
      i += 1
    }
    (res, i)
  }

  def describe(name: String, xs: Seq[Double]): String =
    if (xs.isEmpty) s"$name: no samples"
    else {
      val tl = Stats.tail(xs)
      f"$name: n=${xs.length} p50=${Stats.median(xs)}%.4fs p${tl.pct}%.1f=${tl.value}%.4fs"
    }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val work = a.root.resolve("work").resolve(s"${a.workload}-seed${a.seed}-${ProcessHandle.current().pid()}")
    Files.createDirectories(work)
    try run(a, work) finally deleteTree(work)
  }

  private def run(a: Args, work: Path): Unit = {
    val host = HostNoise.record()
    println(s"host: $host")
    val t0 = System.nanoTime()
    val spark = session(a.cores, work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(a.trace, spark.sparkContext)
    val kernels = if (a.trace) Kernels.run(a.seed) else Nil
    val w = Workload(a.workload, spark, a.seed, a.cores)
    // set-up rounds; the last one's state is what the loop runs on. Only the
    // first, cold round also runs each op shape once; those checks count
    // towards attempted and failed like the loop's.
    val checks = new LoopResult
    val rounds = if (a.trace) 1 else SetupRounds
    val setupS = (1 to rounds).map { r =>
      val dir = work.resolve(s"round$r")
      val s0 = System.nanoTime()
      w.setup(dir, tracer, checks, warm = r == 1)
      val dt = (System.nanoTime() - s0) / 1e9
      if (r > 1) deleteTree(work.resolve(s"round${r - 1}"))
      dt
    }
    println(f"setup: session=$sessionS%.3fs rounds=${setupS.map(s => f"$s%.3f").mkString(",")} " +
      s"checks=${checks.attempted} failed=${checks.failed}")

    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    var attempted = checks.attempted
    var failed = checks.failed
    def report(loop: LoopResult, label: String): Unit = {
      attempted += loop.attempted; failed += loop.failed
      println(s"$label: attempted=${loop.attempted} failed=${loop.failed} engine=${loop.engineS}s " +
        s"errors=${loop.errors.map { case (k, v) => s"$k:$v" }.mkString(",")}")
      println("  " + describe("all", loop.all))
      w.kinds.foreach(k => println("  " + describe(k, loop.lat.getOrElse(k, Nil).toSeq)))
    }

    if (!a.trace) {
      val heap = new HeapWatch
      val (loop, _) = this.loop(w, tracer, a.seconds, 0, Some(heap))
      heap.stop()
      report(loop, "loop")
      metrics ++= Seq(
        "setup_s" -> (sessionS + Stats.median(setupS), "s"),
        "ops_per_s" -> ((loop.attempted - loop.failed) / loop.engineS, "1/s"),
        "op_p50_s" -> (if (loop.ok > 0) Stats.median(loop.all) else 0.0, "s"),
        "items_per_s" -> (w.itemsPerS(loop), "1/s"),
        "peak_live_heap_mb" -> (heap.peakMb, "MB"))
    } else {
      // one untraced pass of half the seconds warms every op shape; the same
      // ops then run traced, and once more untraced as the baseline for the
      // tracing overhead and the per-kind latencies. Both of those passes
      // start from the state the warm-up pass started from.
      val restore = w.savePoint()
      tracer.enabled = false
      val (warm, _) = loop(w, tracer, a.seconds / 2, 0)
      report(warm, "warm-up loop")
      restore()
      tracer.enabled = true
      val (traced, _) = loop(w, tracer, Double.PositiveInfinity, 0, maxOps = warm.attempted)
      report(traced, "traced loop")
      restore()
      tracer.enabled = false
      val (plain, _) = loop(w, tracer, Double.PositiveInfinity, 0, maxOps = warm.attempted)
      report(plain, "untraced loop")
      val layers = Layers.metrics(tracer, a.cores, plain, traced, w)
      metrics ++= (kernels ++ layers).map { case (k, v) => k -> (v, Layers.unit(k)) }
      tracer.writeJsonl(a.root.resolve("traces").resolve(s"${a.workload}-seed${a.seed}.jsonl"),
        s"${a.workload}-seed${a.seed}")
    }
    spark.stop()
    val body = metrics.map { case (k, (v, u)) => s""""$k":{"value":${Json.num(v)},"unit":"$u"}""" }
      .mkString(",")
    println(s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":{$body}}""")
  }

  val SetupRounds = 3

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.deleteIfExists(f))
      finally s.close()
    }
}
