package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** Spark task metrics summed over the jobs of one span. */
final class SparkCost {
  var jobs = 0
  var taskS = 0.0
  var shuffleBytes = 0L
  var spillBytes = 0L
  var gcS = 0.0
  /** Worst stage's max / median task time (1 when no stage had ≥ 2 tasks). */
  var skew = 1.0

  def add(o: SparkCost): Unit = {
    jobs += o.jobs; taskS += o.taskS; shuffleBytes += o.shuffleBytes
    spillBytes += o.spillBytes; gcS += o.gcS; skew = math.max(skew, o.skew)
  }
}

final class Span(val id: Int, val parent: Int, val name: String, val startNs: Long) {
  var endNs = 0L
  /** Spark cost of this span and every child span. */
  val cost = new SparkCost
  val attrs = mutable.LinkedHashMap.empty[String, Double]
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Attributes task metrics to the span whose id is the job group of the job
  * that ran them. Events arrive on the listener bus thread. */
final class SpanListener extends SparkListener {
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val stageTasks = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
  private val perGroup = mutable.HashMap.empty[String, SparkCost]

  private def cost(g: String) = perGroup.getOrElseUpdate(g, new SparkCost)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    if (g != null) {
      cost(g).jobs += 1
      e.stageIds.foreach(s => stageGroup(s) = g)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { g =>
      val c = cost(g)
      val m = e.taskMetrics
      if (m != null) {
        c.taskS += m.executorRunTime / 1e3
        c.gcS += m.jvmGCTime / 1e3
        c.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
      stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = e.stageInfo.stageId
    for (g <- stageGroup.get(s); ts <- stageTasks.remove(s) if ts.length >= 2) {
      val sorted = ts.sorted
      val med = math.max(1L, sorted(sorted.length / 2))
      val c = cost(g)
      c.skew = math.max(c.skew, sorted.last.toDouble / med)
    }
  }

  /** Removes and returns what was recorded for `group`. */
  def take(group: String): SparkCost = synchronized {
    perGroup.remove(group).getOrElse(new SparkCost)
  }
}

/** In-memory spans around the benchmark's calls into each engine layer,
  * written out as JSONL (with parent ids) when the run ends. When disabled,
  * `span` only runs its body. */
final class Tracer(var enabled: Boolean, sc: SparkContext) {
  private val origin = System.nanoTime()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  private val listener = new SpanListener
  if (enabled) sc.addSparkListener(listener)

  private def group(s: Span) = s"perfbench-span-${s.id}"

  def span[T](name: String)(body: => T): T = span(name, _ => body)

  def span[T](name: String, body: Span => T): T = {
    if (!enabled) return body(null)
    val s = new Span(spans.length, stack.headOption.map(_.id).getOrElse(-1), name, System.nanoTime())
    spans += s
    stack = s :: stack
    sc.setJobGroup(group(s), name, interruptOnCancel = false)
    try body(s)
    finally {
      s.endNs = System.nanoTime()
      org.apache.spark.perfbench.Bus.drain(sc)
      s.cost.add(listener.take(group(s)))
      stack = stack.tail
      stack.headOption match {
        case Some(p) => p.cost.add(s.cost); sc.setJobGroup(group(p), p.name, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  def all: IndexedSeq[Span] = spans.toIndexedSeq

  def writeJsonl(path: java.nio.file.Path, traceId: String): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.foreach { s =>
      val a = (Seq("jobs" -> s.cost.jobs.toDouble, "task_s" -> s.cost.taskS,
        "shuffle_bytes" -> s.cost.shuffleBytes.toDouble, "spill_bytes" -> s.cost.spillBytes.toDouble,
        "gc_s" -> s.cost.gcS, "skew" -> s.cost.skew) ++ s.attrs)
        .map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString(",")
      w.write(s"""{"trace":"$traceId","id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_s":${(s.startNs - origin) / 1e9},"end_s":${(s.endNs - origin) / 1e9},$a}""")
      w.newLine()
    } finally w.close()
  }
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
}
