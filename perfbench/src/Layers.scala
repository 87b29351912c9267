package perfbench

/** The per-layer metrics of a traced run. Every name is printed on every
  * workload; a layer the workload leaves idle reads 0. */
object Layers {

  private val spanStats = Seq("busy_s" -> "s", "jobs" -> "count", "task_s" -> "s",
    "shuffle_bytes" -> "bytes", "skew" -> "ratio", "core_idle_frac" -> "ratio")

  /** (name, unit) of every per-layer metric, in print order. */
  val all: Seq[(String, String)] =
    Kernels.names ++
    Seq("cell.cover_rows" -> "count",
      "geom.prepared_cache_entries" -> "count", "geom.prepared_cache_bytes" -> "bytes") ++
    Seq("join.pip", "join.pip_wide", "join.knn", "sql.tile").flatMap(n => spanStats.map { case (s, u) => s"$n.$s" -> u }) ++
    Seq("join.pip.refine_ratio" -> "ratio", "join.pip_wide.refine_ratio" -> "ratio",
      "sql.plan_s" -> "s") ++
    Seq("build", "append", "compact", "read").flatMap(n =>
      Seq("busy_s" -> "s", "jobs" -> "count", "task_s" -> "s", "core_idle_frac" -> "ratio")
        .map { case (s, u) => s"tile.$n.$s" -> u }) ++
    Seq("tile.files_per_bucket_max" -> "count", "tile.files_per_bucket_mean" -> "count",
      "tile.snapshots" -> "count", "tile.bytes_written_per_append" -> "bytes",
      "tile.stored_bytes_per_image" -> "bytes", "tile.images_per_s" -> "1/s") ++
    Analytics.Spans.flatMap(n => Seq("busy_s" -> "s", "jobs" -> "count", "task_s" -> "s",
      "shuffle_bytes" -> "bytes").map { case (s, u) => s"$n.$s" -> u }) ++
    Seq("pip", "pip_wide", "knn", "tile", "append", "read", "compact").flatMap(k =>
      Seq(s"op.$k.p50_s" -> "s", s"op.$k.max_s" -> "s")) ++
    Analytics.Kinds.map(k => s"op.$k.p50_s" -> "s") ++
    Seq("loop.core_idle_frac" -> "ratio", "loop.gc_s" -> "s", "loop.spill_bytes" -> "bytes",
      "trace.overhead_op_p50_s" -> "s", "trace.overhead_frac" -> "ratio")

  private val units = all.toMap
  def unit(name: String): String = units.getOrElse(name, "count")

  /** Per-op means of a span name's cost; skew is the median over its spans. */
  private def spanMetrics(name: String, spans: Seq[Span], cores: Int): Seq[(String, Double)] = {
    val ss = spans.filter(_.name == name)
    if (ss.isEmpty) Nil
    else {
      val n = ss.length.toDouble
      val wall = ss.map(_.wallS).sum
      val task = ss.map(_.cost.taskS).sum
      Seq(s"$name.busy_s" -> wall / n, s"$name.jobs" -> ss.map(_.cost.jobs).sum / n,
        s"$name.task_s" -> task / n, s"$name.shuffle_bytes" -> ss.map(_.cost.shuffleBytes.toDouble).sum / n,
        s"$name.skew" -> Stats.median(ss.map(_.cost.skew)),
        s"$name.core_idle_frac" -> (if (wall > 0) 1 - task / (wall * cores) else 0.0))
    }
  }

  def metrics(t: Tracer, cores: Int, plain: LoopResult, traced: LoopResult,
              w: Workload): Seq[(String, Double)] = {
    // the traced loop's spans, and the build; not the set-up's warm-up ops
    val recorded = t.all
    def inLoop(s: Span): Boolean =
      s.name.startsWith("op.") || s.parent >= 0 && inLoop(recorded(s.parent))
    val spans = recorded.filter(s => s.name == "tile.build" || inLoop(s))
    val ops = spans.filter(_.name.startsWith("op."))
    val opWall = ops.map(_.wallS).sum
    val opTask = ops.map(_.cost.taskS).sum
    val pPlain = if (plain.ok > 0) Stats.median(plain.all) else 0.0
    val pTraced = if (traced.ok > 0) Stats.median(traced.all) else 0.0
    val got = Seq(
      "geom.prepared_cache_entries" -> Stats.mean(ops.flatMap(_.attrs.get("prepared_cache_entries"))),
      "geom.prepared_cache_bytes" -> Stats.mean(ops.flatMap(_.attrs.get("prepared_cache_bytes"))),
      "sql.plan_s" -> Stats.mean(spans.filter(_.name == "sql.plan").map(_.wallS))) ++
      Seq("join.pip", "join.pip_wide", "join.knn", "sql.tile",
        "tile.build", "tile.append", "tile.compact", "tile.read").flatMap(spanMetrics(_, spans, cores)) ++
      Analytics.Spans.flatMap(spanMetrics(_, spans, cores)) ++
      plain.lat.toSeq.flatMap { case (k, xs) =>
        Seq(s"op.$k.p50_s" -> Stats.median(xs.toSeq), s"op.$k.max_s" -> xs.max) } ++
      Seq("loop.core_idle_frac" -> (if (opWall > 0) 1 - opTask / (opWall * cores) else 0.0),
        "loop.gc_s" -> ops.map(_.cost.gcS).sum,
        "loop.spill_bytes" -> ops.map(_.cost.spillBytes.toDouble).sum,
        "trace.overhead_op_p50_s" -> (pTraced - pPlain),
        "trace.overhead_frac" -> (if (pPlain > 0) (pTraced - pPlain) / pPlain else 0.0)) ++
      w.layerMetrics(t, traced)
    val m = got.toMap
    all.filterNot(n => Kernels.names.exists(_._1 == n._1)).map { case (n, _) => n -> m.getOrElse(n, 0.0) }
  }
}
