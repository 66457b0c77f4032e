package graft.perfbench

/** Per-layer metrics of a traced run, computed from its spans.
  *
  * Span names are `<module>.<layer>.<call>`; the modules are the engine's
  * (core, plans, sources, operators) plus `harness`. Times are medians per
  * call in seconds; counts are means per call of the span's inclusive work.
  * A metric whose calls the workload never makes reads 0.
  */
object PerLayer {
  val ScanTypes: Seq[String] = Seq("point", "range", "full", "ordered", "asof", "changes")
  val SqlTypes: Seq[String] = Seq("sql_join", "sql_version")
  val Modules: Seq[String] = Seq("harness", "core", "plans", "sources", "operators")

  /** Every per-layer metric name with its unit, in output order. */
  val names: Seq[(String, String)] =
    Seq("core.txn.flush_s" -> "s", "core.txn.jobs" -> "count", "core.txn.tasks" -> "count",
      "core.txn.publish_s" -> "s", "core.txn.files_written" -> "count",
      "core.txn.bytes_written_per_user_byte" -> "ratio",
      "core.db.checkpoint_s" -> "s", "core.db.checkpoint_bytes_rewritten" -> "bytes",
      "core.db.snapshot_build_s" -> "s", "core.db.visible_segments" -> "count") ++
      ScanTypes.flatMap(t => Seq(s"core.scan.$t.plan_s" -> "s", s"core.scan.$t.exec_s" -> "s",
        s"core.scan.$t.jobs" -> "count", s"core.scan.$t.tasks" -> "count",
        s"core.scan.$t.files_read" -> "count", s"core.scan.$t.bytes_read" -> "bytes",
        s"core.scan.$t.rows_scanned_per_row_returned" -> "ratio",
        s"core.scan.$t.shuffle_bytes" -> "bytes")) ++
      Seq("plans.chunkprune.files_read_ratio" -> "fraction") ++
      SqlTypes.flatMap(t => Seq(s"sources.catalog.$t.plan_s" -> "s",
        s"sources.catalog.$t.exec_s" -> "s", s"sources.catalog.$t.jobs" -> "count",
        s"sources.catalog.$t.files_read" -> "count")) ++
      Seq("operators.agg.fold_sum_s" -> "s", "operators.agg.fold_minmax_s" -> "s",
        "operators.agg.jobs" -> "count", "operators.agg.stages" -> "count",
        "operators.agg.tasks" -> "count",
        "operators.ivf.maintain_s" -> "s", "operators.ivf.maintain_max_s" -> "s",
        "operators.ivf.maintain_jobs" -> "count", "operators.ivf.maintain_bytes_written" -> "bytes",
        "operators.ivf.compactions" -> "count", "operators.ivf.search_s" -> "s",
        "operators.ivf.search_jobs" -> "count", "operators.ivf.pending_generations" -> "count",
        "operators.ivf.retrain_s" -> "s", "operators.ivf.retrain_jobs" -> "count",
        "operators.ivf.drift_ratio" -> "ratio",
        "plans.mvrewrite.plan_s" -> "s", "plans.mvrewrite.exec_s" -> "s",
        "plans.mvrewrite.fired" -> "fraction",
        "engine.jobs_per_op" -> "count", "engine.stages_per_op" -> "count",
        "engine.tasks_per_op" -> "count", "engine.task_busy_share" -> "fraction",
        "engine.gc_share" -> "fraction", "engine.spill_bytes" -> "bytes",
        "engine.shuffle_bytes_per_op" -> "bytes", "engine.unattributed_jobs" -> "count") ++
      Modules.map(m => s"$m.self_s_per_op" -> "s")

  def compute(trace: Trace, gauges: Map[String, Double], ops: Int, windowS: Double,
      cores: Int): Seq[Metric] = {
    val spans = trace.all.filter(_.endNs >= 0)
    val incl = Trace.inclusive(spans)
    val self = Trace.selfSeconds(spans)
    val byName = spans.groupBy(_.name)
    def named(n: String) = byName.getOrElse(n, Nil)
    def med(ss: Seq[Span]) = if (ss.isEmpty) 0.0 else Stats.median(ss.map(_.seconds))
    def meanW(ss: Seq[Span])(f: Work => Long) = Stats.mean(ss.map(s => f(incl(s.id)).toDouble))
    def sumW(ss: Seq[Span])(f: Work => Long) = ss.map(s => f(incl(s.id)).toDouble).sum
    def attr(ss: Seq[Span], k: String) = ss.flatMap(_.attrs.get(k))
    def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0
    val perOp = math.max(ops, 1).toDouble

    val commits = named("core.txn.commit")
    val flushes = named("core.txn.flush")
    val folded = named("core.db.checkpoint").filter(_.attrs.get("folded").exists(_ > 0))
    val folds = named("operators.agg.fold_sum") ++ named("operators.agg.fold_minmax")
    val maint = named("operators.ivf.maintain")
    val search = named("operators.ivf.search")
    val retrain = named("operators.ivf.retrain")
    val mv = named("plans.mvrewrite.query")
    val lookups = ScanTypes.take(2).flatMap(t => named(s"core.scan.$t"))
    // oracle work inside the window is untimed: leave it out of engine totals
    val oracle = named("harness.oracle")
    val total = new Work
    total.add(trace.total)
    oracle.foreach(s => total.add(incl(s.id), sign = -1L))
    val selfByModule = spans.filter(_.name != "harness.oracle").groupBy(s => Trace.module(s.name))
      .map { case (m, ss) => m -> ss.map(s => self(s.id)).sum }

    val v = Map[String, Double](
      "core.txn.flush_s" -> med(flushes),
      "core.txn.jobs" -> meanW(commits)(_.jobs),
      "core.txn.tasks" -> meanW(commits)(_.tasks),
      "core.txn.publish_s" -> med(named("core.txn.publish")),
      "core.txn.files_written" -> Stats.mean(attr(flushes, "files_written")),
      "core.txn.bytes_written_per_user_byte" ->
        ratio(sumW(flushes)(_.outBytes), attr(commits, "user_bytes").sum),
      "core.db.checkpoint_s" -> med(folded),
      "core.db.checkpoint_bytes_rewritten" -> meanW(folded)(_.outBytes),
      "core.db.snapshot_build_s" -> med(named("core.db.snapshot")),
      "core.db.visible_segments" -> gauges.getOrElse("visible_segments", 0.0),
      "plans.chunkprune.files_read_ratio" ->
        ratio(attr(lookups, "files_read").sum, attr(lookups, "files_visible").sum),
      "operators.agg.fold_sum_s" -> med(named("operators.agg.fold_sum")),
      "operators.agg.fold_minmax_s" -> med(named("operators.agg.fold_minmax")),
      "operators.agg.jobs" -> meanW(folds)(_.jobs),
      "operators.agg.stages" -> meanW(folds)(_.stages),
      "operators.agg.tasks" -> meanW(folds)(_.tasks),
      "operators.ivf.maintain_s" -> med(maint),
      "operators.ivf.maintain_max_s" -> (if (maint.isEmpty) 0.0 else maint.map(_.seconds).max),
      "operators.ivf.maintain_jobs" -> meanW(maint)(_.jobs),
      "operators.ivf.maintain_bytes_written" -> meanW(maint)(_.outBytes),
      "operators.ivf.compactions" -> attr(maint, "compacted").sum,
      "operators.ivf.search_s" -> med(search),
      "operators.ivf.search_jobs" -> meanW(search)(_.jobs),
      "operators.ivf.pending_generations" -> Stats.mean(attr(search, "pending_generations")),
      "operators.ivf.retrain_s" -> med(retrain),
      "operators.ivf.retrain_jobs" -> meanW(retrain)(_.jobs),
      "operators.ivf.drift_ratio" -> Stats.mean(attr(retrain, "drift_ratio")),
      "plans.mvrewrite.plan_s" -> med(named("plans.mvrewrite.query.plan")),
      "plans.mvrewrite.exec_s" -> med(named("plans.mvrewrite.query.exec")),
      "plans.mvrewrite.fired" -> Stats.mean(attr(mv, "fired")),
      "engine.jobs_per_op" -> total.jobs / perOp,
      "engine.stages_per_op" -> total.stages / perOp,
      "engine.tasks_per_op" -> total.tasks / perOp,
      "engine.task_busy_share" -> ratio(total.runMs / 1000.0, windowS * cores),
      "engine.gc_share" -> ratio(total.gcMs.toDouble, total.runMs.toDouble),
      "engine.spill_bytes" -> total.spill.toDouble,
      "engine.shuffle_bytes_per_op" -> total.shuffleWrite / perOp,
      "engine.unattributed_jobs" -> trace.unattributed.jobs.toDouble) ++
      ScanTypes.flatMap { t =>
        val q = named(s"core.scan.$t")
        Seq(s"core.scan.$t.plan_s" -> med(named(s"core.scan.$t.plan")),
          s"core.scan.$t.exec_s" -> med(named(s"core.scan.$t.exec")),
          s"core.scan.$t.jobs" -> meanW(q)(_.jobs),
          s"core.scan.$t.tasks" -> meanW(q)(_.tasks),
          s"core.scan.$t.files_read" -> Stats.mean(attr(q, "files_read")),
          s"core.scan.$t.bytes_read" -> meanW(q)(_.inBytes),
          s"core.scan.$t.rows_scanned_per_row_returned" ->
            ratio(sumW(q)(_.inRecords), attr(q, "rows_returned").sum),
          s"core.scan.$t.shuffle_bytes" -> meanW(q)(_.shuffleWrite))
      } ++
      SqlTypes.flatMap { t =>
        val q = named(s"sources.catalog.$t")
        Seq(s"sources.catalog.$t.plan_s" -> med(named(s"sources.catalog.$t.plan")),
          s"sources.catalog.$t.exec_s" -> med(named(s"sources.catalog.$t.exec")),
          s"sources.catalog.$t.jobs" -> meanW(q)(_.jobs),
          s"sources.catalog.$t.files_read" -> Stats.mean(attr(q, "files_read")))
      } ++
      Modules.map(m => s"$m.self_s_per_op" -> selfByModule.getOrElse(m, 0.0) / perOp)
    names.map { case (n, unit) => Metric(n, v(n), unit) }
  }

  /** Human-readable self time per span name, per operation. */
  def selfTable(spans: Seq[Span], ops: Int): String = {
    val self = Trace.selfSeconds(spans.filter(_.endNs >= 0))
    val rows = spans.filter(_.endNs >= 0).groupBy(_.name).toSeq.map { case (n, ss) =>
      (n, ss.size, ss.map(s => self(s.id)).sum, ss.map(_.work.jobs).sum)
    }.sortBy(-_._3)
    val perOp = math.max(ops, 1).toDouble
    ("self time per operation (s), calls, jobs started in the span itself:" +:
      rows.map { case (n, c, s, j) => f"  $n%-36s ${s / perOp}%9.4f  calls=$c%-5d jobs=$j" })
      .mkString("\n")
  }
}
