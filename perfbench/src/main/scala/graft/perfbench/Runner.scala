package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

final case class Metric(name: String, value: Double, unit: String)

/** An output that differs from its oracle. It fails the run; it is never
  * counted as a failed operation. */
final class OracleMismatch(msg: String) extends RuntimeException(msg)

object Oracle {
  def check(what: String, got: Any, want: Any): Unit =
    if (got != want) throw new OracleMismatch(s"$what: got $got, expected $want")
}

/** What a workload shares with the runner: the session, the seed, the
  * tracer, latency samples by kind, and a clock that can be paused for
  * oracle work inside the window. */
final class Ctx(val spark: SparkSession, val seed: Long, val smoke: Boolean) {
  var trace: Trace = new Trace(spark.sparkContext, enabled = false)
  private var untimedNs = 0L
  val samples: mutable.Map[String, mutable.ArrayBuffer[Double]] = mutable.LinkedHashMap.empty
  /** Values the workload observes once (segments visible, pending generations, ...). */
  val gauges: mutable.Map[String, Double] = mutable.LinkedHashMap.empty

  def span[A](name: String)(f: => A): A = trace.span(name)(f)
  def attr(k: String, v: Double): Unit = trace.attr(k, v)

  /** Run `f`, recording its wall time, less any oracle work inside it, as
    * a `kind` sample. */
  def time[A](kind: String)(f: => A): A = {
    val t = System.nanoTime()
    val u = untimedNs
    val r = f
    record(kind, (System.nanoTime() - t - (untimedNs - u)) / 1e9)
    r
  }

  def record(kind: String, seconds: Double): Unit =
    samples.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += seconds

  def sample(kind: String): Seq[Double] = samples.get(kind).map(_.toSeq).getOrElse(Nil)

  /** Oracle work inside the window: excluded from the measured time. */
  def untimed[A](f: => A): A = {
    val t = System.nanoTime()
    try trace.span("harness.oracle")(f) finally untimedNs += System.nanoTime() - t
  }
  def untimedSeconds: Double = untimedNs / 1e9
}

/** One benchmark workload. The runner calls [[inputs]] once, [[setup]]
  * [[Main.SetupRuns]] times (each into a fresh directory; the last one is
  * used), then [[op]] in a closed loop, then [[verify]]. */
trait Workload {
  /** Generate the inputs from the seed under `dir` (harness work, not timed). */
  def inputs(dir: Path): Unit
  /** Build the program state under `dir` (timed as setup_s). */
  def setup(dir: Path): Unit
  /** Untimed preparation after the last set-up: oracle state, warm-up. */
  def prepare(): Unit = ()
  /** One closed-loop operation; records its own latency samples. */
  def op(): Unit
  /** True once the staged inputs are used up; the window then ends. */
  def exhausted: Boolean = false
  /** False while the window is inside a maintenance period that must be
    * completed before the window may end. */
  def periodComplete: Boolean = true
  /** Drop what the harness itself cached, before retained heap is read. */
  def releaseHarnessMemory(): Unit = ()
  /** Check every output of the run against its oracle. */
  def verify(): Unit
  /** The operation whose latency and rate are the headline metrics. */
  def opKind: String
  /** Workload-specific end-to-end metrics. */
  def details(windowSeconds: Double): Seq[Metric]
}

object Workloads {
  val names: Seq[String] = Seq("ingest_bulk", "read_mix", "maint_fresh")
  def make(name: String, ctx: Ctx): Workload = name match {
    case "ingest_bulk" => new IngestBulk(ctx)
    case "read_mix" => new ReadMix(ctx)
    case "maint_fresh" => new MaintFresh(ctx)
  }
}

object Runner {
  final case class Result(lines: Seq[String], correct: Boolean)

  private def log(s: String): Unit = System.err.println(s"[perfbench] $s")

  def run(spark: SparkSession, name: String, a: Main.Args): Result = {
    val ctx = new Ctx(spark, a.seed, a.smoke)
    val w = Workloads.make(name, ctx)
    val base = a.work.resolve(name)
    val t0 = System.nanoTime()
    w.inputs(base.resolve("inputs"))
    val inputsS = (System.nanoTime() - t0) / 1e9
    val setups = (1 to (if (a.smoke) 1 else Main.SetupRuns)).map { i =>
      val dir = base.resolve(s"setup$i")
      val t = System.nanoTime()
      w.setup(dir)
      val s = (System.nanoTime() - t) / 1e9
      if (i > 1) graft.core.Storage.deleteRecursively(base.resolve(s"setup${i - 1}"))
      log(f"$name set-up $i: $s%.2f s")
      s
    }
    val tPrep = System.nanoTime()
    var mismatch: Option[String] = None
    try w.prepare() catch { case e: OracleMismatch => mismatch = Some(e.getMessage) }
    ctx.samples.clear()
    log(f"$name inputs ${inputsS}%.2f s, preparation ${(System.nanoTime() - tPrep) / 1e9}%.2f s")

    ctx.trace = new Trace(spark.sparkContext, a.trace)
    val steal0 = RunContext.cpuTicks()
    var attempted, failed = 0
    val start = System.nanoTime()
    val untimed0 = ctx.untimedSeconds
    def measured = (System.nanoTime() - start) / 1e9 - (ctx.untimedSeconds - untimed0)
    def more =
      if (a.smoke) attempted < 2
      else !w.exhausted && (measured < a.seconds || !w.periodComplete) && measured < 3 * a.seconds
    while (mismatch.isEmpty && more) {
      attempted += 1
      ctx.trace.newOp()
      try ctx.span("harness.op")(w.op())
      catch {
        case e: OracleMismatch => mismatch = Some(e.getMessage)
        case NonFatal(e) =>
          failed += 1
          log(s"$name op $attempted failed: $e")
      }
    }
    val windowS = measured
    log(f"$name window $windowS%.2f s, $attempted operations")
    val steal = RunContext.stealShare(steal0, RunContext.cpuTicks())
    ctx.trace.stop()
    w.releaseHarnessMemory()
    val heapMb = retainedHeapMb()

    val mismatched = mismatch.orElse(
      try { w.verify(); None } catch { case e: OracleMismatch => Some(e.getMessage) })
    mismatched.foreach(m => log(s"$name ORACLE MISMATCH: $m"))
    val correct = mismatched.isEmpty

    val ops = ctx.sample(w.opKind)
    val succeeded = attempted - failed
    val e2e = Seq(
      Metric("setup_s", Stats.median(setups), "s"),
      Metric("op_p50_s", Stats.median(ops), "s"),
      Metric("ops_per_s", succeeded / windowS, "1/s"),
      Metric("retained_heap_mb", heapMb, "MB"))
    val failedRatio = if (attempted == 0) Double.NaN else Stats.failedRatio(failed, attempted)
    val details = Metric("failed_op_ratio", failedRatio, "fraction") +:
      w.details(windowS)
    val overhead = if (a.trace) ctx.trace.overheadSeconds / windowS else 0.0
    val spansFile = if (a.trace) Some(writeSpans(a, name, ctx.trace.all)) else None
    val perLayer =
      if (!a.trace) Nil
      else PerLayer.compute(ctx.trace, ctx.gauges.toMap, succeeded, windowS, Main.cores) ++
        Seq(Metric("host.steal_share", steal, "fraction"),
          Metric("trace.overhead_share", overhead, "fraction"))
    if (a.trace) log(PerLayer.selfTable(ctx.trace.all, succeeded))

    def metricsJson(ms: Seq[Metric]) = Json.obj(ms.map(m =>
      m.name -> Json.obj(Seq("value" -> Json.num(m.value), "unit" -> Json.str(m.unit)))))
    val record = Json.obj(Seq(
      "workload" -> Json.str(name), "seed" -> a.seed.toString, "seconds" -> a.seconds.toString,
      "trace" -> (if (a.trace) "1" else "0"), "smoke" -> a.smoke.toString,
      "source_hash" -> Json.str(a.sourceHash), "git_tree" -> Json.str(a.gitTree),
      "nproc" -> Main.cores.toString,
      "heap_max_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0),
      "spark_version" -> Json.str(spark.version),
      "java_version" -> Json.str(sys.props.getOrElse("java.version", "?")),
      "host.steal_share" -> Json.num(steal),
      "inputs_s" -> Json.num(inputsS),
      "setup_runs_s" -> setups.map(Json.num).mkString("[", ",", "]"),
      "window_s" -> Json.num(windowS), "attempted" -> attempted.toString,
      "failed" -> failed.toString, "op_samples" -> ops.size.toString,
      "trace.overhead_share" -> Json.num(overhead),
      "spans_file" -> spansFile.map(p => Json.str(p.toString)).getOrElse("null"),
      "end_to_end" -> metricsJson(e2e ++ details)))
    val result = Json.obj(Seq(
      "correct" -> correct.toString, "attempted" -> attempted.toString, "failed" -> failed.toString,
      "metrics" -> metricsJson(if (a.trace) perLayer else e2e)))
    Result(Seq(s"""{"run_record":$record}""", result), correct)
  }

  /** Heap in use after a full collection, in MB: the least of several
    * readings, since Spark's own threads allocate between collection and
    * reading. */
  def retainedHeapMb(): Double = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 5).map { _ =>
      System.gc(); Thread.sleep(100); mx.getHeapMemoryUsage.getUsed
    }.min / 1048576.0
  }

  private def writeSpans(a: Main.Args, name: String, spans: Seq[Span]): Path = {
    Files.createDirectories(a.traces)
    val f = a.traces.resolve(s"$name-seed${a.seed}.spans.jsonl")
    Files.write(f, Trace.toJsonLines(spans).mkString("", "\n", "\n").getBytes("UTF-8"))
    f
  }
}
