package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark work attributed to one span: the jobs it submitted and what their
  * tasks did. */
final class Work {
  var jobs, stages, tasks = 0L
  var runMs, gcMs, inBytes, inRecords, outBytes, shuffleWrite, shuffleRead, spill = 0L

  /** Add `o` (or subtract it, with sign -1). */
  def add(o: Work, sign: Long = 1L): Unit = {
    jobs += sign * o.jobs; stages += sign * o.stages; tasks += sign * o.tasks
    runMs += sign * o.runMs; gcMs += sign * o.gcMs; inBytes += sign * o.inBytes
    inRecords += sign * o.inRecords; outBytes += sign * o.outBytes
    shuffleWrite += sign * o.shuffleWrite; shuffleRead += sign * o.shuffleRead
    spill += sign * o.spill
  }
}

/** One timed call into a layer. Spans of one operation share `op`. */
final class Span(val id: Int, val name: String, val parent: Int, val op: Int) {
  var startNs: Long = -1L
  var endNs: Long = -1L
  val work = new Work
  /** Counts the harness observes at the call site (files read, rows, ...). */
  val attrs: mutable.Map[String, Double] = mutable.LinkedHashMap.empty
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Span recorder and the Spark listener that attributes jobs to spans.
  *
  * The harness wraps each call into an engine layer in [[span]]. While a
  * span is open, the SparkContext local property [[Trace.Prop]] names it;
  * Spark copies local properties into every job the thread submits, so the
  * listener maps each job, its stages and their tasks to the span that was
  * open. A job without the property (one submitted by a pool thread that
  * never saw it) counts as unattributed. Spans stay in memory until the run
  * ends. With tracing off, [[span]] only runs its body.
  */
final class Trace(sc: SparkContext, val enabled: Boolean) {
  import Trace._
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private val byId = new java.util.concurrent.ConcurrentHashMap[Int, Span]
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Span]
  val unattributed = new Work
  val total = new Work
  private val overheadNs = new java.util.concurrent.atomic.AtomicLong
  private var opCounter = 0

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      total.synchronized(total.jobs += 1)
      val s = Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
        .flatMap(v => Option(byId.get(v.toInt)))
      s match {
        case Some(sp) =>
          sp.work.synchronized(sp.work.jobs += 1)
          e.stageIds.foreach(stageSpan.put(_, sp))
        case None => unattributed.synchronized(unattributed.jobs += 1)
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = timed {
      total.synchronized(total.stages += 1)
      val w = Option(stageSpan.get(e.stageInfo.stageId)).map(_.work).getOrElse(unattributed)
      w.synchronized(w.stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      val w = Option(stageSpan.get(e.stageId)).map(_.work).getOrElse(unattributed)
      val m = e.taskMetrics
      Seq(w, total).foreach(x => x.synchronized {
        x.tasks += 1
        if (m != null) {
          x.runMs += m.executorRunTime; x.gcMs += m.jvmGCTime
          x.inBytes += m.inputMetrics.bytesRead; x.inRecords += m.inputMetrics.recordsRead
          x.outBytes += m.outputMetrics.bytesWritten
          x.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          x.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          x.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      })
    }
  }

  private def timed(f: => Unit): Unit = {
    val t = System.nanoTime(); f; overheadNs.addAndGet(System.nanoTime() - t)
  }

  if (enabled) sc.addSparkListener(listener)

  /** Start a new operation: the next root span gets a fresh op id. */
  def newOp(): Unit = opCounter += 1

  def span[A](name: String)(f: => A): A =
    if (!enabled) f
    else {
      val t0 = System.nanoTime()
      val parent = stack.headOption
      val s = new Span(spans.size, name, parent.map(_.id).getOrElse(-1), opCounter)
      spans += s; byId.put(s.id, s); stack.push(s)
      sc.setLocalProperty(Prop, s.id.toString)
      // the span starts after its own bookkeeping, which counts as overhead
      s.startNs = System.nanoTime()
      overheadNs.addAndGet(s.startNs - t0)
      try f
      finally {
        val end = System.nanoTime()
        s.endNs = end
        stack.pop()
        sc.setLocalProperty(Prop, parent.map(_.id.toString).orNull)
        overheadNs.addAndGet(System.nanoTime() - end)
      }
    }

  /** Record a count on the innermost open span. */
  def attr(k: String, v: Double): Unit =
    if (enabled) stack.headOption.foreach(s => s.attrs(k) = s.attrs.getOrElse(k, 0.0) + v)

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = if (enabled) org.apache.spark.PerfbenchAccess.drainListenerBus(sc)

  def stop(): Unit = if (enabled) { drain(); sc.removeSparkListener(listener) }

  def overheadSeconds: Double = overheadNs.get / 1e9

  def all: Seq[Span] = spans.toSeq
}

object Trace {
  val Prop = "perfbench.span"

  /** Self time of every span: its duration minus the union of the
    * intervals its direct children cover. */
  def selfSeconds(spans: Seq[Span]): Map[Int, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val cs = kids.getOrElse(s.id, Nil).map(c => (c.startNs max s.startNs, c.endNs min s.endNs))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L; var curA = Long.MinValue; var curB = Long.MinValue
      cs.foreach { case (a, b) =>
        if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
        else curB = curB max b
      }
      if (curB > curA) covered += curB - curA
      s.id -> ((s.endNs - s.startNs - covered) / 1e9)
    }.toMap
  }

  /** Work of a span and all its descendants. */
  def inclusive(spans: Seq[Span]): Map[Int, Work] = {
    val kids = spans.groupBy(_.parent)
    val memo = mutable.Map.empty[Int, Work]
    def go(s: Span): Work = memo.getOrElseUpdate(s.id, {
      val w = new Work; w.add(s.work); kids.getOrElse(s.id, Nil).foreach(c => w.add(go(c))); w
    })
    spans.foreach(go)
    memo.toMap
  }

  /** The module a span belongs to: the first segment of its name. */
  def module(name: String): String = name.takeWhile(_ != '.')

  /** Spans as JSON lines. */
  def toJsonLines(spans: Seq[Span]): Seq[String] = {
    val self = selfSeconds(spans)
    spans.map { s =>
      val w = s.work
      val attrs = s.attrs.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString(",")
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":${Json.str(s.name)},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_s":${Json.num(self(s.id))},""" +
        s""""jobs":${w.jobs},"stages":${w.stages},"tasks":${w.tasks},"task_ms":${w.runMs},""" +
        s""""gc_ms":${w.gcMs},"input_bytes":${w.inBytes},"output_bytes":${w.outBytes},""" +
        s""""shuffle_write_bytes":${w.shuffleWrite},"spill_bytes":${w.spill},"attrs":{$attrs}}"""
    }
  }
}
