package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark entry point (started by perfbench/run.py).
  *
  * One run: refuse tuning overrides, start a `local[nproc]` session with the
  * engine's default settings, generate the workload's inputs from the seed,
  * set the program up three times (setup_s is the median), run the
  * closed-loop window for `--seconds`, measure retained heap, check every
  * output against its oracle, and print the run record and the result.
  */
object Main {
  final case class Args(workload: String = "", seed: Long = 1L, seconds: Int = 10,
      trace: Boolean = false, smoke: Boolean = false, work: Path = Paths.get(".bench_build/work/x"),
      traces: Path = Paths.get(".bench_build/traces"), sourceHash: String = "unknown",
      gitTree: String = "none")

  /** Set-up repetitions per run; setup_s is their median. */
  val SetupRuns = 3

  def parse(argv: List[String], a: Args = Args()): Args = argv match {
    case Nil => a
    case "--workload" :: v :: t => parse(t, a.copy(workload = v))
    case "--seed" :: v :: t => parse(t, a.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, a.copy(seconds = v.toInt))
    case "--trace" :: v :: t => parse(t, a.copy(trace = v == "1"))
    case "--smoke" :: t => parse(t, a.copy(smoke = true))
    case "--work" :: v :: t => parse(t, a.copy(work = Paths.get(v)))
    case "--traces" :: v :: t => parse(t, a.copy(traces = Paths.get(v)))
    case "--source-hash" :: v :: t => parse(t, a.copy(sourceHash = v))
    case "--git-tree" :: v :: t => parse(t, a.copy(gitTree = v))
    case x :: _ => throw new IllegalArgumentException(s"unknown argument $x")
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toList)
    EnvGuard.violations(sys.env, sys.props.toMap) match {
      case Nil => ()
      case bad =>
        System.err.println("[perfbench] refusing to run: tuning overrides are set " +
          s"(${bad.mkString(", ")}); every number must measure the default program")
        sys.exit(2)
    }
    val names = if (a.smoke) Workloads.names else Seq(a.workload)
    require(names.forall(Workloads.names.contains),
      s"unknown workload ${a.workload}; known: ${Workloads.names.mkString(", ")}")
    val spark = session(a.work)
    val ok = try names.forall { n =>
      val r = Runner.run(spark, n, a.copy(workload = n))
      r.lines.foreach(println)
      r.correct
    } finally spark.stop()
    if (!ok) sys.exit(1)
  }

  val cores: Int = Runtime.getRuntime.availableProcessors()

  /** The session every workload runs in: the engine's benchmark settings
    * (the graft.Bench session), with nothing tuned for this harness. */
  def session(work: Path): SparkSession = {
    Files.createDirectories(work)
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** The tuning overrides a benchmark run refuses: each would make a number
  * measure something other than the default program. */
object EnvGuard {
  def violations(env: Map[String, String], props: Map[String, String]): Seq[String] =
    env.keys.filter(k => k.startsWith("GRAFT_FASTPLAN") || k == "SPARK_GRAFT_BENCH_CONF").toSeq.sorted ++
      props.keys.filter(k => k.startsWith("graft.fastplan.") || k == "graft.index.delta.maxpending")
        .toSeq.sorted.map("-D" + _)
}

/** Facts about the run that every result carries. */
object RunContext {
  /** (steal ticks, all ticks) of the host, from the aggregate cpu line. */
  def cpuTicks(): (Long, Long) = {
    val f = Paths.get("/proc/stat")
    if (!Files.isReadable(f)) (0L, 0L)
    else {
      val line = Files.readAllLines(f).get(0).trim.split("\\s+").drop(1).map(_.toLong)
      (if (line.length > 7) line(7) else 0L, line.take(8).sum)
    }
  }

  def stealShare(before: (Long, Long), after: (Long, Long)): Double = {
    val all = after._2 - before._2
    if (all <= 0) 0.0 else (after._1 - before._1).toDouble / all
  }
}
