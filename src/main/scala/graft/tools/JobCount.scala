package graft.tools


/** Deterministic per-query cost counters: Spark jobs, stages and tasks
  * submitted while one declared query builds + materializes (the bench's
  * own `queryExecution.toRdd.count()` action). Wall-clock on this host
  * swings ±10-30% between identical runs (steal episodes, JIT warmth);
  * job/stage/task counts do not — they are the noise-free half of a
  * before/after claim about serial driver-bound queries (each job is a
  * fixed scheduling + planning round-trip). Usage:
  *   SPARK_GRAFT_SF_DIR=... runMain graft.tools.JobCount q140,q138
  * Not a gate — a measurement diagnostic (guide §1).
  */
object JobCount {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession()
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val stages = new java.util.concurrent.atomic.AtomicInteger(0)
    val tasks = new java.util.concurrent.atomic.AtomicInteger(0)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
      override def onStageCompleted(
          s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet(); tasks.addAndGet(s.stageInfo.numTasks); ()
      }
    })
    val prefixes = args.headOption.map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)
    val names = graft.SparkEntry.queries.keys.toSeq.sorted
      .filter(n => prefixes.isEmpty || prefixes.exists(n.startsWith))
    names.foreach { name =>
      // settle listener events from the previous query before snapshotting
      Thread.sleep(300) // let listener events from the previous action drain
      val (j0, s0, t0) = (jobs.get(), stages.get(), tasks.get())
      val w0 = System.nanoTime()
      graft.SparkEntry.queries(name)(spark, sfDir).queryExecution.toRdd.count()
      val dt = (System.nanoTime() - w0) / 1e9
      spark.catalog.clearCache()
      Thread.sleep(300) // let listener events from the previous action drain
      println(f"[jobcount] $name%-32s jobs=${jobs.get() - j0}%4d " +
        f"stages=${stages.get() - s0}%4d tasks=${tasks.get() - t0}%6d " +
        f"wall=$dt%6.2f s")
    }
    spark.stop()
  }
}
