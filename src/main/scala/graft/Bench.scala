package graft

/** Benchmark main: runs the whole battery against SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line {"metric":…,"queries":{…}}. A small untimed warm-up
  * (scan + shuffle + codegen) runs first so JVM/codegen startup doesn't
  * land in whichever query happens to run first; then THREE full passes in
  * sorted name order, reporting the per-query MINIMUM. Temporally separated
  * samples matter on this host: /proc/stat shows CPU-steal episodes of
  * 90%+ (oversubscribed hypervisor), which inflate whichever queries they
  * overlap by 10-30x — the min measures the engine, not the neighbor. The
  * later passes are also JIT-warm, which is the steady state a long-lived
  * cluster session actually runs in.
  *
  * Each query is materialized via `queryExecution.toRdd.count()` — the
  * query's OWN physical plan, every operator, every row. The earlier
  * `df.count()` harness re-optimized the plan under a count aggregate,
  * which legally deletes row-count-preserving work: q84's entire
  * edit-distance join collapsed to a bare parquet count (0.2 s at every
  * scale factor — a data-independent non-measurement), and window/sort
  * operators were pruned from other queries. Numbers from rounds ≤ 7 are
  * therefore LOWER BOUNDS for the affected queries; cross-round deltas
  * against them are not regressions. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3").toInt
    val spark = GraftSession()
    // warm-up: touch the scan path, a shuffle, and codegen once, untimed
    spark.read.parquet(s"$sfDir/region.parquet")
      .groupBy("r_name").count().collect()
    // iteration aid: SPARK_GRAFT_BENCH_ONLY=q123,q117 times just those
    // queries (prefix match) and SKIPS the artifact write — partial runs
    // must never masquerade as full-battery artifacts
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.exists(n.startsWith)))
    val samples: Seq[Map[String, Double]] = (1 to math.max(1, passes)).map { _ =>
      names.map { name =>
        val t0 = System.nanoTime()
        try {
          SparkEntry.queries(name)(spark, sfDir).queryExecution.toRdd.count()
        } catch { case _: Throwable => -1L }
        val dt = (System.nanoTime() - t0) / 1e9
        // within-query persisted intermediates (q46/q47 shingles) must not
        // outlive their query: population cost is inside dt, release it so
        // it cannot subsidize or crowd out the queries after it
        spark.catalog.clearCache()
        name -> dt
      }.toMap
    }
    val results = names.map(n => n -> samples.map(_(n)).min)
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir"}"""
    println(line)
    // Persist the full per-query map in-repo: round artifacts keep only a
    // truncated stdout tail, which has already cost two rounds their
    // q01–q36 timing history. Every pass's samples are kept alongside the
    // min so steal-noise episodes are visible after the fact.
    if (only.isDefined) { spark.stop(); return } // partial run: no artifact
    try {
      val sfName = new java.io.File(sfDir).getName
      // resolve the bench dir from an explicit root, not the process CWD —
      // a bench launched from elsewhere used to drop its artifact wherever
      // the JVM happened to start (or silently lose it on a read-only CWD)
      val dir = sys.env.get("SPARK_GRAFT_BENCH_DIR")
        .map(java.nio.file.Paths.get(_))
        .orElse(sys.env.get("SPARK_GRAFT_REPO_ROOT")
          .map(java.nio.file.Paths.get(_, "bench")))
        .getOrElse(java.nio.file.Paths.get("bench"))
        .toAbsolutePath
      System.err.println(s"[bench] persisting per-query map under $dir")
      java.nio.file.Files.createDirectories(dir)
      // this run's passes only: minima folded in from earlier artifacts
      // came from other trees, so the result described no single tree
      val tree = scala.util.Try(scala.sys.process.Process(
        Seq("git", "describe", "--always", "--dirty"))
        .!!(scala.sys.process.ProcessLogger(_ => ())).trim)
        .filter(_.nonEmpty).getOrElse("unknown")
      val passesJson = samples.map(p =>
        names.map(n => "\"" + n + "\":" + p(n)).mkString("{", ",", "}"))
        .mkString("[", ",", "]")
      java.nio.file.Files.writeString(dir.resolve(s"bench_$sfName.json"),
        s"""{"summary":$line,"passes":$passesJson,"tree":"$tree"}""" + "\n")
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not persist bench json: $e")
    }
    spark.stop()
  }
}
