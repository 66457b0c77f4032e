package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Size-gated whole-stage-codegen bypass for TINY plans.
  *
  * Why: every maintenance fold / DML commit plans fresh queries whose
  * literals change per transaction (txn ids, generation numbers, range
  * bounds), so each plan MISSES the generated-code cache and pays Janino
  * compilation for every codegen fragment — a fixed, driver-side,
  * per-plan cost that dwarfs the work when the data is a few hundred
  * rows. Measured on the r17 bench (sf0.1, `local[32]`): the mview
  * maintenance family runs 25–30% faster with whole-stage codegen off
  * (q153 7.0→4.9 s, q141 5.2→3.2 s), and the 8-core/32-core scaling
  * ratios of ≈1 said the same thing — the cost was never the data.
  *
  * Why gated: codegen is exactly right for large inputs, and at 100 TB a
  * fold's delta is not tiny. Callers gate on the PLAN-STATISTICS estimate
  * of their input (no job), so at scale the scope is a no-op and every
  * plan compiles as before. Threshold: [[SmallBytes]], 64 MB.
  *
  * Inside the scope a plan runs as ONE job however many shuffles it has
  * (AQE off: no stage-by-stage submission), which is what the tiny folds
  * build on. They go further than planning, though: the view folds
  * ([[graft.operators.IncrementalAgg]]) and the index folds
  * ([[graft.operators.IvfIndex]]) collect their O(batch) delta once, and
  * every set the driver then knows reaches the executors as a literal
  * (`isin`, a literal map), never as a broadcast — in Spark 4.1 a
  * broadcast is one more job, even of a local relation. A Project or
  * Filter over a local relation is evaluated by the optimizer on the
  * driver and costs no job at all.
  *
  * Concurrency: the conf is session-global and grouped maintenance folds
  * run on a driver pool ([[graft.streaming.Streams]] MaintPool), so the
  * scope REFCOUNTS per session — the first entry saves and flips the
  * conf, the last exit restores it. A naive save/restore pair would race
  * two overlapping folds into "restoring" the flipped value.
  */
object FastPlan {
  /** Plans estimated at or below this are "tiny" (bytes). */
  val SmallBytes: Long = 64L << 20

  /** Planning-only size probe — optimizer statistics, never a job. */
  def isSmall(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.stats.sizeInBytes <= SmallBytes

  /** Metadata-only size probe for an on-disk table: `bytes` is a
    * driver-side listing total (e.g. [[MatDb.visibleBytes]]), so the gate
    * skips building + optimizing a whole resolve plan just to read its
    * statistics — per maintenance fold that plan construction was pure
    * driver latency. Negative (= unknown) is NOT small: codegen stays on,
    * the safe direction. Compressed parquet bytes under-estimate logical
    * size, but both sit orders of magnitude below the threshold exactly
    * when the fold is actually tiny — and a 100 TB base clears either
    * measure. */
  def isSmallBytes(bytes: Long): Boolean =
    bytes >= 0L && bytes <= SmallBytes

  /** [[isSmallBytes]] over a directory tree's file lengths — the gate for
    * plain parquet layouts (index corpora), where the alternative was a
    * second relation resolution (file listing + footer schema read) just
    * to ask the optimizer for a size it derives from those same lengths. */
  def isSmallDir(path: java.nio.file.Path): Boolean = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(walk).sum
      else f.length()
    java.nio.file.Files.isDirectory(path) && isSmallBytes(walk(path.toFile))
  }

  private final class St { var depth = 0; var saved: Seq[(String, String)] = Nil }
  private val states = new java.util.WeakHashMap[SparkSession, St]
  // AQE rides along: each adaptive shuffle stage is a separate job
  // submission + re-optimization round-trip — pure fixed latency on a
  // plan this size (its coalescing decision is always "1 partition" here,
  // which non-adaptive execution reaches anyway through the scope's tiny
  // inputs), while at scale (scope inactive) AQE keeps coalescing and
  // skew-splitting exactly as before.
  private val Flags = Seq("spark.sql.codegen.wholeStage",
    "spark.sql.adaptive.enabled")

  /** Shuffle partitions for exchanges planned inside the scope. With AQE
    * off in the scope, every exchange materializes exactly
    * `spark.sql.shuffle.partitions` tasks; at the session's core-count
    * setting a tiny fold's plan ran 100-340 ~1 ms tasks (MaintProfile)
    * whose scheduling round-trips were most of its wall-clock.
    * Aggregation/join results are partition-count invariant, and the
    * segment writer's own repartition(1)+sort fixes the written layout, so
    * only latency changes. Out of scope (large inputs) the session value
    * applies untouched. */
  private val ScopedPartitions = "4"

  /** Run `f` with whole-stage codegen and AQE off (when `small`; identity
    * otherwise), restoring the session confs when the outermost scope
    * exits. Queries PLANNED inside the scope are affected; running jobs
    * are not. */
  def scoped[A](spark: SparkSession, small: Boolean)(f: => A): A = {
    if (!small) return f
    states.synchronized {
      val st = { val s = states.get(spark)
        if (s != null) s else { val n = new St; states.put(spark, n); n } }
      if (st.depth == 0) {
        val pk = "spark.sql.shuffle.partitions"
        st.saved = Flags.map(k => k -> spark.conf.get(k, "true")) :+
          (pk -> spark.conf.get(pk))
        Flags.foreach(spark.conf.set(_, "false"))
        spark.conf.set(pk, ScopedPartitions)
      }
      st.depth += 1
    }
    try f finally states.synchronized {
      val st = states.get(spark)
      st.depth -= 1
      if (st.depth == 0) st.saved.foreach { case (k, v) => spark.conf.set(k, v) }
    }
  }
}
