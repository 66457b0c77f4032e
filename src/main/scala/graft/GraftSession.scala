package graft

import org.apache.spark.sql.SparkSession

/** The one way a graft main opens Spark: Bench, Verify and every tool build
  * their session here, so what the bench times, what Verify checks and
  * what a tool measures is the same engine.
  *
  * Cores are `SPARK_GRAFT_CPUS`, else every core the JVM sees. */
object GraftSession {
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Every setting the session is built with, master included. */
  def settings(cpus: Int): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    // let AQE re-partition CACHED plans too (off by default): the
    // maintenance folds persist O(batch)-row frames whose shuffles
    // otherwise always run at the full spark.sql.shuffle.partitions —
    // with this on, partition counts follow DATA SIZE at every scale
    // (measured −1.0 s on q153/q141/q117 each at sf0.1)
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
    // prefer hash joins when a side fits per-partition (no sort, spill-safe
    // via AQE), and let AQE demote SMJ→SHJ at runtime; both are
    // size-conditioned, so they scale with the data, not the host
    "spark.sql.join.preferSortMergeJoin" -> "false",
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold" -> "64m",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.sql.extensions" -> "graft.plans.GraftExtensions")

  val logLevel = "WARN"

  def apply(): SparkSession = {
    val spark = settings(cpus)
      .foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
