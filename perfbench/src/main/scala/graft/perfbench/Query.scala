package graft.perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

/** Runs one read query the way a user does, timed in two spans: `plan`
  * (building the DataFrame through physical planning) and `exec` (running
  * the plan and reading every row it returns). */
object Query {
  final case class Out(digest: Digest, sorted: Boolean, df: DataFrame)

  def run(ctx: Ctx, name: String, orderedKeys: Int = 0, observe: DataFrame => Unit = _ => ())(
      build: => DataFrame): Out =
    ctx.span(name) {
      val df = ctx.span(s"$name.plan") { val d = build; d.queryExecution.executedPlan; d }
      val (digest, sorted) = ctx.span(s"$name.exec")(RowHash.ordered(df, orderedKeys))
      observe(df)
      if (ctx.trace.enabled) {
        ctx.attr("files_read", PlanFiles.read(df.queryExecution.executedPlan).toDouble)
        ctx.attr("rows_returned", digest.count.toDouble)
      }
      Out(digest, sorted, df)
    }
}

/** Data files the executed plan read, after partition pruning. */
object PlanFiles extends AdaptiveSparkPlanHelper {
  def read(plan: SparkPlan): Long = collectWithSubqueries(plan) {
    case f: FileSourceScanExec => f.metrics.get("numFiles").map(_.value).getOrElse(0L)
    case b: BatchScanExec =>
      b.inputPartitions.collect { case p: FilePartition => p.files.length.toLong }.sum
  }.sum

  /** True when every file scan in `plan` reads under a path containing
    * `marker` (the materialized-view rewrite check). */
  def scansOnly(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, marker: String): Boolean = {
    val roots = plan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.map(_.toString)
          case _ => Seq("<non-file relation>")
        }
    }.flatten
    roots.nonEmpty && roots.forall(_.contains(marker))
  }

  /** Parquet data files under a directory tree. */
  def count(dir: java.nio.file.Path): Long =
    if (!java.nio.file.Files.isDirectory(dir)) 0L
    else {
      val s = java.nio.file.Files.walk(dir)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.count(p => p.getFileName.toString.endsWith(".parquet")).toLong
      } finally s.close()
    }

  /** Bytes of all regular files under a directory tree. */
  def bytes(dir: java.nio.file.Path): Long =
    if (!java.nio.file.Files.isDirectory(dir)) 0L
    else {
      val s = java.nio.file.Files.walk(dir)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
          .map(java.nio.file.Files.size(_)).sum
      } finally s.close()
    }
}
