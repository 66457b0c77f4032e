package graft

import org.scalatest.funsuite.AnyFunSuite

/** The session contract Bench, Verify and every tool run under, checked as
  * data without building a second session: changing a setting of
  * [[GraftSession]] means changing this list too. */
class GraftSessionSpec extends AnyFunSuite {
  test("GraftSession applies exactly the bench settings, master included") {
    assert(GraftSession.settings(6) === Seq(
      "spark.master" -> "local[6]",
      "spark.sql.shuffle.partitions" -> "6",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
      "spark.sql.join.preferSortMergeJoin" -> "false",
      "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold" -> "64m",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.sql.extensions" -> "graft.plans.GraftExtensions"))
    assert(GraftSession.logLevel === "WARN")
  }
}
