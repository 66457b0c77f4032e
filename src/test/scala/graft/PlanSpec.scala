package graft

import java.nio.file.Files
import org.apache.spark.sql.execution.FileSourceScanExec
import org.scalatest.funsuite.AnyFunSuite
import graft.core._

/** Plan-shape guards: the physical plans that make the battery scale must
  * not silently regress (lost broadcast, lost pushdown, hash->sort
  * aggregate fallback). Checks run at sf0.001 — plan shape, not timing. */
class PlanSpec extends AnyFunSuite
    with org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("star join broadcasts its dimension tables") {
    val p = plan("q09_star_join_agg")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("range filter pushes to the parquet scan") {
    val p = plan("q04_range_prune")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate"), p)
  }

  test("pricing summary aggregates with hash aggregation, not sort") {
    val p = plan("q16_pricing_summary")
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("SortAggregate"), p)
  }

  test("cosine top-k broadcasts the query vectors") {
    val p = plan("q50_cosine_topk")
    assert(p.contains("Broadcast"), p)
  }

  test("semi and anti joins plan as semi/anti, not inner+distinct") {
    assert(plan("q12_semi_join").contains("LeftSemi"), plan("q12_semi_join"))
    assert(plan("q13_anti_join").contains("LeftAnti"), plan("q13_anti_join"))
  }

  test("count-min estimate broadcasts the sketch; the fold stays HashAggregate") {
    val p = plan("q104_count_min")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortAggregate"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("bm25 search broadcasts the lexicon slice and corpus stats") {
    val p = plan("q105_bm25")
    assert(p.contains("BroadcastHashJoin"), p)
    // the query-terms filter must reach the postings before any join
    assert(p.contains("term"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("histogram quantile sketch folds and windows without sort aggregation") {
    val p = plan("q107_hist_quantile")
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("SortAggregate"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("kmv sketch aggregates as ObjectHashAggregate (O(k) buffers, no sort)") {
    // judge the FINAL adaptive plan: the initial plan renders the 1-row
    // crossJoins as CartesianProduct before AQE sizes them to broadcasts
    val df = SparkEntry.queries("q113_kmv_distinct")(spark, sf)
    df.collect()
    val p = TestSpark.finalPlan(df)
    assert(p.contains("ObjectHashAggregate"), p)
    assert(!p.contains("SortAggregate"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("hard negatives broadcast the anchors and rank via the O(k) aggregate") {
    val p = plan("q116_hard_negatives")
    assert(p.contains("Broadcast"), p)
    assert(p.contains("ObjectHashAggregate"), p) // topk_scored, not a window sort
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("incremental view maintenance never shuffles the whole view") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{DecimalType, LongType}
    val dec = DecimalType(18, 4)
    val base = MatDb.create(spark,
      MatSchema(Seq(Dimension("k", 100)),
        Seq(ValueCol("g", LongType), ValueCol("v", dec))),
      Files.createTempDirectory("graft-planspec-iagg-b").toString, "manifest")
    val view = MatDb.create(spark,
      MatSchema(Seq(Dimension("g", 100)),
        Seq(ValueCol("sum_v", dec), ValueCol("cnt", LongType))),
      Files.createTempDirectory("graft-planspec-iagg-v").toString, "manifest")
    import spark.implicits._
    val t1 = base.newTransaction()
    t1.addRows(Seq((1L, 1L, "1.0000"), (2L, 2L, "2.0000")).toDF("k", "g", "vs")
      .select(col("k"), col("g"), col("vs").cast(dec).as("v")))
    t1.commit()
    graft.operators.IncrementalAgg.maintain(base, view, 0L, 1L, "g", "v")
    val t2 = base.newTransaction()
    t2.addRows(Seq((1L, 1L, "9.0000")).toDF("k", "g", "vs")
      .select(col("k"), col("g"), col("vs").cast(dec).as("v")))
    t2.commit()
    // plan of the SECOND maintenance (view non-empty): the view side must
    // reach the delta through a broadcast semi-join, never a shuffle of
    // the whole view
    graft.operators.IncrementalAgg.maintain(base, view, 1L, 2L, "g", "v")
    val p = view.snapshot().queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p)
    // the maintain itself is committed; pin its input shape via a dry run
    val delta = base.changesBetween(1L, 2L, includeOld = true)
    assert(delta.queryExecution.executedPlan.toString.contains("LeftSemi"))
  }

  test("delete-aware MVCC resolve keeps the single HashAggregate + tombstone filter") {
    val path = Files.createTempDirectory("graft-planspec-del").toString
    val schema = MatSchema(Seq(Dimension("k", 10)), Seq(ValueCol("v")))
    val db = MatDb.create(spark, schema, path)
    val t = db.newTransaction()
    t.addRowsSeq((0L until 50L).map(i => Seq[Any](i, i)))
    t.commit()
    val d = db.newTransaction()
    d.deleteWhere(org.apache.spark.sql.functions.col("k") < 10)
    d.commit()
    val p = db.snapshot().queryExecution.executedPlan.toString
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("SortAggregate"), p)
    // exactly one dedup aggregate pair (partial+final), not one per segment
    assert(p.contains("max_by"), p)
    assert(p.contains("_del"), p)
  }

  test("cdc changesBetween semi-joins both snapshots down to touched keys") {
    val path = Files.createTempDirectory("graft-planspec-cdc").toString
    val schema = MatSchema(Seq(Dimension("k", 10)), Seq(ValueCol("v")))
    val db = MatDb.create(spark, schema, path)
    val t1 = db.newTransaction()
    t1.addRowsSeq((0L until 50L).map(i => Seq[Any](i, i))); t1.commit()
    val t2 = db.newTransaction()
    t2.addRowsSeq(Seq(Seq[Any](1L, 99L))); t2.commit()
    val p = db.changesBetween(1L, 2L).queryExecution.executedPlan.toString
    assert(p.contains("LeftSemi"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("every segment reads through ONE file scan per Scan.raw call, pruned per chunk") {
    import org.apache.spark.sql.functions.col
    val path = Files.createTempDirectory("graft-planspec-onescan").toString
    val schema = MatSchema(Seq(Dimension("k", 10)), Seq(ValueCol("v")))
    val db = MatDb.create(spark, schema, path)
    (1L to 4L).foreach { i =>
      val t = db.newTransaction()
      t.addRowsSeq((0L until 50L).map(k => Seq[Any](k, k * 10 + i))); t.commit()
    }
    assert(db.committedSegments.size >= 3)
    def scans(df: org.apache.spark.sql.DataFrame): Seq[FileSourceScanExec] = {
      df.collect()
      collect(df.queryExecution.executedPlan) { case s: FileSourceScanExec => s }
    }
    assert(scans(db.snapshot()).size === 1)
    assert(scans(db.asOf(3L)).size === 1)
    val ordered = db.orderedScan()
    assert(scans(ordered).size === 1)
    val plan = TestSpark.finalPlan(ordered)
    assert(plan.linesIterator.count(_.trim.startsWith("+- Exchange")) === 1, plan)
    // changesBetween reads twice: the range's touched keys and their history
    assert(scans(db.changesBetween(1L, 3L)).size === 2)
    // a point lookup prunes to the key's chunk directory in every segment
    val chunkFiles = db.committedSegments.map { s =>
      Storage.segmentPath(Storage.rootPath(path), s).resolve("_ck_k=2").toFile
        .listFiles().count(_.getName.endsWith(".parquet"))
    }.sum
    val point = db.snapshot().where(col("k") === 23L)
    val Seq(scan) = scans(point)
    assert(point.collect().map(_.getLong(1)).toSeq === Seq(234L))
    assert(scan.metrics("numFiles").value === chunkFiles)
  }

  test("core MVCC dedup stays on HashAggregate with partition+data filters") {
    val path = Files.createTempDirectory("graft-planspec").toString
    val schema = MatSchema(Seq(Dimension("k", 10)), Seq(ValueCol("v")))
    val db = MatDb.create(spark, schema, path)
    val t = db.newTransaction()
    t.addRowsSeq((0L until 100L).map(i => Seq[Any](i, i)))
    t.commit()
    val p = db.snapshot().queryExecution.executedPlan.toString
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("SortAggregate"), p)
  }
}
