package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Dimension, MatDb, MatSchema, TestSpark, ValueCol}

/** Job budgets of the maintenance folds of a tiny batch. The folds are
  * bound by per-job latency, not by data, so each budget counts the Spark
  * jobs one fold starts ([[TestSpark.jobsOf]]), and every case also checks
  * the folded answer. Batches are RDD-built frames, the shape a streaming
  * caller hands in. */
class FoldJobsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dec = DecimalType(18, 2)

  private def dir(p: String): String = Files.createTempDirectory(p).toString

  private val rowSchema = StructType(Seq(StructField("k", LongType, nullable = false),
    StructField("g", LongType), StructField("v", dec)))

  private def rows(rs: Seq[(Long, Long, Long)]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rs.map { case (k, g, v) =>
      Row(k, g, java.math.BigDecimal.valueOf(v, 2))
    }, 1), rowSchema)

  private def keys(ks: Seq[Long]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(ks.map(Row(_)), 1),
      StructType(Seq(StructField("k", LongType, nullable = false))))

  private def view(prefix: String, values: String*): MatDb =
    MatDb.create(spark, MatSchema(Seq(Dimension("g", 16)), values.map {
      case "cnt" => ValueCol("cnt", LongType)
      case n     => ValueCol(n, dec)
    }), dir(prefix), "manifest")

  /** A base of 200 rows (k, g = k % 20, v = k) committed as txn 1, with
    * `views` folded through it, then txn 2 from `change`; returns a fresh
    * handle on the base, so no fold of txn 2 has run on it yet. */
  private def fixture(views: Seq[MatDb])(change: graft.core.Transaction => Unit): MatDb = {
    val base = MatDb.create(spark, MatSchema(Seq(Dimension("k", 64)),
      Seq(ValueCol("g", LongType), ValueCol("v", dec))), dir("graft-foldjobs-base"), "manifest")
    val t1 = base.newTransaction()
    t1.addRows(rows((0L until 200L).map(k => (k, k % 20, k))))
    t1.commit()
    views.foreach(IncrementalAgg.maintainAbsoluteMulti(base, _, 0L, 1L, "g"))
    val t2 = base.newTransaction()
    change(t2)
    t2.commit()
    MatDb.open(spark, base.root.toString)
  }

  /** Interior value updates, two inserts into an existing group, one
    * delete: no group's extremum retires. */
  private def interior(t: graft.core.Transaction): Unit = {
    t.addRows(rows(Seq((41L, 1L, 4150L), (42L, 2L, 4250L), (43L, 3L, 4350L),
      (300L, 5L, 77L), (301L, 5L, 78L))))
    t.deleteRows(keys(Seq(66L)))
  }

  private def assertMatches(base: MatDb, v: MatDb): Unit = {
    val aggs = v.schema.valueNames.map {
      case "cnt" => count(lit(1)).as("cnt")
      case n if n.startsWith("sum_") => sum(col("v")).cast(dec).as(n)
      case n if n.startsWith("min_") => min(col("v")).as(n)
      case n => max(col("v")).as(n)
    }
    val want = base.asOf(2L).groupBy("g").agg(aggs.head, aggs.tail: _*).collect().toSet
    assert(v.snapshot().collect().toSet === want)
  }

  test("a tiny aligned sum fold runs at most 4 jobs") {
    val sums = view("graft-foldjobs-sum", "sum_v", "cnt")
    val base = fixture(Seq(sums))(interior)
    val (_, jobs) = TestSpark.jobsOf(IncrementalAgg.maintainAbsoluteMulti(base, sums, 1L, 2L, "g"))
    info(s"sum fold jobs: $jobs")
    assert(jobs <= 4)
    assertMatches(base, sums)
  }

  test("a min/max fold with one dirty group runs at most 5 jobs") {
    val mm = view("graft-foldjobs-mm", "min_v", "max_v", "cnt")
    // k = 199 holds group 19's maximum: lowering it retires the extremum
    val base = fixture(Seq(mm)) { t =>
      interior(t)
      t.addRows(rows(Seq((199L, 19L, 1L))))
    }
    val (_, jobs) = TestSpark.jobsOf(IncrementalAgg.maintainAbsoluteMulti(base, mm, 1L, 2L, "g"))
    info(s"min/max fold jobs (one dirty group): $jobs")
    assert(jobs <= 5)
    assertMatches(base, mm)
  }

  test("the second view folded for the same batch runs no delta job") {
    val first = view("graft-foldjobs-a", "sum_v", "cnt")
    val second = view("graft-foldjobs-b", "sum_v", "cnt")
    val base = fixture(Seq(first, second))(interior)
    val (_, a) = TestSpark.jobsOf(IncrementalAgg.maintainAbsoluteMulti(base, first, 1L, 2L, "g"))
    val (_, b) = TestSpark.jobsOf(IncrementalAgg.maintainAbsoluteMulti(base, second, 1L, 2L, "g"))
    info(s"first view: $a jobs, second view of the same batch: $b jobs")
    // the second fold reads its view rows and writes: nothing else
    assert(b < a)
    assert(b <= 2)
    assertMatches(base, first)
    assertMatches(base, second)
  }

  test("a fold whose gate is false keeps the distributed plan and its job count") {
    val mm = view("graft-foldjobs-gate", "min_v", "max_v", "cnt")
    val base = fixture(Seq(mm)) { t =>
      interior(t)
      t.addRows(rows(Seq((199L, 19L, 1L))))
    }
    // an RDD-built delta has no size estimate: the gate reads it as not small
    val d = base.changesBetween(1L, 2L, includeOld = true)
    val opaque = spark.createDataFrame(d.rdd, d.schema)
    val (_, jobs) = TestSpark.jobsOf(
      IncrementalAgg.maintainAbsoluteMulti(base, mm, 1L, 2L, "g", Some(opaque)))
    info(s"distributed min/max fold jobs: $jobs")
    assert(jobs === DistributedFoldJobs)
    assertMatches(base, mm)
  }

  test("an IVF maintain fold of an RDD-built batch runs at most 2 jobs") {
    val embSchema = StructType(Seq(StructField("id", LongType, nullable = false),
      StructField("vec", ArrayType(DoubleType, containsNull = false), nullable = false)))
    val rnd = new scala.util.Random(7)
    def vec(): Seq[Double] = Seq.fill(8)(rnd.nextGaussian())
    val corpusRows = (0L until 120L).map(i => i -> vec())
    def emb(rs: Seq[(Long, Seq[Double])]): DataFrame =
      spark.createDataFrame(spark.sparkContext.parallelize(
        rs.map { case (i, v) => Row(i, v) }, 1), embSchema)
    val corpus = emb(corpusRows)
    val centroids = IvfIndex.train(corpus, "id", "vec", k = 4, iters = 3).map(_.toSeq).toSeq
    val path = dir("graft-foldjobs-ivf")
    IvfIndex.writeIndex(corpus, "id", "vec", centroids, path)
    val upserts = (0L until 10L).map(i => i -> vec()) ++ (500L until 505L).map(i => i -> vec())
    val deleted = Seq(20L, 21L, 22L)
    val (_, jobs) = TestSpark.jobsOf(IvfIndex.maintainIndex(spark, path, "id",
      emb(upserts), keys(deleted).withColumnRenamed("k", "id"), Some(centroids)))
    info(s"IVF maintain jobs: $jobs")
    assert(jobs <= 2)
    // the resolved layout holds exactly the post-fold ids, each once
    val live = (corpusRows.map(_._1).toSet -- deleted) ++ upserts.map(_._1)
    val ids = IvfIndex.readLayout(spark, s"$path/corpus", "id").select("id")
      .collect().map(_.getLong(0))
    assert(ids.sorted.toSeq === live.toSeq.sorted)
    assert(IvfIndex.indexStats(path).last.phase === "maintain")
  }

  /** Jobs of the gate-false min/max fold above before tiny folds ran at
    * driver scale: the distributed fold is unchanged above the gate. */
  private val DistributedFoldJobs = 23
}
