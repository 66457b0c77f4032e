package graft.perfbench

import java.nio.file.Path

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{Dimension, MatDb, MatSchema, ValueCol}
import graft.operators.{IncrementalAgg, IvfIndex}

/** `maint_fresh`: the maintenance tail. A base table (id -> grp, v), two
  * maintained views over it (sum/cnt, which maintains itself from the
  * delta, and min/max/cnt, which re-reads dirty groups) and an IVF index
  * over per-id embeddings drawn from a seeded Gaussian mixture.
  *
  * Each operation is one cycle: commit a small delta (updates, inserts,
  * deletes), fold it into both views, fold the matching embedding upserts
  * and deletes into the index (fresh_s covers these four), then one
  * MV-rewritten aggregate on the base and one top-10 search batch. Every
  * [[MaintFresh.Period]] cycles the cycle also retrains the index and runs
  * checkpointIfNeeded on the base and both views; the window always ends
  * on a whole period.
  */
final class MaintFresh(ctx: Ctx) extends Workload {
  import MaintFresh._
  private val spark = ctx.spark
  private val seed = ctx.seed
  private val shape = if (ctx.smoke) Shape.smoke else Shape.default
  import shape._

  private var base: MatDb = _
  private var viewSum: MatDb = _
  private var viewMm: MatDb = _
  private var index: String = _
  private var centroids: Seq[Seq[Double]] = Nil
  private var lastTxn = 0L
  private var cycle = 0
  private var nextId = 0L
  /** The current embeddings and base rows, the oracle's model. */
  private val emb = mutable.LinkedHashMap.empty[Long, Array[Double]]
  private val rows = mutable.LinkedHashMap.empty[Long, (Long, java.math.BigDecimal)]
  private var rng: java.util.SplittableRandom = _
  private var centers: Array[Array[Double]] = _
  private val recalls = mutable.ArrayBuffer.empty[Double]

  private val dec = DecimalType(18, 4)
  val baseSchema: MatSchema = MatSchema(Seq(Dimension("id", 4096)),
    Seq(ValueCol("grp", LongType), ValueCol("v", dec)))
  val sumSchema: MatSchema = MatSchema(Seq(Dimension("grp", 1024)),
    Seq(ValueCol("sum_v", dec), ValueCol("cnt", LongType)))
  val mmSchema: MatSchema = MatSchema(Seq(Dimension("grp", 1024)),
    Seq(ValueCol("min_v", dec), ValueCol("max_v", dec), ValueCol("cnt", LongType)))
  private val embSchema = StructType(Seq(StructField("id", LongType, nullable = false),
    StructField("vec", ArrayType(DoubleType, containsNull = false), nullable = false)))
  private val rowSchema = StructType(Seq(StructField("id", LongType, nullable = false),
    StructField("grp", LongType), StructField("v", dec)))

  def opKind = "fresh"

  override def periodComplete: Boolean = cycle % Period == 0

  def inputs(dir: Path): Unit = {
    val r = new java.util.SplittableRandom(seed)
    centers = Array.fill(Clusters)(unit(Array.fill(Dim)(r.nextGaussian())))
  }

  private def unit(a: Array[Double]): Array[Double] = {
    val n = math.sqrt(a.map(x => x * x).sum); a.map(_ / n)
  }

  /** One embedding: a mixture centre plus Gaussian noise. */
  private def draw(): Array[Double] = {
    val c = centers(rng.nextInt(Clusters))
    c.map(_ + Noise * rng.nextGaussian())
  }
  private def row(): (Long, java.math.BigDecimal) =
    (rng.nextInt(Groups).toLong,
      java.math.BigDecimal.valueOf(rng.nextInt(10000000).toLong, 4))

  private def embDf(ids: Seq[Long]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      ids.map(i => Row(i, emb(i).toSeq)), 1), embSchema)
  private def idDf(ids: Seq[Long]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(ids.map(i => Row(i)), 1),
      StructType(Seq(StructField("id", LongType, nullable = false))))
  private def rowDf(ids: Seq[Long]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      ids.map { i => val (g, v) = rows(i); Row(i, g, v) }, 1), rowSchema)

  def setup(dir: Path): Unit = {
    rng = new java.util.SplittableRandom(seed * 31 + 7)
    emb.clear(); rows.clear(); recalls.clear(); cycle = 0
    (0L until BaseRows.toLong).foreach { i => rows(i) = row(); emb(i) = draw() }
    nextId = BaseRows.toLong
    base = MatDb.create(spark, baseSchema, dir.resolve("base").toString, "manifest")
    viewSum = MatDb.create(spark, sumSchema, dir.resolve("view_sum").toString, "manifest")
    viewMm = MatDb.create(spark, mmSchema, dir.resolve("view_minmax").toString, "manifest")
    val tx = base.newTransaction()
    tx.addRows(rowDf(rows.keys.toSeq))
    tx.commit()
    lastTxn = tx.id.get
    IncrementalAgg.maintainAbsoluteMulti(base, viewSum, 0L, lastTxn, "grp")
    IncrementalAgg.maintainAbsoluteMulti(base, viewMm, 0L, lastTxn, "grp")
    base.registerMaterializedView(viewSum.root.toString)
    index = dir.resolve("index").toString
    val corpus = embDf(emb.keys.toSeq)
    val c = IvfIndex.train(corpus, "id", "vec", Centroids, TrainIters)
    IvfIndex.writeIndex(corpus, "id", "vec", c.map(_.toSeq).toSeq, index)
    centroids = IvfIndex.readCentroids(spark, index).map(_.toSeq).toSeq
  }

  def op(): Unit = {
    cycle += 1
    // the delta: updates of live ids, inserts of new ids, deletes of live ids
    val live = rows.keys.toIndexedSeq
    val picked = mutable.LinkedHashSet.empty[Long]
    while (picked.size < Updates + Deletes) picked += live(rng.nextInt(live.size))
    val updated = picked.take(Updates).toSeq
    val deleted = picked.drop(Updates).toSeq
    val inserted = (0 until Inserts).map(_ => { nextId += 1; nextId })
    (updated ++ inserted).foreach { i => rows(i) = row(); emb(i) = draw() }
    deleted.foreach { i => rows.remove(i); emb.remove(i) }
    val upserts = rowDf(updated ++ inserted)
    val deletes = idDf(deleted)
    val embUps = embDf(updated ++ inserted)
    val from = lastTxn

    ctx.time("fresh")(ctx.span("harness.fresh") {
      ctx.span("core.txn.commit") {
        ctx.attr("user_bytes", (Updates + Inserts) * RowBytes + Deletes * KeyBytes)
        val tx = base.newTransaction()
        tx.addRows(upserts)
        tx.deleteRows(deletes)
        val before = if (ctx.trace.enabled) PlanFiles.count(base.root) else 0L
        ctx.span("core.txn.flush") {
          tx.flush()
          if (ctx.trace.enabled) ctx.attr("files_written", (PlanFiles.count(base.root) - before).toDouble)
        }
        ctx.span("core.txn.publish")(tx.commit())
        lastTxn = tx.id.get
      }
      ctx.span("operators.agg.fold_sum")(
        IncrementalAgg.maintainAbsoluteMulti(base, viewSum, from, lastTxn, "grp"))
      ctx.span("operators.agg.fold_minmax")(
        IncrementalAgg.maintainAbsoluteMulti(base, viewMm, from, lastTxn, "grp"))
      ctx.span("operators.ivf.maintain") {
        val before = if (ctx.trace.enabled) pending() else 0
        IvfIndex.maintainIndex(spark, index, "id", embUps, deletes, Some(centroids))
        if (ctx.trace.enabled) ctx.attr("compacted", if (pending() < before) 1.0 else 0.0)
      }
    })

    var fired = false
    val mv = ctx.time("mv_query")(Query.run(ctx, "plans.mvrewrite.query", observe = df => {
      fired = PlanFiles.scansOnly(df.queryExecution.optimizedPlan, viewSum.root.toString)
      ctx.attr("fired", if (fired) 1.0 else 0.0)
    })(base.snapshot().groupBy("grp").agg(sum("v").as("sum_v"), count(lit(1)).as("cnt"))))
    if (!fired) throw new OracleMismatch(s"maint_fresh cycle $cycle: MV query scanned base files")

    val queries = (1 to Queries).map(q => -q.toLong -> draw())
    val found = ctx.time("search")(ctx.span("operators.ivf.search") {
      if (ctx.trace.enabled) ctx.attr("pending_generations", pending().toDouble)
      val qdf = spark.createDataFrame(spark.sparkContext.parallelize(
        queries.map { case (i, v) => Row(i, v.toSeq) }, 1), embSchema)
      IvfIndex.searchIndex(spark, index, qdf, "id", "vec", NProbe, K, Some(centroids))
        .select("qid", "id").collect().groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    })
    ctx.untimed(queries.foreach { case (q, v) =>
      recalls += exactTopK(v).count(found.getOrElse(q, Set.empty[Long]).contains).toDouble / K
    })

    if (cycle % CheckEvery == 0) ctx.untimed(checkViews(mv.digest))
    if (cycle % Period == 0) {
      ctx.span("operators.ivf.retrain") {
        if (ctx.trace.enabled) IvfIndex.driftRatio(index).foreach(r => ctx.attr("drift_ratio", r))
        IvfIndex.retrain(spark, index)
        centroids = IvfIndex.readCentroids(spark, index).map(_.toSeq).toSeq
      }
      Seq(base, viewSum, viewMm).foreach(db =>
        ctx.span("core.db.checkpoint") {
          ctx.attr("folded", if (db.checkpointIfNeeded(CkptSegments, CkptRetain).isDefined) 1.0 else 0.0)
        })
    }
  }

  private def pending(): Int = {
    val d = java.nio.file.Paths.get(s"$index/corpus_deltas")
    if (!java.nio.file.Files.isDirectory(d)) 0
    else {
      val s = java.nio.file.Files.list(d)
      try s.iterator().asScala.count(p => p.getFileName.toString.matches("d[0-9a-f]{8}"))
      finally s.close()
    }
  }

  /** Exact top-K ids by cosine similarity over the current embeddings. */
  private def exactTopK(q: Array[Double]): Seq[Long] = {
    val qn = unit(q)
    emb.iterator.map { case (i, v) =>
      val vn = unit(v); var s = 0.0; var j = 0
      while (j < Dim) { s += qn(j) * vn(j); j += 1 }
      (i, s)
    }.toSeq.sortBy { case (i, s) => (-s, i) }.take(K).map(_._1)
  }

  /** Both views equal a plain GROUP BY over the base snapshot, and the
    * rewritten MV query equals it too. */
  private def checkViews(mvDigest: Digest): Unit = {
    // a predicate-pushed snapshot never registers for the MV rewrite, so
    // this GROUP BY reads the base
    val snap = base.snapshot(pred = Some(col("id") >= Long.MinValue))
    val plainSum = snap.groupBy("grp").agg(sum("v").cast(dec).as("sum_v"), count(lit(1)).as("cnt"))
    val plainMm = snap.groupBy("grp").agg(min("v").as("min_v"), max("v").as("max_v"),
      count(lit(1)).as("cnt"))
    Oracle.check(s"maint_fresh cycle $cycle sum view", RowHash.of(viewSum.snapshot()), RowHash.of(plainSum))
    Oracle.check(s"maint_fresh cycle $cycle min/max view", RowHash.of(viewMm.snapshot()), RowHash.of(plainMm))
    val plainQuery = snap.groupBy("grp").agg(sum("v").as("sum_v"), count(lit(1)).as("cnt"))
    Oracle.check(s"maint_fresh cycle $cycle MV query", mvDigest, RowHash.of(plainQuery))
    Oracle.check(s"maint_fresh cycle $cycle base rows", RowHash.of(snap).count, rows.size.toLong)
  }

  def verify(): Unit = {
    val mv = base.snapshot().groupBy("grp").agg(sum("v").as("sum_v"), count(lit(1)).as("cnt"))
    if (!PlanFiles.scansOnly(mv.queryExecution.optimizedPlan, viewSum.root.toString))
      throw new OracleMismatch("maint_fresh: final MV query scanned base files")
    checkViews(RowHash.of(mv))
  }

  def details(windowS: Double): Seq[Metric] = {
    val fresh = ctx.sample("fresh")
    val tail = Stats.tail(fresh)
    Seq(Metric("fresh_p50_s", Stats.median(fresh), "s"),
      Metric("fresh_tail_s", tail.map(_._2).getOrElse(Double.NaN), "s"),
      Metric("fresh_tail_percentile", tail.map(_._1.toDouble).getOrElse(Double.NaN), "pct"),
      Metric("fresh_samples", fresh.size.toDouble, "count"),
      Metric("search_p50_s", Stats.median(ctx.sample("search")), "s"),
      Metric("mv_query_p50_s", Stats.median(ctx.sample("mv_query")), "s"),
      Metric("recall_at_10", Stats.mean(recalls.toSeq), "fraction"),
      Metric("cycles", cycle.toDouble, "count"))
  }
}

object MaintFresh {
  /** Bytes of one user row (id, grp, v: three 8-byte values) and of one key. */
  val RowBytes = 24.0
  val KeyBytes = 8.0
  /** Cycles per maintenance period (retrain + checkpoints). One cycle plus
    * its period is about all the benchmark's time budget allows per run. */
  val Period = 1
  /** Cycles between in-window oracle checks; the run's end is always checked. */
  val CheckEvery = 4
  val Dim = 16
  val Clusters = 8
  val Noise = 0.35
  val Centroids = 16
  val TrainIters = 3
  val NProbe = 4
  val K = 10
  val Queries = 8
  // fold all history at each period end, so every period starts from one
  // baseline segment per table
  val CkptSegments = Period
  val CkptRetain = 0

  final case class Shape(BaseRows: Int, Groups: Int, Updates: Int, Inserts: Int, Deletes: Int)
  object Shape {
    val default: Shape = Shape(BaseRows = 20000, Groups = 200, Updates = 200, Inserts = 60, Deletes = 40)
    val smoke: Shape = Shape(BaseRows = 2000, Groups = 20, Updates = 20, Inserts = 6, Deletes = 4)
  }
}
