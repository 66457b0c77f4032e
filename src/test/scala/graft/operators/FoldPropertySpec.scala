package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Dimension, MatDb, MatSchema, Storage, TestSpark, ValueCol}

/** Property check of the aligned view fold: over random histories the
  * DRIVER-SCALE fold (a tiny delta, the default) must equal both the
  * DISTRIBUTED fold (forced by handing in a delta with no size estimate)
  * and a plain GROUP BY of `base.asOf(to)`, after every transaction. The
  * histories move rows between groups, delete groups empty, retract
  * extrema, open new groups, start from a checkpoint baseline, and feed
  * declared `graft.mview.expr.*` columns and a composite key.
  * Deterministic seeds — failures replay. */
class FoldPropertySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dec = DecimalType(18, 2)
  private val wide = DecimalType(38, 2)
  private val Rev = "v * (w + 1)"

  private def dir(p: String): String = Files.createTempDirectory(p).toString

  private val rowSchema = StructType(Seq(StructField("k", LongType, nullable = false),
    StructField("g", LongType), StructField("h", LongType), StructField("v", dec),
    StructField("w", LongType)))

  private final case class R(g: Long, h: Long, v: Option[Long], w: Long)

  private def rows(rs: Seq[(Long, R)]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rs.map { case (k, r) =>
      Row(k, r.g, r.h, r.v.map(java.math.BigDecimal.valueOf(_, 2)).orNull, r.w)
    }, 2), rowSchema)

  private def keys(ks: Seq[Long]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(ks.map(Row(_)), 2),
      StructType(Seq(StructField("k", LongType, nullable = false))))

  private def newBase(): MatDb = MatDb.create(spark, MatSchema(Seq(Dimension("k", 16)),
    Seq(ValueCol("g", LongType), ValueCol("h", LongType), ValueCol("v", dec),
      ValueCol("w", LongType))), dir("graft-foldprop-base"), "manifest")

  /** The three view shapes: sums and counts by g; column and expression
    * extrema by g; a composite (g, h) key mixing sums and extrema. */
  private val specs: Seq[(Seq[String], Seq[ValueCol])] = Seq(
    Seq("g") -> Seq(ValueCol("sum_v", DecimalType(20, 2)), ValueCol("cnt_v", LongType),
      ValueCol("sum_rev", wide), ValueCol("cnt", LongType)),
    Seq("g") -> Seq(ValueCol("min_v", dec), ValueCol("max_v", dec),
      ValueCol("min_rev", wide), ValueCol("max_rev", wide), ValueCol("cnt", LongType)),
    Seq("g", "h") -> Seq(ValueCol("sum_v", DecimalType(20, 2)), ValueCol("min_v", dec),
      ValueCol("max_rev", wide), ValueCol("cnt", LongType)))

  private def newView(keys: Seq[String], values: Seq[ValueCol]): MatDb = {
    val v = MatDb.create(spark, MatSchema(keys.map(Dimension(_, 8)), values),
      dir("graft-foldprop-view"), "manifest")
    Storage.writeProps(v.root, Storage.readProps(v.root) + ("graft.mview.expr.rev" -> Rev))
    v
  }

  /** A plain GROUP BY of the base at `txn` in the view's own spec. */
  private def oracle(base: MatDb, view: MatDb, txn: Long): Set[Row] = {
    val gs = view.schema.dimNames
    def src(c: String): Column = if (c == "rev") expr(Rev) else col(c)
    val aggs = view.schema.values.map { v =>
      val agg = v.name match {
        case "cnt" => count(lit(1))
        case n if n.startsWith("sum_") => sum(src(n.drop(4)))
        case n if n.startsWith("cnt_") => count(src(n.drop(4)))
        case n if n.startsWith("min_") => min(src(n.drop(4)))
        case n => max(src(n.drop(4)))
      }
      agg.cast(v.dataType).as(v.name)
    }
    base.asOf(txn).where(gs.map(col(_).isNotNull).reduce(_ && _))
      .groupBy(gs.map(col): _*).agg(aggs.head, aggs.tail: _*).collect().toSet
  }

  /** The delta of `(from, to]` as a frame with no size estimate: the fold's
    * gate reads it as not small, so the fold keeps its distributed plan. */
  private def opaqueDelta(base: MatDb, from: Long, to: Long): DataFrame = {
    val d = base.changesBetween(from, to, includeOld = true)
    spark.createDataFrame(d.rdd, d.schema)
  }

  private def fold(base: MatDb, view: MatDb, from: Long, to: Long,
      distributed: Boolean): Long =
    IncrementalAgg.maintainAbsoluteMultiKeys(base, view, from, to, view.schema.dimNames,
      if (distributed) Some(opaqueDelta(base, from, to)) else None)

  test("driver-scale fold == distributed fold == GROUP BY over random histories") {
    for (seed <- Seq(5, 29)) {
      val rnd = new scala.util.Random(seed)
      val base = newBase()
      val views = specs.map { case (k, v) => (newView(k, v), newView(k, v)) }
      var live = Map.empty[Long, R]
      var nextKey = 0L
      var nextGroup = 4L
      def fresh(g: Long): R =
        R(g, rnd.nextInt(3).toLong, Some(rnd.nextInt(2000).toLong - 500L), rnd.nextInt(4).toLong)
      def commit(ups: Seq[(Long, R)], dels: Seq[Long]): Long = {
        val t = base.newTransaction()
        if (ups.nonEmpty) t.addRows(rows(ups))
        if (dels.nonEmpty) t.deleteRows(keys(dels))
        t.commit()
        live = live -- dels ++ ups
        t.id.get
      }
      var last = commit((0 until 40).map { _ => nextKey += 1
        nextKey -> fresh(rnd.nextInt(4).toLong) }, Nil)
      views.foreach { case (d, s) => fold(base, d, 0L, last, distributed = false)
        fold(base, s, 0L, last, distributed = true) }
      (1 to 6).foreach { step =>
        // one step starts from a checkpoint baseline (a state read with no
        // resolve), the state a periodically checkpointed base is in
        if (step == 4) base.checkpoint(last)
        val ks = live.keys.toIndexedSeq.sorted
        def pick(): Long = ks(rnd.nextInt(ks.size))
        val groups = live.values.groupBy(_.g)
        // a value update, a move to another group, an extremum retraction
        // (the max row of a random group drops below its min), inserts —
        // one of them opening a new group — and a delete
        val (gx, members) = groups.toSeq.sortBy(_._1)(Ordering.Long)
          .apply(rnd.nextInt(groups.size))
        val top = live.filter(_._2.g == gx).maxBy(_._2.v.get)._1
        val moved = pick()
        val ups = Seq(pick() -> fresh(live(ks.head).g),
          moved -> live(moved).copy(g = (live(moved).g + 1 + rnd.nextInt(3)) % nextGroup),
          top -> live(top).copy(v = Some(members.map(_.v.get).min - 7L))) ++
          (0 until 2).map { _ => nextKey += 1; nextKey -> fresh(rnd.nextInt(nextGroup.toInt).toLong) } :+
          { nextKey += 1; nextGroup += 1; nextKey -> fresh(nextGroup - 1) }
        // every few steps, empty the smallest group entirely
        val emptied = if (step % 3 == 0) {
          val small = groups.minBy(g => (g._2.size, g._1))._1
          live.filter(_._2.g == small).keys.toSeq
        } else Nil
        val dels = ((pick() +: emptied).distinct.filterNot(ups.map(_._1).toSet))
        val from = last
        last = commit(ups.distinctBy(_._1), dels)
        views.zip(specs).foreach { case ((d, s), (keys, _)) =>
          fold(base, d, from, last, distributed = false)
          fold(base, s, from, last, distributed = true)
          val want = oracle(base, d, last)
          val clue = s"seed $seed step $step view by ${keys.mkString(",")}"
          assert(d.snapshot().collect().toSet === want, s"driver-scale fold: $clue")
          assert(s.snapshot().collect().toSet === want, s"distributed fold: $clue")
        }
      }
    }
  }

  test("a null sum source refuses on both paths and commits nothing") {
    val base = newBase()
    val (drv, dist) = (newView(specs.head._1, specs.head._2),
      newView(specs.head._1, specs.head._2))
    val t1 = base.newTransaction()
    t1.addRows(rows((1L to 6L).map(k => k -> R(k % 2, 0L, Some(k * 100), 1L))))
    t1.commit()
    Seq(drv -> false, dist -> true).foreach { case (v, d) => fold(base, v, 0L, 1L, d) }
    val t2 = base.newTransaction()
    t2.addRows(rows(Seq(7L -> R(1L, 0L, None, 1L), 8L -> R(0L, 0L, Some(5L), 1L))))
    t2.commit()
    Seq(drv -> false, dist -> true).foreach { case (v, d) =>
      val before = v.committedSegments
      val err = intercept[IllegalArgumentException](fold(base, v, 1L, 2L, d))
      assert(err.getMessage.contains("delta contains null"), err.getMessage)
      v.refresh()
      assert(v.committedSegments === before, s"distributed=$d: nothing commits")
      assert(v.txnWatermark === 1L)
    }
    // the guarded range folds once the null is repaired
    val t3 = base.newTransaction()
    t3.addRows(rows(Seq(7L -> R(1L, 0L, Some(70L), 1L))))
    t3.commit()
    Seq(drv -> false, dist -> true).foreach { case (v, d) =>
      fold(base, v, 1L, 3L, d)
      assert(v.snapshot().collect().toSet === oracle(base, v, 3L))
    }
  }

  test("two views fold concurrently through viewMaintSinkKeys") {
    val root = Files.createTempDirectory("graft-foldprop-sink")
    val base = newBase()
    val views = Seq(newView(specs(1)._1, specs(1)._2) -> Seq("g"),
      newView(specs(2)._1, specs(2)._2) -> Seq("g", "h"))
    val t1 = base.newTransaction()
    t1.addRows(rows((1L to 30L).map(k => k -> R(k % 4, k % 3, Some(k * 10), k % 5))))
    t1.commit()
    val t2 = base.newTransaction()
    t2.addRows(rows(Seq(3L -> R(1L, 2L, Some(-40L), 2L), 31L -> R(9L, 0L, Some(1L), 0L))))
    t2.deleteRows(keys(Seq(4L, 8L, 12L)))
    t2.commit()
    val q = graft.streaming.Streams.viewMaintSinkKeys(
      spark.readStream.format("graft-stream").option("maxTxnsPerBatch", "1")
        .load(base.root.toString),
      base.root.toString, views, root.resolve("ckpt").toString).start()
    try q.processAllAvailable() finally q.stop()
    views.foreach { case (v, _) =>
      assert(v.txnWatermark === 2L)
      assert(v.snapshot().collect().toSet === oracle(base, v, 2L))
    }
  }
}
