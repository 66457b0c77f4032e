package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType}

import graft.core.{Dimension, MatDb, MatSchema, ValueCol}
import graft.operators.IncrementalAgg

/** Evidence for IncrementalAgg's scale claim: maintenance cost is
  * O(delta), independent of how large the BASE table has grown. The probe
  * commits constant-size upsert batches to a growing base and times the
  * delta-mode maintenance after each; the late/early ratio over a run in
  * which the base grows ~12× is the bounded-cost signal (the same
  * methodology as IngestThroughputProbe — absolute seconds are hostage to
  * CPU steal, the growth ratio within one run is not).
  *
  * Two phases: WITHOUT checkpointing, the per-step cost creeps — not
  * with data volume but with SEGMENT COUNT (changesBetween's restricted
  * resolve lists and footer-reads every txn's segment set ≤ `to`); WITH
  * `checkpointIfNeeded` after each commit, the listing is bounded and the
  * curve flattens — the composition the two operators were built for.
  *
  * A third comparison pins round 13's self-maintaining streaming mode:
  * `multi_absolute` (forced old behavior — re-aggregate every touched
  * group from base.asOf(to) per batch) grows with base size under hot
  * groups, while `multi_self` (old-view ⊕ delta, no base read for
  * sum/cnt) stays flat.
  *
  * Usage: runMain graft.tools.ViewMaintProbe [batches] [rowsPerBatch] →
  * one JSON line + a `view_maint_probe.json` artifact in bench/.
  */
object ViewMaintProbe {

  def main(args: Array[String]): Unit = {
    val nBatches = args.lift(0).map(_.toInt).getOrElse(12)
    val rows = args.lift(1).map(_.toInt).getOrElse(5000)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val dec = DecimalType(18, 4)
    def run(label: String, checkpointing: Boolean): (Seq[(Int, Double, Long)], Double) = {
      val base = MatDb.create(spark,
        MatSchema(Seq(Dimension("k", 100000)),
          Seq(ValueCol("g", LongType), ValueCol("v", dec))),
        java.nio.file.Files.createTempDirectory(s"graft-vmp-base-$label").toString)
      val view = MatDb.create(spark,
        MatSchema(Seq(Dimension("g", 1000)),
          Seq(ValueCol("sum_v", dec), ValueCol("cnt", LongType))),
        java.nio.file.Files.createTempDirectory(s"graft-vmp-view-$label").toString)
      var delta = (0L, 0L) // (from, to) txn bounds of the latest commit
      val points = (1 to nBatches).map { b =>
        // constant-size delta: fresh keys + some overwrites, 200 groups
        val txn = base.newTransaction()
        txn.addRows(spark.range((b - 1).toLong * rows / 2, (b - 1).toLong * rows / 2 + rows)
          .select(col("id").as("k"), pmod(col("id"), lit(200L)).as("g"),
            (col("id") % 1000).cast(dec).as("v")))
        txn.commit()
        delta = (txn.id.get - 1L, txn.id.get)
        val t0 = System.nanoTime()
        IncrementalAgg.maintain(base, view, delta._1, delta._2, "g", "v")
        val secs = (System.nanoTime() - t0) / 1e9
        if (checkpointing) {
          // fold base AND view history; the next maintenance's from-txn is
          // always inside the retained window
          base.checkpointIfNeeded(maxSegments = 6, retainTxns = 3)
          view.checkpointIfNeeded(maxSegments = 6, retainTxns = 3)
        }
        val hist = b.toLong * rows
        System.err.println(
          f"[view-maint] $label b$b: $rows delta rows, ~$hist base rows, $secs%.2f s, " +
            s"${base.committedSegments.size} base segsets")
        (b, secs, hist)
      }
      val warm = points.drop(2)
      val ratio =
        if (warm.size < 4) 1.0
        else warm.takeRight(2).map(_._2).sum / warm.take(2).map(_._2).sum
      (points, ratio)
    }
    // Round-13 evidence: the streaming mode (maintainAbsoluteMulti) used to
    // re-aggregate every TOUCHED group from base.asOf(to) each batch — with
    // hot groups (every delta touches all 200) that is a full base re-read
    // per batch, so per-batch wall GROWS with base size. The self-
    // maintaining path derives view rows from old-view ⊕ delta (no base
    // read for sum/cnt), so per-batch wall is INDEPENDENT of base size.
    // Experiment: constant-size deltas against a base grown in plateaus
    // (seed → 16× seed); history is checkpointed so changesBetween's
    // segment listing is bounded and the re-aggregation term is the only
    // variable. Reported: mean per-batch secs at each plateau, and the
    // big/small-plateau cost ratio per mode.
    def runMulti(label: String, force: Boolean): (Seq[(Long, Double)], Double) = {
      val base = MatDb.create(spark,
        MatSchema(Seq(Dimension("k", 100000)),
          Seq(ValueCol("g", LongType), ValueCol("v", dec))),
        java.nio.file.Files.createTempDirectory(s"graft-vmp-base-$label").toString)
      val view = MatDb.create(spark,
        MatSchema(Seq(Dimension("g", 1000)),
          Seq(ValueCol("sum_v", dec), ValueCol("cnt", LongType))),
        java.nio.file.Files.createTempDirectory(s"graft-vmp-view-$label").toString)
      var nextKey = 0L
      def commitRows(n: Long): (Long, Long) = {
        val txn = base.newTransaction()
        txn.addRows(spark.range(nextKey, nextKey + n)
          .select(col("id").as("k"), pmod(col("id"), lit(200L)).as("g"),
            (col("id") % 1000).cast(dec).as("v")))
        txn.commit()
        nextKey += n
        (txn.id.get - 1L, txn.id.get)
      }
      val seed = rows.toLong * 4
      val plateaus = Seq(seed, seed * 4, seed * 16)
      var grown = 0L
      val points = plateaus.map { target =>
        if (target > grown) {
          val (f, t) = commitRows(target - grown); grown = target
          // keep the view correct through the growth commit too
          IncrementalAgg.maintainAbsoluteMulti(base, view, f, t, "g",
            forceAbsolute = force)
          base.checkpointIfNeeded(maxSegments = 2, retainTxns = 1)
        }
        val secs = (1 to nBatches).map { _ =>
          val (f, t) = commitRows(rows.toLong)
          val t0 = System.nanoTime()
          IncrementalAgg.maintainAbsoluteMulti(base, view, f, t, "g",
            forceAbsolute = force)
          (System.nanoTime() - t0) / 1e9
        }
        grown += nBatches.toLong * rows
        val warm = secs.drop(1)
        val mean = warm.sum / warm.size
        System.err.println(
          f"[view-maint] $label base ~$target rows: $mean%.2f s/batch " +
            s"(${warm.map(s => f"$s%.2f").mkString(",")})")
        (target, mean)
      }
      (points, points.last._2 / points.head._2)
    }
    val (plain, plainRatio) = run("plain", checkpointing = false)
    val (ckpt, ckptRatio) = run("ckpt", checkpointing = true)
    val (abs, absRatio) = runMulti("multi-absolute", force = true)
    val (self, selfRatio) = runMulti("multi-self", force = false)
    def pointsJson(ps: Seq[(Int, Double, Long)]): String =
      ps.map(p => f"""{"batch":${p._1},"secs":${p._2}%.3f,"base_rows":${p._3}}""")
        .mkString("[", ",", "]")
    def plateauJson(ps: Seq[(Long, Double)]): String =
      ps.map(p => f"""{"base_rows":${p._1},"secs_per_batch":${p._2}%.3f}""")
        .mkString("[", ",", "]")
    val json = s"""{"batches":$nBatches,"rows_per_batch":$rows,""" +
      f""""plain":{"points":${pointsJson(plain)},"growth_ratio":$plainRatio%.2f},""" +
      f""""with_checkpoint":{"points":${pointsJson(ckpt)},"growth_ratio":$ckptRatio%.2f},""" +
      f""""multi_absolute":{"plateaus":${plateauJson(abs)},"base_16x_cost_ratio":$absRatio%.2f},""" +
      f""""multi_self":{"plateaus":${plateauJson(self)},"base_16x_cost_ratio":$selfRatio%.2f}}"""
    println(json)
    val out = sys.env.get("SPARK_GRAFT_BENCH_DIR").map(java.nio.file.Paths.get(_))
      .orElse(sys.env.get("SPARK_GRAFT_REPO_ROOT").map(java.nio.file.Paths.get(_, "bench")))
      .getOrElse(java.nio.file.Paths.get("bench")).toAbsolutePath
    try {
      java.nio.file.Files.createDirectories(out)
      java.nio.file.Files.writeString(out.resolve("view_maint_probe.json"), json + "\n")
      System.err.println(s"[view-maint] wrote ${out.resolve("view_maint_probe.json")}")
    } catch { case e: Throwable => System.err.println(s"[view-maint] could not persist: $e") }
    spark.stop()
  }
}
