package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType}

import graft.core.{Dimension, MatDb, MatSchema, ValueCol}
import graft.operators.IncrementalAgg

/** Evidence for the MV auto-rewrite's scale claim: answering a GROUP BY
  * from the maintained view is O(groups) and INDEPENDENT of base size,
  * while the un-rewritten aggregate scans the base. The probe grows a base
  * table across several commit steps (maintaining the view each step) and,
  * at each size, times the SAME DataFrame query both ways — rewrite on
  * (plan reads only view files) and rewrite off (kill switch; plan scans
  * the base). Within one run the rewritten curve should stay flat while
  * the base-scan curve grows with the table; the flat-vs-growing contrast
  * is steal-proof the same way the other probes' within-run ratios are.
  * The probe also verifies both answers are IDENTICAL at every step — the
  * rewrite may change plans, never results.
  *
  * Usage: runMain graft.tools.MvRewriteProbe [steps] [rowsPerStep] →
  * one JSON line + a `mv_rewrite_probe.json` artifact in bench/.
  */
object MvRewriteProbe {

  def main(args: Array[String]): Unit = {
    val steps = args.lift(0).map(_.toInt).getOrElse(6)
    val rows = args.lift(1).map(_.toInt).getOrElse(500000)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val dec = DecimalType(18, 4)
    val root = java.nio.file.Files.createTempDirectory("graft-mvp")
    val base = MatDb.create(spark,
      MatSchema(Seq(Dimension("k", 1000000)),
        Seq(ValueCol("g", LongType), ValueCol("v", dec))),
      root.resolve("base").toString)
    val view = MatDb.create(spark,
      MatSchema(Seq(Dimension("g", 1000)),
        Seq(ValueCol("sum_v", dec), ValueCol("cnt", LongType))),
      root.resolve("view").toString)
    base.registerMaterializedView(root.resolve("view").toString)

    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
    }

    val points = (1 to steps).map { s =>
      val lo = (s - 1).toLong * rows
      val t = base.newTransaction()
      t.addRows(spark.range(lo, lo + rows).select(col("id").as("k"),
        (col("id") % 512).as("g"),
        (col("id") % 1000).cast(dec).as("v")))
      t.commit()
      IncrementalAgg.maintainAbsoluteMulti(base, view, s - 1L, s.toLong, "g")
      def query() = base.snapshot().groupBy("g")
        .agg(sum("v").as("sum_v"), count(lit(1)).as("cnt"))
      // warm both paths once (file listing, codegen), then measure
      val (rewritten, rwSecs) = time(query().collect().sortBy(_.getLong(0)))
      spark.conf.set("spark.graft.mv.rewrite.enabled", "false")
      val (plain, baseSecs) =
        try time(query().collect().sortBy(_.getLong(0)))
        finally spark.conf.set("spark.graft.mv.rewrite.enabled", "true")
      require(rewritten.toSeq == plain.toSeq,
        s"rewrite changed RESULTS at step $s — bug")
      println(f"[mv-probe] step $s base=${s.toLong * rows}%,d rows " +
        f"rewritten=${rwSecs}%.3fs base-scan=${baseSecs}%.3fs")
      (s, s.toLong * rows, rwSecs, baseSecs)
    }

    def ratio(xs: Seq[Double]): Double = {
      val head = xs.take(2).min; val tail = xs.takeRight(2).min
      if (head == 0) 0 else tail / head
    }
    val rw = points.map(_._3)
    val bs = points.map(_._4)
    val json =
      s"""{"steps": $steps, "rows_per_step": $rows, "groups": 512,
         | "points": [${points.map { case (s, n, a, b) =>
            s"""{"step": $s, "base_rows": $n, "rewritten_secs": $a, "base_scan_secs": $b}"""
          }.mkString(", ")}],
         | "rewritten_growth_ratio": ${ratio(rw)},
         | "base_scan_growth_ratio": ${ratio(bs)},
         | "final_speedup": ${bs.last / rw.last}}""".stripMargin.replace("\n", "")
    println(json)
    val out = java.nio.file.Paths.get("bench/mv_rewrite_probe.json")
    java.nio.file.Files.createDirectories(out.getParent)
    java.nio.file.Files.writeString(out, json + "\n")
    spark.stop()
  }
}
