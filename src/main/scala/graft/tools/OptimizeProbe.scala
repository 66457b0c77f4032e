package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core.{Dimension, MatDb, MatSchema, ValueCol}

/** Evidence for round 12's `CALL system.optimize` (MatDb.optimize): a
  * long-lived table accumulating many small commits pays per-file open
  * cost on every scan; optimize rewrites it into one file per chunk (plus
  * z-order clustering) in one atomic replace. The probe builds a table
  * from `commits` small transactions, times the resolved aggregate scan
  * (min of 3), optimizes, re-times, and records file counts from the
  * `.history` diagnostics both sides.
  *
  * Usage: runMain graft.tools.OptimizeProbe [commits] [rowsPerCommit]
  * → one JSON line + bench/optimize_probe.json. */
object OptimizeProbe {

  def main(args: Array[String]): Unit = {
    val commits = args.lift(0).map(_.toInt).getOrElse(200)
    val rowsPer = args.lift(1).map(_.toLong).getOrElse(20000L)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val root = java.nio.file.Files.createTempDirectory("graft-optimize-probe")
    val sch = MatSchema(Seq(Dimension("a", 100000), Dimension("b", 100000)),
      Seq(ValueCol("v")))
    val db = MatDb.create(spark, sch, root.toString)
    // each commit: rowsPer unique keys over an 8x4 chunk grid, upserting
    // half the previous commit's keys — a realistic hot-append pattern
    (0 until commits).foreach { i =>
      val t = db.newTransaction()
      t.addRows(spark.range(rowsPer).select(
        (col("id") % 800000).as("a"),
        ((col("id") / 800000).cast("long") * 100000 + lit((i % 2).toLong) * 200000).as("b"),
        (col("id") + i).as("v")))
      t.commit()
    }

    def scanWall(): Double = {
      def once(): Double = {
        val t0 = System.nanoTime()
        db.snapshot().agg(sum(col("v")), count(lit(1))).collect()
        (System.nanoTime() - t0) / 1e9
      }
      once() // warm
      (1 to 3).map(_ => once()).min
    }

    val filesBeforeCount = db.committedSegments.map(s =>
      graft.core.Storage.countDataFiles(graft.core.Storage.segmentPath(db.root, s))).sum
    val wallBefore = scanWall()
    val t0 = System.nanoTime()
    val (txn, before, after) = db.optimize(zorderDims = Seq("a", "b"))
    val optWall = (System.nanoTime() - t0) / 1e9
    require(before == filesBeforeCount && txn > 0)
    val wallAfter = scanWall()
    println(f"[probe] files $before -> $after, scan ${wallBefore}%.2f s -> ${wallAfter}%.2f s (optimize itself ${optWall}%.2f s)")
    require(after * 10 <= before,
      s"optimize must collapse the small files 10x+: $before -> $after")
    require(wallAfter < wallBefore,
      s"post-optimize scan must be faster: $wallBefore -> $wallAfter")

    val json =
      s"""{"metric":"optimize_probe","commits":$commits,"rows_per_commit":$rowsPer,
         |"files_before":$before,"files_after":$after,
         |"scan_before_sec":$wallBefore,"scan_after_sec":$wallAfter,
         |"optimize_sec":$optWall}""".stripMargin.replace("\n", "")
    println(json)
    val out = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_REPO_ROOT", "."), "bench", "optimize_probe.json")
    java.nio.file.Files.write(out, json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    System.err.println(s"[probe] wrote $out")
    graft.core.Storage.deleteRecursively(root)
    spark.stop()
  }
}
