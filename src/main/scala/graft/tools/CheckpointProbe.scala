package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core.{Dimension, MatDb, MatSchema, ValueCol}

/** Evidence for WHY checkpoint(horizon) exists: a long-lived table
  * accumulates one segment set per transaction, and the flagship
  * resolve-scan pays for every one of them (file listing, footer reads,
  * task scheduling) even though most versions are dead. The probe builds a
  * table with many small upsert transactions, measures the resolved
  * snapshot and a time-travel read before and after
  * `checkpoint(horizon)`, and records the segment/file counts — the
  * read-amplification the fold removes. Time travel ABOVE the horizon
  * must keep working (asserted), which is the property compact() cannot
  * give.
  *
  * Timings on this container are hostage to CPU steal; min-of-3 per read
  * and the before/after RATIO within one run are the signal.
  * Usage: runMain graft.tools.CheckpointProbe [txns] [keys] →
  * one JSON line + a `checkpoint_probe.json` artifact in bench/.
  */
object CheckpointProbe {

  private def minOf3(f: => Unit): Double = {
    (1 to 3).map { _ =>
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }.min
  }

  private def parquetFiles(root: java.nio.file.Path): Long = {
    val s = java.nio.file.Files.walk(root)
    try s.filter(_.toString.endsWith(".parquet")).count() finally s.close()
  }

  def main(args: Array[String]): Unit = {
    val nTxns = args.lift(0).map(_.toInt).getOrElse(120)
    val nKeys = args.lift(1).map(_.toInt).getOrElse(20000)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-probe")
    val db = MatDb.create(spark,
      MatSchema(Seq(Dimension("k", 1000)), Seq(ValueCol("v"))),
      dir.toString)
    // each txn upserts a deterministic pseudo-random ~1/40 slice of the key
    // space — the long-lived-table shape: every key's history spread over
    // many segments, most versions dead at read time
    (1 to nTxns).foreach { t =>
      val txn = db.newTransaction()
      txn.addRows(spark.range(nKeys)
        .select(col("id").as("k"), lit(t.toLong).as("v"))
        .where(pmod(hash(col("k"), lit(t)), lit(40)) === 0))
      txn.commit()
    }
    val horizon = (nTxns * 3 / 4).toLong

    def snapCount(): Unit = assert(db.snapshot().count() > 0)
    def travelCount(): Unit = assert(db.asOf(horizon + 2).count() > 0)

    val beforeSegs = db.committedSegments.size
    val beforeFiles = parquetFiles(dir)
    val beforeSnap = minOf3(snapCount())
    val beforeTravel = minOf3(travelCount())
    val preSnapRows = db.snapshot().count()
    val preTravelRows = db.asOf(horizon + 2).count()

    val t0 = System.nanoTime()
    require(db.checkpoint(horizon) == horizon)
    val ckptSecs = (System.nanoTime() - t0) / 1e9
    db.vacuum()

    val afterSegs = db.committedSegments.size
    val afterFiles = parquetFiles(dir)
    val afterSnap = minOf3(snapCount())
    val afterTravel = minOf3(travelCount())
    require(db.snapshot().count() == preSnapRows, "snapshot must not change")
    require(db.asOf(horizon + 2).count() == preTravelRows,
      "time travel above the horizon must survive")

    val json =
      s"""{"txns":$nTxns,"keys":$nKeys,"horizon":$horizon,""" +
        s""""before":{"segments":$beforeSegs,"files":$beforeFiles,""" +
        f""""snap_secs":$beforeSnap%.3f,"travel_secs":$beforeTravel%.3f},""" +
        s""""after":{"segments":$afterSegs,"files":$afterFiles,""" +
        f""""snap_secs":$afterSnap%.3f,"travel_secs":$afterTravel%.3f},""" +
        f""""checkpoint_secs":$ckptSecs%.3f,""" +
        f""""snap_speedup":${beforeSnap / afterSnap}%.2f,""" +
        f""""travel_speedup":${beforeTravel / afterTravel}%.2f}"""
    println(json)
    val out = sys.env.get("SPARK_GRAFT_BENCH_DIR")
      .map(java.nio.file.Paths.get(_))
      .orElse(sys.env.get("SPARK_GRAFT_REPO_ROOT")
        .map(java.nio.file.Paths.get(_, "bench")))
      .getOrElse(java.nio.file.Paths.get("bench"))
      .toAbsolutePath
    try {
      java.nio.file.Files.createDirectories(out)
      java.nio.file.Files.writeString(out.resolve("checkpoint_probe.json"), json + "\n")
      System.err.println(s"[ckpt-probe] wrote ${out.resolve("checkpoint_probe.json")}")
    } catch { case e: Throwable =>
      System.err.println(s"[ckpt-probe] could not persist: $e")
    }
    spark.stop()
  }
}
