package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core.{Dimension, MatDb, MatSchema, Protocol, Storage, ValueCol}

/** Evidence for round 12's manifest commit metadata: serializable conflict
  * detection used to re-walk each later segment's file tree per check AND
  * per CAS retry (O(conflicting txns × files) filesystem metadata I/O);
  * manifests now record each commit's touched chunk keys, so the check is
  * `commitsAfter` — O(commits since horizon) single-file manifest reads,
  * FLAT in table file count.
  *
  * The probe builds K pending commits at F chunk-dirs each and times both
  * paths (min of R reps): the dir-walk cost grows with F, the metadata
  * read does not. Usage: runMain graft.tools.ConflictProbe [K] [reps]
  * → one JSON line + bench/conflict_probe.json. */
object ConflictProbe {

  def main(args: Array[String]): Unit = {
    val commits = args.lift(0).map(_.toInt).getOrElse(25)
    val reps = args.lift(1).map(_.toInt).getOrElse(7)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def timeMin(rep: Int)(f: => Unit): Double = {
      f // warm
      (1 to rep).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6
      }.min
    }

    val results = Seq(50, 200, 800).map { chunks =>
      val root = java.nio.file.Files.createTempDirectory(s"graft-conflict-$chunks")
      val sch = MatSchema(Seq(Dimension("k", 10)), Seq(ValueCol("v")))
      val db = MatDb.create(spark, sch, root.toString)
      // K commits, each touching all F chunks (k = 0..10*F step keeps one
      // row per chunk — the file count per segment is what we scale)
      (0 until commits).foreach { i =>
        val t = db.newTransaction()
        t.addRows(spark.range(chunks).select((col("id") * 10).as("k"),
          lit(i.toLong).as("v")))
        t.commit()
      }
      val proto = Protocol.at(root)
      val later = proto.listCommitted(root).filter(_.txnId > 0L)
      require(later.size == commits)
      // the old path: walk EVERY later segment's file tree
      val walkMs = timeMin(reps) {
        val ours = Set("_ck_k=0")
        later.foreach(s => Storage.chunkDirsOf(Storage.segmentPath(root, s))
          .exists(ours.contains))
      }
      // the new path: read the manifests' recorded chunk sets
      val metaMs = timeMin(reps) {
        val ours = Set("_ck_k=0")
        proto.commitsAfter(root, 0L).get
          .foreach(c => c.isReplace || c.chunks.exists(_.exists(ours.contains)))
      }
      val metaCommits = proto.commitsAfter(root, 0L).get
      require(metaCommits.size == commits && metaCommits.forall(!_.isReplace))
      println(f"[probe] chunks=$chunks%4d commits=$commits walk=${walkMs}%8.2f ms meta=${metaMs}%8.2f ms")
      Storage.deleteRecursively(root)
      (chunks, walkMs, metaMs)
    }

    // the metadata path costs O(touched chunks) json parsing — the
    // information-theoretic minimum for chunk-granular detection — while
    // the walk costs O(files) filesystem round-trips (and multiplies with
    // files-per-chunk, which this fixture holds at 1, and with CAS
    // retries). Gate: metadata wins by >= 5x at EVERY size.
    results.foreach { case (c, walk, meta) =>
      require(meta * 5 < walk,
        s"metadata conflict check must beat the dir-walk 5x at $c chunks: $meta vs $walk ms")
    }

    // round 13: key digests past the exact cap — a >4096-key delta records
    // a BLOOM digest, so a concurrent disjoint-key writer with a stale
    // horizon still commits where the old over-cap behavior degraded to
    // chunk granularity and aborted it
    val bloomScenario = {
      val root = java.nio.file.Files.createTempDirectory("graft-conflict-bloom")
      val sch = MatSchema(Seq(Dimension("k", 1000000)), Seq(ValueCol("v")))
      val db = MatDb.create(spark, sch, root.toString)
      Storage.writeProps(root, Storage.readProps(root) +
        ("graft.isolation.granularity" -> "key"))
      val t = db.newTransaction()
      t.addRows(spark.range(6000).select(col("id").as("k"), lit(0L).as("v")))
      t.commit()
      // writer A: 5000-key delta (over the 4096 exact cap → bloom digest)
      graft.sources.GraftInsert.tombstone(spark, root.toString,
        spark.range(5000).select(col("id").as("k"), lit(0L).as("v")),
        serializableSince = Some(1L))
      // writer B: one disjoint key, horizon BELOW writer A — both commit
      val before = Protocol.at(root).txnWatermark(root)
      graft.sources.GraftInsert.tombstone(spark, root.toString,
        spark.range(5500, 5501).select(col("id").as("k"), lit(0L).as("v")),
        serializableSince = Some(1L))
      val both = Protocol.at(root).txnWatermark(root) > before
      db.refresh()
      val n = db.snapshot().count()
      Storage.deleteRecursively(root)
      require(both && n == 999L,
        s"disjoint over-cap writers must both commit (both=$both rows=$n)")
      s""""bloom_digest":{"delta_keys":5000,"exact_cap":${Storage.KeyDigestCap},""" +
        s""""disjoint_writer_committed":$both,"rows_after":$n}"""
    }

    val json =
      s"""{"metric":"conflict_probe","commits":$commits,""" +
        results.map { case (c, w, m) =>
          s""""chunks_$c":{"walk_ms":$w,"meta_ms":$m}""" }.mkString(",") +
        s",$bloomScenario}"
    println(json)
    val out = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_REPO_ROOT", "."), "bench", "conflict_probe.json")
    java.nio.file.Files.write(out, json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    System.err.println(s"[probe] wrote $out")
    spark.stop()
  }
}
