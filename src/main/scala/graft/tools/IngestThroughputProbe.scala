package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.core.{Dimension, MatDb, MatSchema, Storage, ValueCol}
import graft.streaming.Streams

/** Throughput evidence for the four dedup ingest sinks — the question the
  * per-batch property specs cannot answer: does per-batch cost stay BOUNDED
  * as committed history grows? The sinks' scale contract ("history streams
  * through one broadcast-hash join, only batch-derived sides broadcast")
  * predicts per-batch wall time ~ O(|history| scan + |batch| work), i.e.
  * slow linear growth from the column-pruned history scan and NO
  * superlinear blowup; `compactEvery` bounds the committed segment count
  * so the scan does not degrade into a many-small-files listing problem.
  *
  * The probe drives each sink through a MemoryStream with batches ~10×
  * the StreamingSpec volumes (exact/SimHash: 10k docs; semantic: 1k
  * vectors at d=64; media: 120 rendered PNGs), compactEvery on, each
  * batch carrying a deterministic ~10% planted-duplicate fraction so the
  * gates do real dropping work. Per batch it records wall seconds,
  * input/survivor rows, rows/s, and the committed history size the NEXT
  * batch will join against; the summary reports late/early time ratios
  * (batch cost growth while history grows ~10×) — the bounded-cost claim
  * the VERDICT asked to be measured rather than asserted.
  *
  * Deterministic (fixed seeds, fixed render texts). Timings on this
  * container are hostage to CPU steal (see Bench scaladoc); the
  * growth-RATIO across batches within one run is the reliable signal,
  * not absolute rows/s.
  * Usage: runMain graft.tools.IngestThroughputProbe → one JSON line + a
  * `ingest_throughput.json` artifact next to the bench outputs.
  */
object IngestThroughputProbe {

  final case class BatchPoint(batch: Int, rowsIn: Long, survivors: Long,
      secs: Double, historyRows: Long) {
    def json: String =
      s"""{"batch":$batch,"rows_in":$rowsIn,"survivors":$survivors,""" +
        s""""secs":$secs,"rows_per_sec":${if (secs > 0) rowsIn / secs else 0.0},""" +
        s""""history_rows":$historyRows}"""
  }

  /** Deterministic ~60-token document from a 5000-word vocabulary. */
  private def docText(rng: java.util.Random): String =
    Array.fill(40 + rng.nextInt(40))("w" + rng.nextInt(5000)).mkString(" ")

  /** `nBatches` batches of `batchRows` (id, text) docs; ~`dupFrac` of each
    * batch after the first duplicates a doc from the PREVIOUS batch (so the
    * gate must catch it against committed history, not within the batch). */
  private def textBatches(nBatches: Int, batchRows: Int, dupFrac: Double,
      seed: Long): Seq[Seq[(Long, String)]] = {
    val rng = new java.util.Random(seed)
    var prev: Seq[(Long, String)] = Nil
    (0 until nBatches).map { b =>
      val batch = (0 until batchRows).map { i =>
        val id = b.toLong * batchRows + i
        if (b > 0 && rng.nextDouble() < dupFrac)
          (id, prev(rng.nextInt(prev.size))._2)
        else (id, docText(rng))
      }
      prev = batch
      batch
    }
  }

  /** Drive a streaming query into a fresh manifest table batch-by-batch,
    * timing each `processAllAvailable` and reading back the committed-history
    * size per batch; the table is deleted afterwards. `start` gets the
    * table directory. */
  private def drive[A](spark: SparkSession, schema: MatSchema,
      input: MemoryStream[A], start: String => org.apache.spark.sql.streaming.StreamingQuery,
      batches: Seq[Seq[A]]): Seq[BatchPoint] = {
    val home = java.nio.file.Files.createTempDirectory("graft-tp-table")
    val dir = home.resolve("t").toString
    MatDb.create(spark, schema, dir)
    def historyCount(): Long = Streams.committedRows(spark, dir).count()
    val q = start(dir)
    try batches.zipWithIndex.map { case (rows, i) =>
      val before = historyCount()
      val t0 = System.nanoTime()
      input.addData(rows)
      q.processAllAvailable()
      val dt = (System.nanoTime() - t0) / 1e9
      val after = historyCount()
      BatchPoint(i, rows.size.toLong, after - before, dt, after)
    } finally { q.stop(); Storage.deleteRecursively(home) }
  }

  def exactProbe(spark: SparkSession, nBatches: Int, batchRows: Int): Seq[BatchPoint] = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val schema = MatSchema(Seq(Dimension("doc_id", 100000)),
      Seq(ValueCol("fp"), ValueCol("text", org.apache.spark.sql.types.StringType)))
    val cp = java.nio.file.Files.createTempDirectory("graft-tp-exact").toString
    val input = MemoryStream[(Long, String)]
    drive[(Long, String)](spark, schema, input,
      dir => Streams.dedupedIngest(input.toDF().toDF("doc_id", "text"),
        dir, textCol = "text", fpCol = "fp", cp, compactEvery = 3).start(),
      textBatches(nBatches, batchRows, 0.10, seed = 7L))
  }

  def simhashProbe(spark: SparkSession, nBatches: Int, batchRows: Int): Seq[BatchPoint] = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val schema = MatSchema(Seq(Dimension("doc_id", 100000)),
      Seq(ValueCol("simhash"), ValueCol("text", org.apache.spark.sql.types.StringType)))
    val cp = java.nio.file.Files.createTempDirectory("graft-tp-simhash").toString
    val input = MemoryStream[(Long, String)]
    drive[(Long, String)](spark, schema, input,
      dir => Streams.nearDupIngest(input.toDF().toDF("doc_id", "text"),
        dir, textCol = "text", idCol = "doc_id", cp, compactEvery = 3).start(),
      textBatches(nBatches, batchRows, 0.10, seed = 11L))
  }

  def semanticProbe(spark: SparkSession, nBatches: Int, batchRows: Int,
      d: Int = 64, k: Int = 16, tau: Double = 0.99): Seq[BatchPoint] = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rng = new java.util.Random(13L)
    def unit(): Array[Double] = {
      val v = Array.fill(d)(rng.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    def jitter(v: Array[Double], eps: Double): Array[Double] = {
      val g = unit()
      val j = v.zip(g).map { case (x, u) => x + eps * u }
      val n = math.sqrt(j.map(x => x * x).sum); j.map(_ / n)
    }
    // centroids trained on a pre-sample, as a production deploy would
    val sample = Array.fill(512)(unit())
    val cents = graft.operators.IvfIndex.train(
      sample.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }.toSeq
        .toDF("vec_id", "embedding"), "vec_id", "embedding", k, iters = 3)
      .map(_.toSeq).toSeq

    var prev: Seq[(Long, Seq[Double])] = Nil
    val batches = (0 until nBatches).map { b =>
      val batch = (0 until batchRows).map { i =>
        val id = b.toLong * batchRows + i
        if (b > 0 && rng.nextDouble() < 0.10)
          (id, jitter(prev(rng.nextInt(prev.size))._2.toArray, 0.02).toSeq)
        else (id, unit().toSeq)
      }
      prev = batch
      batch
    }

    val schema = MatSchema(Seq(Dimension("vec_id", 100000)),
      Seq(ValueCol("bucket"),
        ValueCol("embedding", org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType))))
    val cp = java.nio.file.Files.createTempDirectory("graft-tp-sem").toString
    val input = MemoryStream[(Long, Seq[Double])]
    drive[(Long, Seq[Double])](spark, schema, input,
      dir => Streams.semanticIngest(
        input.toDF().toDF("vec_id", "embedding"), dir,
        idCol = "vec_id", vecCol = "embedding", cents, tau, cp,
        compactEvery = 3).start(),
      batches)
  }

  def mediaProbe(spark: SparkSession, nBatches: Int, batchRows: Int): Seq[BatchPoint] = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.multimodal.Multimodal
    val rng = new java.util.Random(17L)
    // per-doc content must be VISUALLY distinct: renderDocImage cycles the
    // text bytes through the pixels, so texts differing only in a trailing
    // id digit render near-identical images whose pHashes all sit within
    // the Hamming bound of each other (one giant near-dup class — correct
    // gate behavior, useless throughput data). MD5-expanded content makes
    // every non-planted image noise-distinct.
    def docContent(id: Long): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s"tp media $id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString * 4
    var prev: Seq[(Long, String, Array[Byte])] = Nil
    val batches = (0 until nBatches).map { b =>
      val batch = (0 until batchRows).map { i =>
        val id = b.toLong * batchRows + i
        if (b > 0 && rng.nextDouble() < 0.10) {
          // brightness-jittered re-encode of a previous-batch image: a
          // perceptual near-dup the banded Hamming gate should catch
          val src = prev(rng.nextInt(prev.size))._3
          (id, "image", Multimodal.brightenPng(src, 4))
        } else
          (id, "image", Multimodal.renderDocImage(docContent(id)))
      }
      prev = batch
      batch
    }
    // keyed per frame: compactEvery needs frame_idx in the key
    val schema = MatSchema(Seq(Dimension("doc_id", 100000), Dimension("frame_idx", 1024)),
      Seq(ValueCol("phash")))
    val cp = java.nio.file.Files.createTempDirectory("graft-tp-media").toString
    val input = MemoryStream[(Long, String, Array[Byte])]
    drive[(Long, String, Array[Byte])](spark, schema, input,
      dir => Streams.mediaNearDupIngest(
        input.toDF().toDF("doc_id", "kind", "media"), dir, cp,
        maxDist = 2, compactEvery = 3).start(),
      batches)
  }

  /** Cost growth while history grows: mean of the last two batch times over
    * the mean of batches 1-2 (batch 0 excluded — it pays codegen/JIT). */
  def growthRatio(pts: Seq[BatchPoint]): Double = {
    val warm = pts.drop(1)
    if (warm.size < 4) 1.0
    else {
      val early = warm.take(2).map(_.secs).sum / 2
      val late = warm.takeRight(2).map(_.secs).sum / 2
      late / early
    }
  }

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val results = Seq(
      "exact" -> exactProbe(spark, nBatches = 10, batchRows = 10000),
      "simhash" -> simhashProbe(spark, nBatches = 10, batchRows = 10000),
      "semantic" -> semanticProbe(spark, nBatches = 10, batchRows = 1000),
      "media" -> mediaProbe(spark, nBatches = 6, batchRows = 120))
    results.foreach { case (name, pts) =>
      pts.foreach(p => System.err.println(f"[ingest-tp] $name%-8s b${p.batch}: " +
        f"${p.rowsIn} in, ${p.survivors} committed, ${p.secs}%.2f s, " +
        f"history ${p.historyRows}"))
      System.err.println(f"[ingest-tp] $name%-8s growth ratio ${growthRatio(pts)}%.2f")
    }
    val json = results.map { case (name, pts) =>
      s""""$name":{"batches":${pts.map(_.json).mkString("[", ",", "]")},""" +
        s""""growth_ratio":${growthRatio(pts)}}"""
    }.mkString("{", ",", "}")
    println(json)
    val dir = sys.env.get("SPARK_GRAFT_BENCH_DIR")
      .map(java.nio.file.Paths.get(_))
      .orElse(sys.env.get("SPARK_GRAFT_REPO_ROOT")
        .map(java.nio.file.Paths.get(_, "bench")))
      .getOrElse(java.nio.file.Paths.get("bench"))
      .toAbsolutePath
    try {
      java.nio.file.Files.createDirectories(dir)
      java.nio.file.Files.writeString(dir.resolve("ingest_throughput.json"), json + "\n")
      System.err.println(s"[ingest-tp] wrote ${dir.resolve("ingest_throughput.json")}")
    } catch { case e: Throwable =>
      System.err.println(s"[ingest-tp] could not persist: $e")
    }
    spark.stop()
  }
}
