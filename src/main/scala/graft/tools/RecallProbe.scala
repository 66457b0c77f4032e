package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Recall measurement for the two APPROXIMATE streaming dedup gates —
  * the companion evidence to their property specs, which prove the
  * implementations match their declared candidate models but never
  * quantify the models against brute force:
  *
  *   - [[graft.streaming.Streams.semanticNoveltyFilter]] checks a batch
  *     vector only against history sharing one of its `nprobe` probed IVF
  *     buckets — a true near-dup stored under a bucket the query does not
  *     probe slips through (standard SemDeDup/IVF behavior). This probe
  *     plants jittered duplicates of history vectors at realistic
  *     dimension (d = 256 by default), brute-forces the true duplicate
  *     set, and reports drop-recall per nprobe and jitter radius, plus
  *     false drops (novel vectors wrongly removed — must be 0).
  *   - [[graft.streaming.Streams.mediaNearDupFilter]]'s banded candidate
  *     join is EXACT for Hamming ≤ maxDist (3-band pigeonhole), so its
  *     only recall loss is upstream: whether a perceptual edit keeps the
  *     pHash within maxDist at all. The probe measures the Hamming
  *     distribution of brightness-jittered re-encodes per jitter level
  *     and reports in-range recall per (level, maxDist).
  *
  * Everything is deterministic (fixed seed, fixed doc texts) so
  * RecallProbeSpec can pin floors on the same numbers this tool reports.
  * Usage: runMain graft.tools.RecallProbe  → one JSON line + a
  * `recall_probe.json` artifact next to the bench outputs.
  */
object RecallProbe {

  /** Deterministic unit vector (Gaussian components, L2-normalized). */
  private def unitVec(rng: java.util.Random, d: Int): Array[Double] = {
    val v = Array.fill(d)(rng.nextGaussian())
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }

  /** `v` nudged by a UNIT noise direction scaled to `eps`, re-normalized:
    * cosine to the source is ≈ 1/sqrt(1+eps²) whatever the dimension —
    * eps 0.05 ≈ 0.99875, eps 0.12 ≈ 0.9929 (a raw Gaussian nudge would
    * scale with sqrt(d) and land nowhere near the tau band at d=256). */
  private def jitterVec(rng: java.util.Random, v: Array[Double], eps: Double): Array[Double] = {
    val g = unitVec(rng, v.length)
    val j = v.zip(g).map { case (x, u) => x + eps * u }
    val n = math.sqrt(j.map(x => x * x).sum)
    j.map(_ / n)
  }

  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }
  private def cosine(a: Array[Double], b: Array[Double]): Double =
    dot(a, b) / math.sqrt(dot(a, a) * dot(b, b))

  /** First-index argmax-dot — array_position semantics, the assignment
    * rule the filter and the ingest sink share. */
  private def assignBucket(v: Array[Double], cents: Seq[Array[Double]]): Int = {
    val ds = cents.map(dot(v, _))
    ds.indexOf(ds.max)
  }

  final case class SemanticPoint(nprobe: Int, eps: Double, planted: Int,
      trueDups: Int, caught: Int, recall: Double, falseDrops: Int)

  /** Plant `nPlanted` jittered duplicates (per eps) and `nNovel` fresh
    * vectors against an `nHist`-vector history at dimension `d` under a
    * k-centroid IVF; brute-force the true-dup set; run the filter per
    * nprobe; report recall = caught/trueDups and falseDrops. */
  def semanticRecall(spark: SparkSession, d: Int = 256, nHist: Int = 2000,
      nPlanted: Int = 300, nNovel: Int = 200, k: Int = 32, tau: Double = 0.99,
      epsList: Seq[Double] = Seq(0.02, 0.05, 0.12), nprobes: Seq[Int] = Seq(1, 2, 3),
      seed: Long = 41L): Seq[SemanticPoint] = {
    import spark.implicits._
    val rng = new java.util.Random(seed)
    val hist = Array.tabulate(nHist)(i => (i.toLong, unitVec(rng, d)))
    // train on a deterministic half-sample, like a production deploy
    val histDfRaw = hist.toSeq.map { case (i, v) => (i, v.toSeq) }
      .toDF("vec_id", "embedding")
    val cents = graft.operators.IvfIndex.train(
      histDfRaw.where(col("vec_id") % 2 === 0), "vec_id", "embedding", k, iters = 3)
      .map(_.toArray)
    val centSeqs = cents.toSeq.map(_.toSeq)
    // history stored WITH its primary bucket, as the ingest sink persists it
    val histDf = hist.toSeq.map { case (i, v) =>
      (i, v.toSeq, assignBucket(v, cents.toSeq).toLong) }
      .toDF("vec_id", "embedding", "bucket")

    epsList.flatMap { eps =>
      val planted = Array.tabulate(nPlanted) { i =>
        val src = hist(rng.nextInt(nHist))._2
        (1000000L + i, jitterVec(rng, src, eps))
      }
      val novel = Array.tabulate(nNovel)(i => (2000000L + i, unitVec(rng, d)))
      val batch = planted ++ novel
      // ground truth by brute force over ALL history
      val trueDupIds = batch.filter { case (_, v) =>
        hist.exists { case (_, h) => cosine(h, v) >= tau } }.map(_._1).toSet
      val batchDf = batch.toSeq.map { case (i, v) => (i, v.toSeq) }
        .toDF("vec_id", "embedding")
      nprobes.map { np =>
        val survivors = graft.streaming.Streams.semanticNoveltyFilter(
            batchDf, histDf, "vec_id", "embedding", centSeqs, tau, np)
          .select("vec_id").as[Long].collect().toSet
        val dropped = batch.map(_._1).toSet -- survivors
        val caught = (dropped & trueDupIds).size
        val falseDrops = (dropped -- trueDupIds).size
        SemanticPoint(np, eps, nPlanted, trueDupIds.size, caught,
          if (trueDupIds.isEmpty) 1.0 else caught.toDouble / trueDupIds.size,
          falseDrops)
      }
    }
  }

  final case class MediaPoint(delta: Int, maxDist: Int, planted: Int,
      within: Int, recall: Double, meanHamming: Double)

  final case class MediaGatePoint(delta: Int, maxDist: Int, bands: Int,
      planted: Int, dropped: Int, recall: Double, missed: Int)

  /** END-TO-END recall of [[graft.streaming.Streams.mediaNearDupFilter]]
    * at each (maxDist, bands) setting: plant brightness-jittered
    * re-encodes of committed frames as a batch of fresh doc ids and count
    * how many the gate actually drops. The banded join being
    * pigeonhole-exact for maxDist ≤ bands-1, the drop set must CONTAIN
    * every doc whose own jitter Hamming is ≤ maxDist — `missed` counts
    * the guaranteed drops the gate failed to make and must be 0 (dropped
    * can exceed the within-range count: a jitter may also near-match a
    * DIFFERENT history doc, or a smaller-id batch doc). The sweep shows
    * what raising the band count buys: the mean jitter Hamming sits near
    * 2.7 on this population, past the 3-band default's reach. */
  def mediaGateRecall(spark: SparkSession, nDocs: Int = 300, delta: Int = 16,
      settings: Seq[(Int, Int)] = Seq((2, 3), (3, 4), (4, 5), (6, 7)))
      : Seq[MediaGatePoint] = {
    import spark.implicits._
    import graft.multimodal.Multimodal
    val pairs = Array.tabulate(nDocs) { i =>
      val png = Multimodal.renderDocImage(s"recall probe document payload $i")
      def ph(b: Array[Byte]) =
        Multimodal.decodeImage(b).map(Multimodal.phash64).getOrElse(0L)
      (ph(png), ph(Multimodal.brightenPng(png, delta)))
    }
    val history = pairs.zipWithIndex.toSeq
      .map { case ((h, _), i) => (i.toLong, 0L, h) }
      .toDF("doc_id", "frame_idx", "phash")
    val batch = pairs.zipWithIndex.toSeq
      .map { case ((_, j), i) => (100000L + i, 0L, j) }
      .toDF("doc_id", "frame_idx", "phash")
    settings.map { case (maxDist, bands) =>
      val survivorIds = graft.streaming.Streams
        .mediaNearDupFilter(batch, history, minFrames = 1, maxDist, bands)
        .select("doc_id").as[Long].collect().toSet
      val dropped = nDocs - survivorIds.size
      val missed = pairs.zipWithIndex.count { case ((h, j), i) =>
        java.lang.Long.bitCount(h ^ j) <= maxDist && survivorIds(100000L + i)
      }
      MediaGatePoint(delta, maxDist, bands, nDocs, dropped,
        dropped.toDouble / nDocs, missed)
    }
  }

  /** Hamming distribution of pHash under brightness-jittered PNG
    * re-encode, per jitter level: the banded join being pigeonhole-exact,
    * this IS the media gate's recall curve. */
  def mediaRecall(spark: SparkSession, nDocs: Int = 300,
      deltas: Seq[Int] = Seq(4, 8, 16, 32),
      maxDists: Seq[Int] = Seq(1, 2)): Seq[MediaPoint] = {
    import graft.multimodal.Multimodal
    val hammings: Map[Int, Array[Int]] = deltas.map { delta =>
      delta -> Array.tabulate(nDocs) { i =>
        val png = Multimodal.renderDocImage(s"recall probe document payload $i")
        def ph(b: Array[Byte]) =
          Multimodal.decodeImage(b).map(Multimodal.phash64).getOrElse(0L)
        java.lang.Long.bitCount(ph(png) ^ ph(Multimodal.brightenPng(png, delta)))
      }
    }.toMap
    for (delta <- deltas; md <- maxDists) yield {
      val hs = hammings(delta)
      val within = hs.count(_ <= md)
      MediaPoint(delta, md, nDocs, within, within.toDouble / nDocs,
        hs.sum.toDouble / nDocs)
    }
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession()
    val sem = semanticRecall(spark)
    val med = mediaRecall(spark, maxDists = Seq(1, 2, 3, 4, 6))
    val gate = mediaGateRecall(spark)
    val semJson = sem.map(p =>
      s"""{"nprobe":${p.nprobe},"eps":${p.eps},"planted":${p.planted},""" +
        s""""true_dups":${p.trueDups},"caught":${p.caught},""" +
        s""""recall":${p.recall},"false_drops":${p.falseDrops}}""")
      .mkString("[", ",", "]")
    val medJson = med.map(p =>
      s"""{"brightness_delta":${p.delta},"max_dist":${p.maxDist},""" +
        s""""planted":${p.planted},"within":${p.within},"recall":${p.recall},""" +
        s""""mean_hamming":${p.meanHamming}}""")
      .mkString("[", ",", "]")
    val gateJson = gate.map(p =>
      s"""{"brightness_delta":${p.delta},"max_dist":${p.maxDist},""" +
        s""""bands":${p.bands},"planted":${p.planted},"dropped":${p.dropped},""" +
        s""""recall":${p.recall},"missed":${p.missed}}""")
      .mkString("[", ",", "]")
    val line = s"""{"semantic":$semJson,"media":$medJson,"media_gate":$gateJson}"""
    println(line)
    val dir = sys.env.get("SPARK_GRAFT_BENCH_DIR")
      .map(java.nio.file.Paths.get(_))
      .orElse(sys.env.get("SPARK_GRAFT_REPO_ROOT")
        .map(java.nio.file.Paths.get(_, "bench")))
      .getOrElse(java.nio.file.Paths.get("bench"))
      .toAbsolutePath
    try {
      java.nio.file.Files.createDirectories(dir)
      java.nio.file.Files.writeString(dir.resolve("recall_probe.json"), line + "\n")
      System.err.println(s"[recall] wrote ${dir.resolve("recall_probe.json")}")
    } catch { case e: Throwable =>
      System.err.println(s"[recall] could not persist: $e")
    }
    spark.stop()
  }
}
