package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.IvfIndex

/** Evidence for the IVF drift metric (IndexStats): fixed centroids are
  * correct maintenance semantics (Faiss add/remove), but nothing used to
  * tell an operator WHEN the data had drifted away from them — recall
  * sags silently. This probe builds a clustered corpus, trains an index,
  * then drives three maintenance phases and measures BOTH the persisted
  * drift ratio (maintain mean assigned-centroid distance / train
  * baseline) and actual recall@5 against brute force after each fold:
  *
  *   1. SAME-distribution upserts — drift ≈ 1, recall holds;
  *   2. SHIFTED-distribution upserts (new cluster centers) — the drift
  *      ratio climbs past the advisory threshold while recall degrades;
  *   3. re-train + writeIndex REBUILD on the current corpus — drift
  *      resets to 1 and recall restores.
  *
  * Deterministic (fixed seed); DriftSpec pins the direction of each
  * phase on the same numbers. Usage: runMain graft.tools.DriftProbe →
  * one JSON line + bench/drift_probe.json.
  */
object DriftProbe {

  final case class Step(step: Int, phase: String, driftRatio: Double,
      recall: Double)

  private def unitVec(rng: java.util.Random, d: Int): Array[Double] = {
    val v = Array.fill(d)(rng.nextGaussian())
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }

  /** Clustered point: center + small Gaussian jitter, normalized. */
  private def clusterVec(rng: java.util.Random, c: Array[Double],
      eps: Double): Array[Double] = {
    val j = c.zip(unitVec(rng, c.length)).map { case (x, u) => x + eps * u }
    val n = math.sqrt(j.map(x => x * x).sum)
    j.map(_ / n)
  }

  /** Runs the scenario; shared by the spec (small) and main (full). */
  def run(spark: SparkSession, dim: Int, nCenters: Int, perCenter: Int,
      batches: Int, seed: Long): Seq[Step] = {
    import spark.implicits._
    val rng = new java.util.Random(seed)
    val centersA = Array.fill(nCenters)(unitVec(rng, dim))
    val centersB = Array.fill(nCenters)(unitVec(rng, dim)) // the shifted regime
    val corpus = scala.collection.mutable.LinkedHashMap.empty[Long, Array[Double]]
    var nextId = 0L
    def mint(centers: Array[Array[Double]], n: Int): Seq[(Long, Array[Double])] =
      (0 until n).map { i =>
        val id = nextId; nextId += 1
        id -> clusterVec(rng, centers(i % centers.length), eps = 0.15)
      }
    def df(rows: Seq[(Long, Array[Double])]): DataFrame =
      rows.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding")
    def corpusDf: DataFrame = df(corpus.toSeq)

    val root = java.nio.file.Files.createTempDirectory("graft-drift")
    val idx = root.resolve("index").toString

    // initial corpus + index
    val init = mint(centersA, nCenters * perCenter)
    init.foreach { case (id, v) => corpus(id) = v }
    val trained = IvfIndex.train(corpusDf, "vec_id", "embedding",
      k = nCenters, iters = 3).map(_.toSeq).toSeq
    IvfIndex.writeIndex(corpusDf, "vec_id", "embedding", trained, idx)

    val queryIds = corpus.keys.take(20).toSet
    // brute force = a single-centroid "index" probed exhaustively (all
    // normalized vectors are equidistant from the zero vector)
    val bruteCentroids: Seq[Seq[Double]] = Seq(Seq.fill(dim)(0.0))
    def recallAt5: Double = {
      val cur = corpusDf.persist()
      try {
        val queries = df(corpus.filter(kv => queryIds(kv._1)).toSeq)
        val got = IvfIndex.searchIndex(spark, idx, queries, "vec_id", "embedding",
          nprobe = 1, k = 5)
          .select(col("qid"), col("vec_id")).collect()
          .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
        val want = IvfIndex.searchTopK(cur, queries, "vec_id", "embedding",
          bruteCentroids, nprobe = 1, k = 5)
          .select(col("qid"), col("vec_id")).collect()
          .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
        val per = want.map { case (q, w) =>
          got.get(q).fold(0.0)(g => g.intersect(w).size.toDouble / w.size) }
        if (per.isEmpty) 0.0 else per.sum / per.size
      } finally { cur.unpersist(); () }
    }
    def maintain(rows: Seq[(Long, Array[Double])]): Unit = {
      rows.foreach { case (id, v) => corpus(id) = v }
      IvfIndex.maintainIndex(spark, idx, "vec_id",
        df(rows), df(Seq.empty).select(col("vec_id")))
    }
    def ratio: Double = IvfIndex.driftRatio(idx).getOrElse(Double.NaN)

    val steps = scala.collection.mutable.ArrayBuffer.empty[Step]
    var n = 0
    // phase 1: same distribution
    (1 to batches).foreach { _ =>
      maintain(mint(centersA, nCenters * perCenter / 4))
      n += 1; steps += Step(n, "same", ratio, recallAt5)
    }
    // phase 2: shifted distribution REPLACES a growing slice of the corpus
    (1 to batches).foreach { _ =>
      val ids = corpus.keys.toSeq.sortBy(identity).take(corpus.size / 3)
      val shifted = ids.zipWithIndex.map { case (id, i) =>
        id -> clusterVec(rng, centersB(i % centersB.length), eps = 0.15) }
      maintain(shifted)
      n += 1; steps += Step(n, "shifted", ratio, recallAt5)
    }
    // phase 3: rebuild (re-train on the CURRENT corpus)
    val retrained = IvfIndex.train(corpusDf, "vec_id", "embedding",
      k = nCenters, iters = 3).map(_.toSeq).toSeq
    IvfIndex.writeIndex(corpusDf, "vec_id", "embedding", retrained, idx)
    // one same-regime fold so a maintain row exists for the new baseline
    maintain(mint(centersB, nCenters * perCenter / 4))
    n += 1; steps += Step(n, "rebuilt", ratio, recallAt5)
    steps.toSeq
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession()
    val steps = run(spark, dim = 64, nCenters = 16, perCenter = 120,
      batches = 4, seed = 42L)
    val same = steps.filter(_.phase == "same")
    val shifted = steps.filter(_.phase == "shifted")
    val rebuilt = steps.filter(_.phase == "rebuilt")
    val json =
      s"""{"metric":"ivf_drift","steps":[${steps.map(s =>
        s"""{"step":${s.step},"phase":"${s.phase}","drift_ratio":${s.driftRatio},"recall_at5":${s.recall}}""")
        .mkString(",")}],""" +
      s""""same_max_ratio":${same.map(_.driftRatio).max},""" +
      s""""shifted_final_ratio":${shifted.last.driftRatio},""" +
      s""""same_min_recall":${same.map(_.recall).min},""" +
      s""""shifted_final_recall":${shifted.last.recall},""" +
      s""""rebuilt_ratio":${rebuilt.last.driftRatio},""" +
      s""""rebuilt_recall":${rebuilt.last.recall}}"""
    println(json)
    java.nio.file.Files.write(java.nio.file.Paths.get("bench/drift_probe.json"),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
  }
}
