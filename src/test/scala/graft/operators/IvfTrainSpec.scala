package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.TestSpark

/** Driver-side training and the job budget of the ANN index operations.
  * `train` fits one bounded sample (at most 256·k rows, one job) with a
  * driver-side Lloyd; below the cap that is the whole input, so it must
  * reproduce a plain-Scala reference Lloyd over every row exactly. The
  * job counts pin what each operation submits: index layouts are read
  * under a known schema (no inference job), centroids in one collect, and
  * search probes are computed on the driver. */
class IvfTrainSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def emb = spark.read.parquet(s"$sf/embeddings.parquet")

  /** (id, float vector as doubles) in id order. */
  private def vectors(): Array[Array[Double]] =
    emb.select(col("vec_id"), col("embedding").cast("array<double>")).collect()
      .sortBy(_.getLong(0)).map(_.getSeq[Double](1).toArray)

  private def sqDist(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    for (i <- a.indices) { val d = a(i) - b(i); s += d * d }
    s
  }

  private def unit(a: Array[Double]): Array[Double] = {
    val n = math.sqrt(a.map(x => x * x).sum); a.map(_ / n)
  }

  /** Textbook Lloyd: nearest centroid (ties → lowest index), mean in point
    * order, `fix` applied to each new mean; empty clusters stay put. */
  private def referenceLloyd(points: Array[Array[Double]], k: Int, iters: Int,
      fix: (Array[Double], Array[Double]) => Array[Double]): Seq[Seq[Double]] = {
    var cs = points.take(k)
    for (_ <- 0 until iters) {
      val nearest = points.map(p => cs.indices.minBy(c => (sqDist(p, cs(c)), c)))
      cs = cs.indices.map { c =>
        val mine = points.indices.filter(nearest(_) == c).map(points)
        if (mine.isEmpty) cs(c)
        else {
          val sum = new Array[Double](points.head.length)
          mine.foreach(p => p.indices.foreach(i => sum(i) += p(i)))
          fix(sum.map(_ / mine.size), cs(c))
        }
      }.toArray
    }
    cs.map(_.toSeq).toSeq
  }

  test("train equals a plain-Scala reference Lloyd below the sample cap (IVF and PQ)") {
    val raw = vectors()
    assert(raw.length <= IvfIndex.SamplePerCentroid * 8, "test premise: input under the cap")
    val ivf = IvfIndex.train(emb, "vec_id", "embedding", k = 8, iters = 4).map(_.toSeq).toSeq
    val ivfRef = referenceLloyd(raw.map(unit), 8, 4, (mean, old) => {
      val n = math.sqrt(mean.map(x => x * x).sum)
      if (n > 0) mean.map(_ / n) else old
    })
    assert(ivf === ivfRef, "spherical IVF centroids must match the reference exactly")

    val cb = PqIndex.train(emb, "vec_id", "embedding", m = 8, k = 16, iters = 3)
    val subDim = raw.head.length / 8
    (0 until 8).foreach { s =>
      val ref = referenceLloyd(raw.map(_.slice(s * subDim, (s + 1) * subDim)), 16, 3,
        (mean, _) => mean)
      assert(cb.codes(s).map(_.toSeq).toSeq === ref, s"PQ subspace $s codebook")
    }
  }

  test("the training sample holds at most 256·k rows, the same under any partitioning") {
    import spark.implicits._
    val k = 2
    val cap = IvfIndex.SamplePerCentroid * k
    // the vector carries its id, so the sample names the rows it kept
    def input(n: Int) = (0 until n).map(i => (i.toLong, Seq(i.toDouble, 1.0)))
      .toDF("id", "vec")
    def sampleIds(df: org.apache.spark.sql.DataFrame) =
      IvfIndex.trainingSample(df, "id", col("vec"), k).map(_.head.toLong).toSeq

    val big = input(cap + 300)
    val one = sampleIds(big.coalesce(1))
    assert(one.size === cap)
    assert(one === one.sorted, "the sample comes back in id order")
    assert(one.toSet.size === cap && one.forall(i => i >= 0 && i < cap + 300))
    assert(sampleIds(big.repartition(7)) === one, "repartitioning must not move the sample")
    assert(sampleIds(big.repartition(3, col("id"))) === one)
    // not simply the first rows by id: the sample spans the whole id range
    assert(one.max >= cap)

    val small = input(cap - 100)
    assert(sampleIds(small.repartition(5)) === (0L until (cap - 100).toLong),
      "an input under the cap is sampled whole")
  }

  test("job counts: train 1, readCentroids 1, searchIndex <= 4, retrain <= 6, maintain -2") {
    val corpus = emb
    val (trained, trainJobs) = TestSpark.jobsOf(IvfIndex.train(corpus, "vec_id", "embedding", k = 8, iters = 4))
    val centroids = trained.map(_.toSeq).toSeq
    val path = java.nio.file.Files.createTempDirectory("graft-ivf-jobs").toString
    IvfIndex.writeIndex(corpus, "vec_id", "embedding", centroids, path)
    val (_, readJobs) = TestSpark.jobsOf(IvfIndex.readCentroids(spark, path))
    // one maintenance fold: antipodal upserts (bucket moves) plus deletes
    val upserts = corpus.where(col("vec_id") % 7 === 1)
      .select(col("vec_id"), expr("transform(embedding, x -> -x)").as("embedding"))
    val deletes = corpus.where(col("vec_id") % 11 === 3 && col("vec_id") % 7 =!= 1)
      .select(col("vec_id"))
    val (_, maintainJobs) = TestSpark.jobsOf(
      IvfIndex.maintainIndex(spark, path, "vec_id", upserts, deletes, Some(centroids)))
    // search and retrain over the maintained layout (one pending generation)
    val queries = corpus.where(col("vec_id") < 4)
    val (found, searchJobs) = TestSpark.jobsOf(IvfIndex.searchIndex(spark, path, queries,
      "vec_id", "embedding", nprobe = 2, k = 5, Some(centroids)).collect())
    assert(found.length === 20)
    val (_, retrainJobs) = TestSpark.jobsOf(IvfIndex.retrain(spark, path, iters = 3))
    info(s"jobs: train=$trainJobs readCentroids=$readJobs maintain=$maintainJobs " +
      s"search=$searchJobs retrain=$retrainJobs")
    assert(trainJobs === 1)
    assert(readJobs === 1)
    assert(searchJobs <= 4)
    assert(retrainJobs <= 6)
    assert(maintainJobs <= MaintainJobsBefore - 2)
  }

  /** `maintainIndex` jobs for the fold above before index layouts were
    * read under their known schema (base and generation reads each ran a
    * schema-inference job). */
  private val MaintainJobsBefore = 5
}
