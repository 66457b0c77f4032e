package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.TestSpark

/** Product-quantization invariants. Approximation quality on the driver's
  * near-uniform-sphere embeddings (the hard case for ANY quantizer — no
  * cluster structure to exploit; see IvfSpec's corpus note): measured
  * recall@5 vs exact brute force at m=8, k=16, iters=4 is ~0.18 pure-ADC
  * and ~0.54 after a 20-deep exact re-rank, on 50 vectors / 10 queries
  * (real corpora cluster, so both sit far higher); floors assert
  * measured-minus-margin, plus structural identities that do not depend
  * on the data: the ADC distance IS the exact distance to the code
  * reconstruction, refine never loses recall, and training reduces total
  * quantization error vs the untrained init. */
class PqSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def emb = spark.read.parquet(s"$sf/embeddings.parquet")

  test("codebook round-trips through parquet byte-identically") {
    val cb = PqIndex.train(emb, "vec_id", "embedding", m = 8, k = 16, iters = 2)
    assert(cb.m === 8 && cb.subDim === 8 && cb.k === 16)
    val path = s"${System.getProperty("java.io.tmpdir")}/graft-pqspec-cb"
    PqIndex.writeCodebook(spark, cb, path)
    val back = PqIndex.readCodebook(spark, path)
    assert(back.m === cb.m && back.subDim === cb.subDim)
    for (s <- 0 until cb.m; c <- 0 until cb.k)
      assert(java.util.Arrays.equals(back.codes(s)(c), cb.codes(s)(c)),
        s"codebook[$s][$c] changed in the round trip")
  }

  test("ADC distance equals exact distance to the code reconstruction") {
    val cb = PqIndex.train(emb, "vec_id", "embedding", m = 8, k = 16, iters = 2)
    val enc = PqIndex.encode(emb, "vec_id", "embedding", cb)
    val queries = emb.where(col("vec_id") < 3)
    val adc = PqIndex.adcSearch(enc, queries, "vec_id", "embedding", cb, k = 5)
      .select("qid", "vec_id", "approx_dist").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // reconstruct each encoded vector on the driver and recompute exactly
    val codes = enc.collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val vecs = emb.select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    adc.foreach { case ((qid, vid), d) =>
      val rec = codes(vid).zipWithIndex.flatMap { case (c, s) => cb.codes(s)(c) }
      val exact = vecs(qid).zip(rec).map { case (a, b) => (a - b) * (a - b) }.sum
      assert(math.abs(d - exact) < 1e-9,
        s"ADC($qid,$vid)=$d but reconstruction distance=$exact")
    }
  }

  test("recall@5 floor vs exact brute force; training reduces quantization error") {
    val cb = PqIndex.train(emb, "vec_id", "embedding", m = 8, k = 16, iters = 4)
    val enc = PqIndex.encode(emb, "vec_id", "embedding", cb)
    val queries = emb.where(col("vec_id") < 10)
    val approx = PqIndex.adcSearch(enc, queries, "vec_id", "embedding", cb, k = 5)
      .select("qid", "vec_id")
    // exact top-5 by true squared distance (same tie rules)
    graft.functions.VectorOps.register(spark)
    val q = queries.select(col("vec_id").as("qid"),
      col("embedding").cast("array<double>").as("qv"))
    val truth = broadcast(q).crossJoin(
        emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v")))
      .where(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        graft.functions.VectorOps.sqDistCol(col("qv"), col("v")).as("dd"))
      .withColumn("rn", row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid")).orderBy(col("dd"), col("vec_id"))))
      .where(col("rn") <= 5).select("qid", "vec_id")
    val truthN = truth.count()
    val recall = approx.intersect(truth).count().toDouble / truthN
    info(f"PQ recall@5 (m=8, k=16) = $recall%.3f")
    assert(recall >= 0.10, s"ADC recall@5 was $recall")
    // exact re-rank of a 20-deep ADC shortlist (the refine stage) must
    // recover most of what pure-ADC ranking loses
    val refined = PqIndex.adcSearchRefined(enc, emb, queries,
        "vec_id", "embedding", cb, k = 5, shortlist = 20)
      .select("qid", "vec_id")
    val rRef = refined.intersect(truth).count().toDouble / truthN
    info(f"PQ refined recall@5 (shortlist=20) = $rRef%.3f")
    assert(rRef >= recall, s"refine must not lose recall ($recall -> $rRef)")
    assert(rRef >= 0.5, s"refined recall@5 was $rRef")

    // total quantization error: trained codebook beats the untrained init
    def qerr(c: PqIndex.Codebook): Double = {
      val e = PqIndex.encode(emb, "vec_id", "embedding", c)
      val vecs = emb.select(col("vec_id"), col("embedding").cast("array<double>"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
      e.collect().map { r =>
        val rec = r.getSeq[Int](1).zipWithIndex.flatMap { case (cd, s) => c.codes(s)(cd) }
        vecs(r.getLong(0)).zip(rec).map { case (a, b) => (a - b) * (a - b) }.sum
      }.sum
    }
    val untrained = PqIndex.train(emb, "vec_id", "embedding", m = 8, k = 16, iters = 0)
    val e0 = qerr(untrained); val e4 = qerr(cb)
    info(f"quantization error: untrained=$e0%.3f trained=$e4%.3f")
    assert(e4 < e0, s"training must reduce quantization error ($e0 -> $e4)")
  }

  test("IVF-PQ refine with a full-depth shortlist equals exact search within probed buckets") {
    graft.functions.VectorOps.register(spark)
    val cb = PqIndex.train(emb, "vec_id", "embedding", m = 8, k = 16, iters = 2)
    val cent = IvfIndex.train(emb, "vec_id", "embedding", k = 4, iters = 2)
    val dl = array(cent.toSeq.map(c => graft.functions.VectorOps.dotCol(
      col("embedding").cast("array<double>"), typedlit(c.toSeq))): _*)
    val assigned = emb.withColumn("dl", dl)
      .withColumn("bucket", expr("array_position(dl, array_max(dl)) - 1"))
    val encA = assigned.select(col("vec_id"), col("bucket"))
      .join(PqIndex.encode(emb, "vec_id", "embedding", cb), Seq("vec_id"))
    val probes = assigned.where(col("vec_id") < 5)
      .withColumn("b2", coalesce(
        expr("array_position(dl, array_max(filter(dl, x -> x != array_max(dl)))) - 1"),
        col("bucket")))
      .select(col("vec_id").as("qid"), col("embedding").as("qv"),
        explode(array_distinct(array(col("bucket"), col("b2")))).as("bucket"))
    // shortlist = whole corpus → ADC ranking cannot drop anything, so the
    // exact re-rank must reproduce brute-force search restricted to the
    // probed buckets — a deterministic identity, not a recall floor
    val n = emb.count().toInt
    val got = PqIndex.ivfAdcSearchRefined(encA, emb, probes,
        "vec_id", "embedding", "qv", cb, k = 5, shortlist = n)
      .select("qid", "vec_id", "dist").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val exact = broadcast(probes.select(col("qid"),
        col("qv").cast("array<double>").as("qd"), col("bucket")))
      .join(assigned.select(col("vec_id"), col("bucket"),
        col("embedding").cast("array<double>").as("v")), Seq("bucket"))
      .where(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        graft.functions.VectorOps.sqDistCol(col("qd"), col("v")).as("dd"))
      .withColumn("rn", row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid")).orderBy(col("dd"), col("vec_id"))))
      .where(col("rn") <= 5)
      .select("qid", "vec_id", "dd").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got.keySet === exact.keySet,
      s"IVF-PQ full-shortlist result diverged from in-bucket exact search")
    got.foreach { case (k_, d) => assert(d === exact(k_), s"dist mismatch at $k_") }
    // and with nprobe=2 of 4 buckets the usual case still finds neighbors
    assert(got.keys.map(_._1).toSet.size === 5, "every query returned rows")
  }

  test("persisted IVF-PQ layout: search matches the in-memory composition; maintenance follows DML") {
    import java.nio.file.{Files => JF, Paths => JP}
    graft.functions.VectorOps.register(spark)
    val cb = PqIndex.train(emb, "vec_id", "embedding", m = 8, k = 16, iters = 2)
    val cent = IvfIndex.train(emb, "vec_id", "embedding", k = 8, iters = 3)
      .map(_.toSeq).toSeq
    val path = java.nio.file.Files.createTempDirectory("graft-ivfpq").toString
    PqIndex.writeIvfPq(emb, "vec_id", "embedding", cent, cb, path)
    def queriesOf(df: org.apache.spark.sql.DataFrame) = df.where(col("vec_id") < 3)
    // the persisted search equals the same composition built in memory
    def inMemory(corpus: org.apache.spark.sql.DataFrame) = {
      val encA = IvfIndex.assign(
          corpus.select(col("vec_id"), col("embedding"),
            IvfIndex.normalized(col("embedding")).as("_nv")), "_nv", cent)
        .select(col("vec_id"),
          PqIndex.codesCol(col("embedding"), cb).as("codes"), col("bucket"))
      val probes = IvfIndex.probes(
        queriesOf(corpus).select(col("vec_id").as("qid"), col("embedding").as("_qraw"),
          IvfIndex.normalized(col("embedding")).as("_qn")), "_qn", cent, 3)
      PqIndex.ivfAdcSearchRefined(encA, corpus,
          probes.select(col("qid"), col("_qraw"), col("bucket")),
          "vec_id", "embedding", "_qraw", cb, k = 5, shortlist = 10)
        .select(col("qid"), col("vec_id"), col("dist"), col("rn"))
    }
    def fromIndex(corpus: org.apache.spark.sql.DataFrame) =
      PqIndex.searchIvfPq(spark, path, corpus, queriesOf(corpus),
          "vec_id", "embedding", nprobe = 3, k = 5, shortlist = 10)
        .select(col("qid"), col("vec_id"), col("dist"), col("rn"))
    assert(fromIndex(emb).except(inMemory(emb)).count() === 0L)
    assert(inMemory(emb).except(fromIndex(emb)).count() === 0L)
    // the codes scan prunes to the probed bucket directories
    val plan = fromIndex(emb).queryExecution.executedPlan.toString
    val codesScan = plan.linesIterator
      .filter(_.contains("FileScan")).find(_.contains("/codes")).getOrElse("")
    assert(codesScan.contains("PartitionFilters: [bucket"),
      s"bucket isin not a partition filter on the codes scan:\n$plan")

    // maintenance: antipodal upserts (bucket moves) + disjoint deletes;
    // untouched buckets keep their files byte-identical
    val upserts = emb.where(col("vec_id") % 7 === 1)
      .select(col("vec_id"), expr("transform(embedding, x -> -x)").as("embedding"))
    val deletes = emb.where(col("vec_id") % 11 === 3 && col("vec_id") % 7 =!= 1)
      .select(col("vec_id"))
    val postDml = emb.where(!(col("vec_id") % 11 === 3 && col("vec_id") % 7 =!= 1))
      .select(col("vec_id"), when(col("vec_id") % 7 === 1,
        expr("transform(embedding, x -> -x)")).otherwise(col("embedding")).as("embedding"))
    val touchedBuckets = IvfIndex.assign(
        emb.join(upserts.select("vec_id").unionByName(deletes), Seq("vec_id"), "left_semi")
          .select(col("vec_id"), IvfIndex.normalized(col("embedding")).as("v"))
          .unionByName(upserts
            .select(col("vec_id"), IvfIndex.normalized(col("embedding")).as("v"))),
        "v", cent)
      .select("bucket").collect().map(_.getInt(0)).toSet
    val untouched = (0 until 8).find(b => !touchedBuckets.contains(b))
    def files(b: Int): Seq[(String, Long)] = {
      val d = JP.get(s"$path/codes/bucket=$b")
      if (!JF.isDirectory(d)) Seq.empty
      else {
        val s = JF.list(d)
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala.map(p => p.getFileName.toString -> JF.size(p)).toSeq.sorted
        } finally s.close()
      }
    }
    val before = untouched.map(files)
    PqIndex.maintainIvfPq(spark, path, "vec_id", upserts, deletes)
    untouched.foreach(b => assert(files(b) === before.get,
      s"untouched bucket $b must keep its files"))
    assert(fromIndex(postDml).except(inMemory(postDml)).count() === 0L)
    assert(inMemory(postDml).except(fromIndex(postDml)).count() === 0L)
    // the RESOLVED layout (base + pending delta generations) matches the
    // post-DML corpus; the base alone still holds superseded rows until
    // compaction folds them away
    assert(IvfIndex.readLayout(spark, s"$path/codes", "vec_id").count()
      === postDml.count())
    IvfIndex.compactLayout(spark, s"$path/codes", "vec_id")
    assert(spark.read.parquet(s"$path/codes").count() === postDml.count())
    assert(fromIndex(postDml).except(inMemory(postDml)).count() === 0L,
      "answers must survive layout compaction")
  }

  test("searchIvfPq probes through literals: no probe-side broadcast job") {
    graft.functions.VectorOps.register(spark)
    val cb = PqIndex.train(emb, "vec_id", "embedding", m = 8, k = 16, iters = 2)
    val cent = IvfIndex.train(emb, "vec_id", "embedding", k = 8, iters = 3)
      .map(_.toSeq).toSeq
    val path = java.nio.file.Files.createTempDirectory("graft-ivfpq-jobs").toString
    PqIndex.writeIvfPq(emb, "vec_id", "embedding", cent, cb, path)
    val (found, jobs) = TestSpark.jobsOf(PqIndex.searchIvfPq(spark, path, emb,
      emb.where(col("vec_id") < 3), "vec_id", "embedding", nprobe = 3, k = 5,
      shortlist = 10, Some(cent), Some(cb)).collect())
    info(s"searchIvfPq jobs: $jobs")
    assert(found.length === 15)
    assert(jobs <= SearchJobsBefore - 3)
  }

  /** `searchIvfPq` jobs for the search above while its probes crossed to
    * the executors as a broadcast local relation. */
  private val SearchJobsBefore = 10
}
