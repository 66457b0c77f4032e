package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Pipeline scale probe: runs the dedup/similarity operators on a corpus
  * scaled N× beyond sf0.1. Each clone rewrites every token as a hash of
  * (token, clone id), which preserves per-document token counts and keeps
  * every near-dup cluster of the real corpus intact WITHIN its clone
  * (same-vocabulary relabeling) while guaranteeing zero token overlap
  * ACROSS clones — so true-pair density per document is constant and the
  * candidate/pair volume of every stage must grow LINEARLY with the
  * corpus (exactly for shingle-based stages; approximately for simhash,
  * whose borderline pairs depend on each clone's vocabulary hashes —
  * ScaleLinearitySpec pins both properties, including zero cross-clone
  * pairs). That linearity is what the probe exists to demonstrate: a
  * stage whose time grows faster than the corpus has a quadratic join or
  * an uncapped hot key. The generated corpus is materialized to parquet
  * first; the probe times the operators, not the generator.
  *
  * Measures (docs/s): signature kernels (simhash56 / minhash16 /
  * winnow56+word_grams), exact dedup, the 3×19-bit banded SimHash-Hamming
  * join, df-capped n-gram-Jaccard pairs, passage-level dedup, and
  * train×eval decontamination.
  * Usage: runMain graft.tools.PipelineScaleProbe [copies=20]  (20 ⇒ 100k
  * docs ≈ 20× sf0.1; 200 ⇒ 1M docs)
  *
  * Measurement caveat for THIS container: /tmp sustains ~36 MB/s
  * (measured with dd+fdatasync), so shuffle-heavy stages here are
  * DISK-bound and their wall-clock swings minutes with IO contention;
  * the map-only kernel stages and the row counts (which must scale
  * linearly in `copies`) are the reliable signals. On real cluster
  * hardware the shuffle stages are network/CPU-bound.
  */
object PipelineScaleProbe {

  /** The clone-scaled corpus: every token rewritten as a 6-hex-char hash
    * of (token, clone id). Shared with ScaleLinearitySpec so the CI
    * linearity pin and the probe measure the SAME corpus construction. */
  def clonedCorpus(base: DataFrame, copies: Int): DataFrame = {
    val nBase = base.count()
    base.sparkSession.range(copies).crossJoin(base)
      .select((col("doc_id") + col("id") * nBase).as("doc_id"),
        concat_ws(" ", transform(split(lower(col("text")), "\\s+"),
          t => substring(md5(concat(t, lit("#"), col("id"))), 1, 6))).as("text"))
  }

  def main(args: Array[String]): Unit = {
    val copies = args.headOption.map(_.toInt).getOrElse(20)
    val spark = graft.GraftSession()
    graft.functions.TextOps.register(spark)

    val base = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
      .select(col("doc_id"), col("text"))
    val corpusPath = java.nio.file.Files.createTempDirectory("graft-pscale").toString
    clonedCorpus(base, copies).write.mode("overwrite").parquet(corpusPath)
    val docs = spark.read.parquet(corpusPath)
    val n = docs.count()
    println(s"[pscale] corpus: $n docs (${copies}x sf0.1)")

    def timed(label: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val rows = f
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"[pscale] $label%-34s $dt%8.2f s  ${n / dt / 1000}%8.0fk docs/s  ($rows rows)")
    }

    import graft.functions.TextOps
    timed("simhash56 signatures") {
      docs.select(TextOps.simhash56Col(split(lower(col("text")), "\\s+")).as("s"))
        .agg(sum(col("s"))).count()
    }
    timed("minhash16 signatures") {
      docs.select(TextOps.minhash16Col(TextOps.shinglesCol(col("text"), lit(3))).as("m"))
        .agg(sum(element_at(col("m"), 1))).count()
    }
    timed("winnow56 fingerprints") {
      docs.select(explode(TextOps.winnow56Col(
        TextOps.gramsCol(col("text"), lit(3)), lit(5))).as("fp")).count()
    }
    timed("exact dedup (prefix-40 groups)") {
      docs.groupBy(substring(lower(col("text")), 1, 40).as("k"))
        .agg(count(lit(1)).as("c"), min(col("doc_id")))
        .where(col("c") > 1).count()
    }
    timed("simhash hamming<=2 pairs (banded)") {
      val sims = docs.select(col("doc_id"),
        TextOps.simhash56Col(split(lower(col("text")), "\\s+")).as("simhash"))
      graft.operators.SimHashBands.hammingPairs(sims, "doc_id", maxDist = 2).count()
    }
    timed("capped n-gram-Jaccard pairs >= 0.25") {
      val ex = graft.operators.NearDup.shinglesWithSize(docs, "doc_id", "text")
        .select(col("doc_id"), col(graft.operators.NearDup.SizeCol), TextOps.h56Col(col("g")).as("g"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val out = graft.operators.NearDup.cappedJaccardPairs(ex, "doc_id", 100L)
        .where(col("jaccard") >= 0.25).count()
      ex.unpersist(blocking = false)
      out
    }
    timed("passage dedup (10-token chunks)") {
      graft.queries.Curation.passageChunks(docs)
        .groupBy(TextOps.h56Col(col("chunk")).as("h")).agg(count(lit(1)).as("c"))
        .where(col("c") > 1).count()
    }
    timed("sequence packing (512-token cut)") {
      val tok = docs.select(col("doc_id"),
        size(split(lower(col("text")), "\\s+")).cast("long").as("n"))
      graft.operators.PrefixSum.runningTotal(tok, "doc_id", "n")
        .select(col("doc_id"), col("cum"), (col("cum") - col("n")).as("lo"))
        .withColumn("seq_id",
          explode(sequence(expr("lo div 512"), expr("(cum - 1) div 512"))))
        .count()
    }
    timed("sliding-window chunks (W=64 S=48)") {
      docs.select(col("doc_id"), split(lower(col("text")), "\\s+").as("toks"))
        .withColumn("n", size(col("toks")).cast("long"))
        .withColumn("chunk_idx", explode(sequence(lit(0L),
          when(col("n") <= 64, lit(0L)).otherwise(expr("(n - 64 + 47) div 48")))))
        .count()
    }
    timed("prefix-filtered pairs >= 0.8 (PPJoin)") {
      graft.operators.NearDup.jaccardPairsPrefix(docs, "doc_id", "text", 0.8).count()
    }
    timed("decontamination (train x 10% eval)") {
      val exh = graft.operators.NearDup.shingles(docs, "doc_id", "text")
        .select(col("doc_id"), TextOps.h56Col(col("g")).as("g"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val exc = exh.join(
        broadcast(graft.operators.NearDup.hotShingles(exh, 100L)), Seq("g"), "left_anti")
      val bucket = TextOps.h56Col(col("doc_id").cast("string")) % 10
      val out = exc.where(bucket =!= 9).as("t")
        .join(exc.where(bucket === 9).as("e"), col("t.g") === col("e.g"))
        .groupBy(col("t.doc_id"))
        .agg(countDistinct(col("t.g")).as("ns"), countDistinct(col("e.doc_id")))
        .where(col("ns") >= 3).count()
      exh.unpersist(blocking = false)
      out
    }
    spark.stop()
  }
}
