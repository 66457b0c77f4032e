package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Clone-scale a testdata sf directory by an integer factor, preserving
  * join structure: every key column (PK and FK alike) is offset by
  * `copy * KeyStride`, so each copy is a self-consistent shard and joins
  * fan out exactly as the original — the scaled run's per-query time over
  * the original's is the superlinearity probe the sf1 bench wants.
  *
  * Content columns are NOT cloned verbatim where identity would distort
  * operator behavior at scale:
  *   - documents.text gets a deterministic per-copy word substitution
  *     (EVERY word tagged with the copy id — copies have disjoint
  *     vocabularies, the PipelineScaleProbe clone construction), so
  *     cross-copy shingle/fingerprint AND SimHash matches vanish and the
  *     dedup family scales on real near-dup structure instead of
  *     manufactured 10-way duplicate classes. A lighter ~1/3-word tagging
  *     was not enough: it kills shingle matches but leaves many cross-copy
  *     pairs within SimHash Hamming 2, which chained the copies into a
  *     9k-doc mega-cluster at factor 10 — quadratic closure work (82M
  *     reach pairs) that exists only in the clone fixture. Intra-copy dup
  *     structure is preserved untouched (same rewrite within a copy);
  *     n_chars is recomputed.
  *   - embeddings.embedding dimension 0 is nudged by copy*1e-4, keeping
  *     clones out of the exact-tie path while staying inside the same IVF
  *     bucket geometry.
  *   - part.p_name gets a per-copy suffix " x<cc>" (copy id written
  *     twice, so any two copies' suffixes are levenshtein ≥ 2 apart):
  *     verbatim-cloned names would hand the q84 edit-distance join 10
  *     identical copies of every name — manufactured 100× candidate
  *     inflation (each segment bucket 10× on both sides) that measures
  *     the clone artifact, not the operator. Same-copy pairs keep their
  *     original distances (both get the same suffix), so true fuzzy
  *     structure scales exactly linearly in `factor`.
  *
  * region/nation stay fixed (they are dimension tables at every SF).
  *
  * Usage: runMain graft.tools.ScaleUp <srcSfDir> <outDir> <factor>
  */
object ScaleUp {
  val KeyStride = 100000000L // > any base key; same stride for PK and FK

  /** The scaled tables, lazily planned — shared with ScaleUpSpec so the
    * cross-copy-isolation pins run on the SAME construction main writes. */
  def scaledTables(spark: SparkSession, src: String, factor: Int)
      : Seq[(String, DataFrame)] = {
    def copies(t: String, keyCols: Seq[String],
        perCopy: (DataFrame, Int) => DataFrame = (df, _) => df): DataFrame = {
      val base = spark.read.parquet(s"$src/$t.parquet")
      (0 until factor).map { c =>
        val shifted = keyCols.foldLeft(base)((df, k) =>
          df.withColumn(k, col(k) + lit(c * KeyStride)))
        perCopy(shifted, c)
      }.reduce(_ unionAll _)
    }
    Seq(
      "region" -> spark.read.parquet(s"$src/region.parquet"),
      "nation" -> spark.read.parquet(s"$src/nation.parquet"),
      "customer" -> copies("customer", Seq("c_custkey")),
      "supplier" -> copies("supplier", Seq("s_suppkey")),
      "part" -> copies("part", Seq("p_partkey"), (df, c) =>
        if (c == 0) df
        else df.withColumn("p_name", concat(col("p_name"), lit(s" x$c$c")))),
      "orders" -> copies("orders", Seq("o_orderkey", "o_custkey")),
      "lineitem" -> copies("lineitem",
        Seq("l_orderkey", "l_partkey", "l_suppkey")),
      "events" -> copies("events", Seq("event_id", "user_id")),
      "documents" -> copies("documents", Seq("doc_id"), (df, c) =>
        if (c == 0) df
        else df
          .withColumn("text", concat_ws(" ", expr(
            s"transform(split(text, ' '), w -> concat(w, 'x$c'))")))
          .withColumn("n_chars", length(col("text")).cast("long"))),
      "embeddings" -> copies("embeddings", Seq("vec_id"), (df, c) =>
        if (c == 0) df
        else df.withColumn("embedding", expr(
          s"transform(embedding, (x, i) -> " +
            s"if(i = 0, cast(x + ${c}e-4 as float), x))"))))
  }

  def main(args: Array[String]): Unit = {
    val Array(src, out, factorS) = args
    val factor = factorS.toInt
    val spark = graft.GraftSession()
    scaledTables(spark, src, factor).foreach { case (t, df) =>
      df.write.mode("overwrite").parquet(s"$out/$t.parquet")
      println(s"[scaleup] $t: ${spark.read.parquet(s"$out/$t.parquet").count()} rows")
    }
    spark.stop()
  }
}
