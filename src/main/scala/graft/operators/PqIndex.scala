package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Product quantization (PQ) for embedding columns — the compression side
  * of large-scale similarity search (Jégou et al., "Product Quantization
  * for Nearest Neighbor Search", TPAMI 2011; same family as the IVF-ADC
  * indexes in FAISS).
  *
  * The vector space is split into `m` contiguous subspaces of `dim/m`
  * components; each subspace gets its own k-means codebook of `k` codes;
  * a vector is stored as `m` small ints (its per-subspace nearest codes).
  * At 64-dim float32 and m=8, k=16 that is 256 B → 8 B per vector (the
  * codebook itself is shared, k×dim doubles — driver-sized metadata).
  *
  * Search is ADC (asymmetric distance computation): the QUERY stays exact;
  * per query a distance table `qtab[sub][code] = ||q_sub - c_{sub,code}||²`
  * is computed once (m×k doubles), and each corpus vector's approximate
  * squared distance is the table-lookup sum over its stored codes — a
  * per-row fold over m ints, no vector math on the corpus at search time.
  *
  * Scale shape: training collects ONE bounded sample (at most
  * [[IvfIndex.SamplePerCentroid]]·k rows, one job) and runs each
  * subspace's Lloyd iterations on the driver. Encoding is a
  * shuffle-free codegen projection. ADC search scans ONLY the codes column
  * (32× fewer bytes than raw vectors), broadcasts the queries, and never
  * shuffles the corpus — the one wide op is the per-query top-k window on
  * the already-tiny candidate set. For 100 TB, compose with [[IvfIndex]]:
  * IVF buckets prune the scan to nprobe/k of the corpus, PQ codes shrink
  * the bytes read in the surviving buckets (classic IVF-ADC).
  */
object PqIndex {

  /** Trained codebook: `codes(sub)(code)` is a subDim-length centroid. */
  final case class Codebook(m: Int, subDim: Int, codes: Array[Array[Array[Double]]]) {
    def k: Int = codes.head.length
    def dim: Int = m * subDim
  }

  private def sqDist(a: Column, b: Column): Column =
    graft.functions.VectorOps.sqDistCol(a, b)

  /** Train per-subspace k-means codebooks on ONE bounded sample
    * ([[IvfIndex.trainingSample]], one job), each subspace iterated on the
    * driver by [[IvfIndex.lloyd]]. Deterministic init: subspace `sub`'s
    * codes start from the first `k` sampled vectors by `idCol`; empty codes
    * keep their previous centroid. Driver cost: O(iters·n·k·dim) compute
    * and n·dim·8 bytes of memory, for n ≤ 256·k sampled rows. */
  def train(emb: DataFrame, idCol: String, vecCol: String,
      m: Int, k: Int, iters: Int): Codebook = {
    val points = IvfIndex.trainingSample(emb, idCol, col(vecCol).cast("array<double>"), k)
    require(points.nonEmpty, "PqIndex.train: empty corpus")
    val dim = points.head.length
    require(dim % m == 0, s"PqIndex.train: dim $dim not divisible by m=$m")
    val subDim = dim / m
    Codebook(m, subDim, Array.tabulate(m) { s =>
      val sub = points.map(_.slice(s * subDim, (s + 1) * subDim))
      IvfIndex.lloyd(sub, sub.take(k), iters, (mean, _) => mean)
    })
  }

  /** Per-subspace squared distances to every code, as a codegen array
    * expression (k direct kernel calls — no interpreted lambda). */
  private def subDistances(sub: Int, vec: Column, cb: Codebook): Column =
    array(cb.codes(sub).toSeq.map(w => sqDist(
      slice(vec, sub * cb.subDim + 1, cb.subDim), typedlit(w.toSeq))): _*)

  /** The `codes` column (array<int>, length m) for a raw vector column —
    * per-subspace nearest code ids (ties → lowest code, matching the
    * first-position semantics both engines share). */
  def codesCol(vecCol: Column, cb: Codebook): Column = {
    val vec = vecCol.cast("array<double>")
    val codeCols = (0 until cb.m).map { s =>
      val dl = subDistances(s, vec, cb)
      (array_position(dl, array_min(dl)) - 1).cast("int")
    }
    array(codeCols: _*)
  }

  /** Encode: tag each row with its [[codesCol]]. Shuffle-free. */
  def encode(emb: DataFrame, idCol: String, vecCol: String, cb: Codebook): DataFrame = {
    graft.functions.VectorOps.register(emb.sparkSession)
    emb.select(col(idCol), codesCol(col(vecCol), cb).as("codes"))
  }

  /** ADC top-k: approximate squared distance from each query to every
    * encoded corpus vector via per-query distance tables; smallest-k per
    * query (ties → lowest id). `queries` must be small (it is broadcast);
    * output (qid, idCol, approx_dist, rn). */
  def adcSearch(encoded: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, cb: Codebook, k: Int): DataFrame = {
    graft.functions.VectorOps.register(queries.sparkSession)
    val qvec = col(vecCol).cast("array<double>")
    val qtab = array((0 until cb.m).map(s => subDistances(s, qvec, cb)): _*)
    val q = queries.select(col(idCol).as("qid"), qtab.as("qtab"))
    broadcast(q).crossJoin(encoded)
      .where(col(idCol) =!= col("qid"))
      // ascending-sub fold: the same left-to-right IEEE sum both engines run
      .select(col("qid"), col(idCol), expr(
        s"aggregate(sequence(0, ${cb.m - 1}), cast(0.0 as double), " +
          "(acc, s) -> acc + qtab[s][codes[s]])").as("approx_dist"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("approx_dist"), col(idCol))).cast("long"))
      .where(col("rn") <= k)
  }

  /** ADC shortlist + exact re-rank (the FAISS "refine" stage): take the
    * top `shortlist` candidates per query by ADC distance — compressed
    * scan, no raw vectors touched — then recompute EXACT distances for
    * only those and keep the true top `k`. Costs one extra narrow join of
    * queries×shortlist rows (broadcast) against the raw vectors; recall
    * approaches exact search as `shortlist`/`k` grows while the full
    * corpus is still only ever read as codes. */
  def adcSearchRefined(encoded: DataFrame, corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, cb: Codebook, k: Int, shortlist: Int): DataFrame = {
    val cand = adcSearch(encoded, queries, idCol, vecCol, cb, shortlist)
      .select(col("qid"), col(idCol))
    val qv = queries.select(col(idCol).as("qid"),
      col(vecCol).cast("array<double>").as("_qv"))
    broadcast(cand.join(qv, Seq("qid")))
      .join(corpus.select(col(idCol), col(vecCol).cast("array<double>").as("_v")),
        Seq(idCol))
      .select(col("qid"), col(idCol),
        sqDist(col("_qv"), col("_v")).as("dist"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("dist"), col(idCol))).cast("long"))
      .where(col("rn") <= k)
  }

  /** IVF-ADC with exact refine — the classic FAISS IVF-PQ composition:
    * the IVF probe prunes the scan to the queries' nprobe buckets, ADC
    * ranks ONLY codes inside those buckets (8 B/vector read, corpus never
    * shuffled), and the exact stage recomputes true distances for just the
    * per-query shortlist. At 100 TB the touched bytes are
    * (nprobe/k_ivf) × corpus_codes + shortlist × raw vectors.
    *
    * Inputs: `encodedAssigned` = (idCol, bucket, codes) — [[encode]] output
    * joined with an IVF bucket assignment; `corpus` = (idCol, vecCol) raw
    * vectors, touched only by the refine join; `probes` = (qid, qvecCol,
    * bucket), one row per DISTINCT probed bucket per query (broadcast —
    * queries are small by contract). Output (qid, idCol, dist, rn), the
    * exact top `k` of the ADC shortlist, ties → lowest id. */
  def ivfAdcSearchRefined(encodedAssigned: DataFrame, corpus: DataFrame,
      probes: DataFrame, idCol: String, vecCol: String, qvecCol: String,
      cb: Codebook, k: Int, shortlist: Int): DataFrame = {
    graft.functions.VectorOps.register(corpus.sparkSession)
    val qvec = col(qvecCol).cast("array<double>")
    val qtab = array((0 until cb.m).map(s => subDistances(s, qvec, cb)): _*)
    val q = probes.select(col("qid"), qtab.as("qtab"), col("bucket"))
    val cand = broadcast(q).join(encodedAssigned, Seq("bucket"))
      .where(col(idCol) =!= col("qid"))
      // ascending-sub fold, same IEEE order as adcSearch
      .select(col("qid"), col(idCol), expr(
        s"aggregate(sequence(0, ${cb.m - 1}), cast(0.0 as double), " +
          "(acc, s) -> acc + qtab[s][codes[s]])").as("approx_dist"))
      .withColumn("srn", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("approx_dist"), col(idCol))))
      .where(col("srn") <= shortlist)
      .select(col("qid"), col(idCol))
    val qv = probes.select(col("qid"), qvec.as("_qv")).distinct()
    refine(cand.join(qv, Seq("qid")), corpus, idCol, vecCol, k)
  }

  /** The exact refine stage: `cand` (qid, idCol, `_qv` = the query vector
    * as doubles) is the per-query shortlist, broadcast against the raw
    * vectors of `corpus`; the exact top `k` per query, ties → lowest id. */
  private def refine(cand: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame =
    broadcast(cand)
      .join(corpus.select(col(idCol), col(vecCol).cast("array<double>").as("_v")),
        Seq(idCol))
      .select(col("qid"), col(idCol), sqDist(col("_qv"), col("_v")).as("dist"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("dist"), col(idCol))).cast("long"))
      .where(col("rn") <= k)

  /** Persist a full IVF-PQ index — the 100 TB layout:
    *   - `path/centroids`: the IVF coarse quantizer (k rows, same table
    *     [[IvfIndex.writeIndex]] writes);
    *   - `path/codebook`: the PQ codebook ([[writeCodebook]]);
    *   - `path/codes`: (idCol, codes) written BUCKET-PARTITIONED by the
    *     IVF assignment of the NORMALIZED vector (cosine geometry, same
    *     assign as IvfIndex) — a probe reads (nprobe/k_ivf) of the
    *     corpus's 8 B/vector codes, enforced by the directory layout.
    * Raw vectors are NOT stored: the refine stage fetches them from the
    * caller's corpus relation (e.g. the graft base table, where id-keyed
    * chunk pruning makes the shortlist fetch a point lookup). */
  def writeIvfPq(corpus: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[Seq[Double]], cb: Codebook, path: String): Unit = {
    val spark = corpus.sparkSession
    graft.functions.VectorOps.register(spark)
    IvfIndex.writeCentroids(spark, centroids, s"$path/centroids")
    writeCodebook(spark, cb, s"$path/codebook")
    // drift baseline observed during the write action itself, as in
    // IvfIndex.writeIndex — zero extra jobs
    val obs = new org.apache.spark.sql.Observation()
    IvfIndex.assignWithDist(
        corpus.select(col(idCol), col(vecCol),
          IvfIndex.normalized(col(vecCol)).as("_nv")), "_nv", centroids)
      .observe(obs, count(lit(1)).as("n"), avg(col("_adist")).as("m"))
      .select(col(idCol), codesCol(col(vecCol), cb).as("codes"), col("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(s"$path/codes")
    // a rebuild supersedes pending maintenance generations (IvfIndex LSM)
    graft.core.Storage.deleteRecursively(
      java.nio.file.Paths.get(s"$path/codes_deltas"))
    IndexStats.reset(path)
    IndexStats.record(path, phase = "train", obs)
  }

  /** IVF-ADC search with exact refine against a [[writeIvfPq]] layout:
    * probe the query's nprobe buckets (partition-pruned codes read), ADC
    * over the pruned codes, exact re-rank of the per-query shortlist
    * against `corpus` raw vectors. Output (qid, idCol, dist, rn). */
  def searchIvfPq(spark: SparkSession, path: String, corpus: DataFrame,
      queries: DataFrame, idCol: String, vecCol: String,
      nprobe: Int, k: Int, shortlist: Int,
      knownCentroids: Option[Seq[Seq[Double]]] = None,
      knownCodebook: Option[Codebook] = None): DataFrame = {
    graft.functions.VectorOps.register(spark)
    // empty codes layout (bootstrap / fully-retired corpus): empty answer,
    // not a crash on a layout with no schema — same guard as IvfIndex.searchIndex
    if (IvfIndex.layoutIsEmpty(s"$path/codes"))
      return IvfIndex.emptySearchResult(spark, queries, idCol, "dist")
    // both models are FIXED index geometry (maintenance never rewrites
    // them — only retrain/rebuild does): a caller that just trained or
    // already read them passes them in and skips two driver read+collects
    // per call (parquet round-trips doubles bit-exactly, so the two paths
    // see identical values)
    val centroids = knownCentroids.getOrElse(
      IvfIndex.readCentroids(spark, path).map(_.toSeq).toSeq)
    val cb = knownCodebook.getOrElse(readCodebook(spark, s"$path/codebook"))
    val probes = IvfIndex.driverProbes(queries, idCol, vecCol, centroids, nprobe)
    if (probes.isEmpty) return IvfIndex.emptySearchResult(spark, queries, idCol, "dist")
    // the probe side is literal, as in IvfIndex.searchIndex: a broadcast
    // would spend one more job collecting its build side, even from a
    // local relation. bucket -> [qid], and per query its vector and its
    // ADC table, computed on the driver by the kernel the codegen
    // expression ([[subDistances]]) calls, so the distances are the same
    val idType = queries.schema(idCol).dataType
    def qid(p: IvfIndex.Probe): Column = lit(p.qid).cast(idType)
    val perQuery = probes.groupBy(_.qid).values.map(_.head).toSeq
    val byBucket = map(probes.groupBy(_.bucket).toSeq.flatMap { case (b, ps) =>
      Seq(lit(b), array(ps.map(qid): _*))
    }: _*)
    val qtab = map(perQuery.flatMap(p => Seq(qid(p), typedlit(
      (0 until cb.m).map { s =>
        val q = UnsafeArrayData.fromPrimitiveArray(
          p.raw.slice(s * cb.subDim, (s + 1) * cb.subDim).toArray)
        cb.codes(s).toSeq.map(w => graft.functions.VectorOps.sqDist(q,
          UnsafeArrayData.fromPrimitiveArray(w)))
      }))): _*)
    val qv = map(perQuery.flatMap(p => Seq(qid(p), typedlit(p.raw))): _*)
    // resolved read: partition-pruned, newest-wins over pending
    // maintenance generations (IvfIndex.readLayout)
    val cand = IvfIndex.readLayout(spark, s"$path/codes", idCol,
        Some(probes.map(_.bucket).distinct))
      .select(col(idCol), col("codes"), explode(byBucket(col("bucket"))).as("qid"))
      .where(col(idCol) =!= col("qid"))
      // ascending-sub fold, same IEEE order as adcSearch
      .select(col("qid"), col(idCol), col("codes"), qtab(col("qid")).as("qtab"))
      .select(col("qid"), col(idCol), expr(
        s"aggregate(sequence(0, ${cb.m - 1}), cast(0.0 as double), " +
          "(acc, s) -> acc + qtab[s][codes[s]])").as("approx_dist"))
      .withColumn("srn", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("approx_dist"), col(idCol))))
      .where(col("srn") <= shortlist)
      .select(col("qid"), col(idCol), qv(col("qid")).as("_qv"))
    refine(cand, corpus, idCol, vecCol, k)
  }

  /** INDEX MAINTENANCE under DML for the [[writeIvfPq]] layout — the PQ
    * sibling of [[IvfIndex.maintainIndex]], same contract (fixed
    * centroids + codebook; upserts re-encode and possibly MOVE buckets;
    * deletes retire ids; an id in both is an upsert; only touched buckets
    * rewrite; empty layout bootstraps). */
  def maintainIvfPq(spark: SparkSession, path: String, idCol: String,
      upserts: DataFrame, deletes: DataFrame,
      knownCentroids: Option[Seq[Seq[Double]]] = None,
      knownCodebook: Option[Codebook] = None): Unit = {
    graft.functions.VectorOps.register(spark)
    val vecCol = upserts.columns.find(_ != idCol).getOrElse(idCol)
    // fixed geometry — same known-models contract as [[searchIvfPq]] /
    // [[IvfIndex.maintainIndex]]
    val centroids = knownCentroids.getOrElse(
      IvfIndex.readCentroids(spark, path).map(_.toSeq).toSeq)
    val cb = knownCodebook.getOrElse(readCodebook(spark, s"$path/codebook"))
    // drift metric — same advisory as IvfIndex.maintainIndex (the PQ
    // layout shares the coarse geometry, so the same mean applies),
    // observed during the rewrite's own actions
    val newRows = IvfIndex.assignWithDist(
        upserts.select(col(idCol), col(vecCol),
          IvfIndex.normalized(col(vecCol)).as("_nv")), "_nv", centroids)
      .select(col(idCol), codesCol(col(vecCol), cb).as("codes"), col("bucket"),
        col("_adist"))
    IndexStats.record(path, phase = "maintain",
      IvfIndex.upsertBucketLayout(spark, s"$path/codes", idCol, newRows, deletes))
    // same advisory loop as IvfIndex.maintainIndex: warn loudly the moment
    // the maintain/train ratio crosses the threshold
    IvfIndex.driftAdvisory(path).foreach(IvfIndex.logDriftAdvisory)
  }

  /** Persist a codebook as a (sub, code, weights) parquet table. */
  def writeCodebook(spark: SparkSession, cb: Codebook, path: String): Unit = {
    import spark.implicits._
    // driver-sized (m×k codewords) — skip codegen for the write plan
    graft.core.FastPlan.scoped(spark, small = true)(
      (for (s <- 0 until cb.m; c <- 0 until cb.k)
        yield (s, c, cb.codes(s)(c).toSeq)).toDF("sub", "code", "weights")
        .coalesce(1).write.mode("overwrite").parquet(path))
  }

  /** The schema [[writeCodebook]] writes. */
  private val CodebookSchema = StructType(Seq(StructField("sub", IntegerType),
    StructField("code", IntegerType), StructField("weights", ArrayType(DoubleType))))

  /** Read a [[writeCodebook]] table back (byte-identical weights): one
    * collect under the fixed schema, sorted on the driver. */
  def readCodebook(spark: SparkSession, path: String): Codebook = {
    // m×k rows; fixture-path literal defeats the codegen cache per call
    val rows = graft.core.FastPlan.scoped(spark, small = true)(
      spark.read.schema(CodebookSchema).parquet(path).collect())
      .sortBy(r => (r.getInt(0), r.getInt(1)))
    val m = rows.map(_.getInt(0)).max + 1
    val k = rows.map(_.getInt(1)).max + 1
    val codes = Array.tabulate(m, k)((s, c) =>
      rows(s * k + c).getSeq[Double](2).toArray)
    Codebook(m, codes.head.head.length, codes)
  }
}
