package graft.core

import java.nio.file.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The read path: one scan of the visible segment files → MVCC version
  * resolution → (optionally) key order. This ~40-line plan IS the
  * reference's entire query engine — its k-way ordered merge + newest-wins
  * dedup (scan.rs:55-238).
  *
  * Spark-first design notes (SURVEY.md §2.1 #1-#4):
  *   - The k-way merge disappears: one parquet scan over every visible
  *     segment's files is free, and Catalyst plans the dedup as one hash
  *     aggregate keyed on the dimensions — map-side partial aggregation
  *     means each segment's duplicates collapse before the shuffle, so
  *     shuffled bytes ≈ live rows, not total rows. At 100 TB this beats a
  *     global sort-merge (a window `row_number()=1` formulation would sort
  *     every partition; `max_by` needs no sort at all).
  *   - Block skipping is parquet row-group min/max stats + Hive partition
  *     pruning on the `_ck_*` chunk-key directories; `pruned` rewrites
  *     dimension predicates onto chunk keys so pruning kicks in before IO
  *     (the reference's scan.rs:119-180, done declaratively).
  *   - Version resolution implements the documented intent — highest
  *     (txnId, seq) wins (scan.rs:38-54) — not the reference's accidental
  *     insertion-order tie-break (scan.rs:162); SURVEY.md §7.4.
  */
object Scan {
  val TxnCol = "_txn_id"
  val SeqCol = "_seq"
  val DelCol = "_del"
  val ChunkPrefix = "_ck_"

  /** The read schema every layout's segment files share: the logical
    * columns (nullable — parquet reads never enforce non-null) plus the
    * `_del` tombstone marker and the `_txn_id`/`_seq` provenance pair. One
    * definition, consumed by the directory layout ([[raw]], which appends
    * chunk-key columns), the DSv2 catalog, and the ranged layout — a
    * provenance change lands in all three or none.
    *
    * `_del` is nullable by design: segments written before deletes existed
    * (and layouts that never write tombstones) simply lack the column, the
    * explicit read schema surfaces it as null, and [[dedup]] coalesces
    * null → false — old data reads unchanged, byte-for-byte. */
  def provenanceStruct(schema: MatSchema): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(schema.toStructType.fields.map(_.copy(nullable = true)) ++
      Seq(StructField(DelCol, BooleanType),
        StructField(TxnCol, LongType), StructField(SeqCol, LongType)))
  }

  /** The chunk-key partition schema of every segment tree: one `_ck_<dim>`
    * LongType column per dimension, pinned explicitly rather than inferred
    * (each segment is its own Hive-partitioned tree, and partition
    * inference refuses several partitioned roots). */
  def chunkStruct(schema: MatSchema): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(schema.chunkColNames.map(StructField(_, LongType)))
  }

  /** ONE file index over every segment directory in `paths`, shared by the
    * core read ([[raw]]) and the DSv2 catalog scan: the roots are the
    * segment directories and the partition spec enumerates every
    * `_ck_a=x/_ck_b=y/...` leaf below them with its chunk-key values
    * pinned. The enumeration is the same metadata listing any file source
    * performs when its scan is planned, O(chunk dirs in the visible
    * segments).
    *
    * A visible segment whose directory is missing fails loudly: Spark's
    * file index would list a missing root as empty and the read would
    * silently drop that segment's rows.
    *
    * A committed segment directory is never written again, so the index of
    * one visible set is built once and kept (see [[indexes]]): repeated
    * reads of an unchanged table — every `snapshot`, `asOf` and catalog
    * query of it — share that index instead of listing every chunk
    * directory again. Each call still stats the segment directories, so a
    * missing one fails as above and a re-created one is listed afresh. */
  def segmentIndex(
      spark: SparkSession,
      schema: MatSchema,
      paths: Seq[String]): org.apache.spark.sql.execution.datasources.InMemoryFileIndex = {
    import org.apache.hadoop.fs.{Path => HPath}
    import org.apache.spark.sql.execution.datasources.{FileStatusCache, InMemoryFileIndex, PartitionPath, PartitionSpec}
    lazy val hconf = spark.sessionState.newHadoopConf()
    val prefixes = schema.chunkColNames.map(_ + "=")
    def leaves(dir: java.io.File, level: Int, vals: List[Long]): Seq[PartitionPath] =
      if (level == prefixes.size) {
        // plain absolute path, then makeQualified — matching how the index
        // qualifies listed files (File.toURI's empty authority would break
        // the Path equality the partition→files join relies on)
        val p = new HPath(dir.getAbsolutePath)
        Seq(PartitionPath(
          org.apache.spark.sql.catalyst.InternalRow.fromSeq(vals.reverse),
          p.getFileSystem(hconf).makeQualified(p)))
      } else {
        Option(dir.listFiles()).toSeq.flatten
          .filter(f => f.isDirectory && f.getName.startsWith(prefixes(level)))
          .flatMap(f =>
            leaves(f, level + 1, f.getName.stripPrefix(prefixes(level)).toLong :: vals))
      }
    val dirs = paths.map(new java.io.File(_))
    // (path, inode, mtime) of each segment directory: a directory deleted
    // and re-created under the same name (a table dropped and re-created
    // at its path) keys a new index
    val identity = dirs.map { d =>
      val attrs =
        try java.nio.file.Files.readAttributes(d.toPath,
          classOf[java.nio.file.attribute.BasicFileAttributes])
        catch { case _: java.nio.file.NoSuchFileException => null }
      if (attrs == null || !attrs.isDirectory) throw new IllegalStateException(
        s"visible segment ${d.getName} has no directory at ${d.getAbsolutePath}")
      (d.getAbsolutePath, attrs.fileKey, attrs.lastModifiedTime)
    }
    val key = (spark, schema, identity)
    indexes.synchronized(Option(indexes.get(key))).getOrElse {
      val spec = PartitionSpec(chunkStruct(schema), dirs.flatMap(leaves(_, 0, Nil)))
      val index = new InMemoryFileIndex(spark, dirs.map(d => new HPath(d.getAbsolutePath)),
        Map.empty[String, String],
        Some(org.apache.spark.sql.types.StructType(
          provenanceStruct(schema).fields ++ chunkStruct(schema).fields)),
        FileStatusCache.getOrCreate(spark), Some(spec), None)
      indexes.synchronized(indexes.put(key, index))
      index
    }
  }

  /** The [[segmentIndex]] of the most recently read visible sets, least
    * recently used first. Bounded, so a long-lived session that commits
    * continually keeps only the indexes of its latest states (and the
    * sessions they belong to). */
  private val indexes =
    new java.util.LinkedHashMap[AnyRef,
      org.apache.spark.sql.execution.datasources.InMemoryFileIndex](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[AnyRef,
          org.apache.spark.sql.execution.datasources.InMemoryFileIndex]): Boolean = size() > 16
    }

  /** Read every segment dir through one file scan, plus extra in-memory
    * batches unioned on top, with `_txn_id`/`_seq` provenance columns
    * present. `paths` are the segment directories to read — resolved by the
    * caller through the [[Protocol]], so this layer never reads a
    * manifest. */
  def raw(
      spark: SparkSession,
      schema: MatSchema,
      paths: Seq[String],
      extra: Seq[DataFrame]): DataFrame = {
    // chunk-key partition columns ride along so chunk predicates can prune;
    // dimensions carry their chunk-size metadata (Segment.dimCols)
    val cols = Segment.dimCols(schema) ++ schema.valueNames.map(col) ++
      schema.chunkColNames.map(col) ++
      Seq(col(DelCol), col(TxnCol), col(SeqCol))
    // Every segment dir is read through ONE relation over the shared
    // [[segmentIndex]], so N segments plan as one file scan whose splits
    // pack files across segments. The schema is supplied explicitly —
    // never inferred: a transaction that flushed zero rows leaves a
    // data-file-less segment, which schema inference would refuse (and at
    // scale, skipping footer-based inference also saves a footer read per
    // segment).
    val fromDisk =
      if (paths.isEmpty) Nil
      else {
        val rel = org.apache.spark.sql.execution.datasources.HadoopFsRelation(
          segmentIndex(spark, schema, paths), chunkStruct(schema), provenanceStruct(schema),
          bucketSpec = None,
          new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat,
          Map.empty[String, String])(spark)
        Seq(spark.baseRelationToDataFrame(rel).select(cols: _*))
      }
    val all = fromDisk ++ extra.map(_.select(cols: _*))
    if (all.isEmpty) {
      import org.apache.spark.sql.types._
      val st = StructType(schema.toStructType.fields ++ chunkStruct(schema).fields ++
        provenanceStruct(schema).fields.takeRight(3))
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], st)
    } else all.reduce(_ unionByName _)
  }

  /** The largest `_seq` the packed [[version]] order distinguishes — a
    * checkpoint baseline's `_seq`, "the final word" of its txn. */
  val MaxSeq: Long = (1L << 22) - 1

  /** The version order `(_txn_id, _seq)` packed into one long: txn in the
    * high bits (saturated at 2^40), seq in the low 22 bits (saturated at
    * [[MaxSeq]]). The in-memory `Long.MaxValue` txn tag maps to
    * 2^62 + seq — overflow-free and above every committed version. Built
    * as a Catalyst tree so the catalog's resolve rule can use the same
    * expression over its own attributes (`GraftInternals.expression`). */
  def version(txn: Column, seq: Column): Column = {
    import org.apache.spark.sql.GraftInternals.{column, expression}
    import org.apache.spark.sql.catalyst.expressions.{Add, Least, Literal, Multiply}
    column(Add(
      Multiply(Least(Seq(expression(txn), Literal(1L << 40))), Literal(1L << 22)),
      Least(Seq(expression(seq), Literal(MaxSeq)))))
  }

  /** Newest-wins version resolution: one aggregate, no join, no global sort.
    *
    * The version order is packed into a single long `_ver` ([[version]]) so
    * each value column resolves via `max_by(value, _ver)` with a primitive
    * aggregation buffer — that keeps the plan on `HashAggregateExec`
    * (a `max_by(struct, struct)` formulation has an immutable struct buffer
    * and silently degrades to `SortAggregateExec`, an O(n log n) sort per
    * partition at scale). `_ver` is unique per (key, version) so all value
    * columns pick the same winning row. */
  def dedup(df: DataFrame, schema: MatSchema): DataFrame = {
    val dims = schema.dimNames.map(col)
    val hasDel = df.columns.contains(DelCol)
    if (schema.valueNames.isEmpty && !hasDel) df.select(dims: _*).distinct()
    else {
      val ver = version(col(TxnCol), col(SeqCol)).as("_ver")
      // the winning row's tombstone flag rides through the SAME aggregate
      // (one more primitive max_by buffer — still HashAggregateExec, still
      // one exchange); coalesce happens per-row so a winner from a
      // pre-delete segment (null _del) reads as live
      val valueAggs = schema.valueNames.map(v => max_by(col(v), col("_ver")).as(v))
      val delAgg =
        if (hasDel) Seq(max_by(coalesce(col(DelCol), lit(false)), col("_ver")).as(DelCol))
        else Nil
      val aggs = valueAggs ++ delAgg
      val resolved = df.withColumn("_ver", ver)
        .groupBy(dims: _*)
        .agg(aggs.head, aggs.tail: _*)
      val live = if (hasDel) resolved.filter(!col(DelCol)) else resolved
      live.select((schema.dimNames ++ schema.valueNames).map(col): _*)
    }
  }

  /** Full read path. `pred` (if any) is applied BEFORE version resolution —
    * this is only sound for predicates over dimension/chunk columns (all
    * versions of a key share them), which is exactly what [[chunkRange]]
    * produces; it is what lets partition pruning + parquet pushdown skip IO. */
  def resolve(
      spark: SparkSession,
      schema: MatSchema,
      paths: Seq[String],
      extra: Seq[DataFrame],
      pred: Option[Column] = None): DataFrame = {
    val base = raw(spark, schema, paths, extra)
    dedup(pred.fold(base)(base.filter), schema)
  }

  /** Rewrite a dimension range predicate onto the chunk-key partition column
    * too, so Hive partition pruning (directory-level skip) fires in addition
    * to parquet row-group stats — the declarative analog of the reference's
    * block-skipping queue (scan.rs:119-180). Use:
    * `db.snapshot().where(Scan.chunkPruned(schema, "t", $"t" >= 100 && $"t" < 200, 100L))`
    */
  def chunkRange(schema: MatSchema, dim: String, lo: Option[Long], hi: Option[Long]): Column = {
    val chunk = schema.dimensions.find(_.name == dim)
      .getOrElse(throw new IllegalArgumentException(s"no dimension $dim")).chunkSize
    val ck = col(schema.chunkColName(dim))
    val d = col(dim)
    val conds =
      lo.toSeq.flatMap(v => Seq(d >= v, ck >= Math.floorDiv(v, chunk))) ++
        hi.toSeq.flatMap(v => Seq(d <= v, ck <= Math.floorDiv(v, chunk)))
    conds.reduce(_ && _)
  }
}
