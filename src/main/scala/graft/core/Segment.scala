package graft.core

import java.nio.file.Path

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, lit}

/** The segment format — the one place that decides how rows become a
  * segment directory (reference: transaction.rs:90-119 chunks rows into
  * blocks, segment.rs:138-193 writes them as one zstd segment file).
  *
  * A segment is a Hive-partitioned parquet tree under its own directory:
  * one `_ck_<dim>=<floor(dim/chunkSize)>` level per dimension
  * (schema.rs:28-38), rows sorted by the dimensions within each chunk —
  * tight parquet row-group min/max stats, the declarative version of the
  * reference's per-block bounds (segment.rs:173-193). Every file carries
  * the [[Scan.provenanceStruct]] columns in that order.
  *
  * Every graft writer — [[Transaction]] flushes, catalog `INSERT` /
  * `DELETE` / `INSERT OVERWRITE`, `checkpoint` / `optimize` folds — shapes
  * its rows with [[decorate]] and writes them with [[write]]. Claiming the
  * target directory and publishing it stay with the caller.
  */
object Segment {

  /** The dimension columns aliased with their chunk size as field
    * metadata. It persists into the parquet footer and rides on scan
    * attributes, so [[graft.plans.ChunkPruneRule]] can derive chunk-key
    * predicates from pushed-down dimension filters. */
  def dimCols(schema: MatSchema): Seq[Column] = schema.dimensions.map { dim =>
    val md = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong(MatSchema.ChunkKey, dim.chunkSize).build()
    col(dim.name).as(dim.name, md)
  }

  /** `df` as segment rows: the dimensions ([[dimCols]]), the value columns
    * — all null for a tombstone batch (`del`) — the chunk keys, and the
    * `_del` / `_txn_id` / `_seq` provenance. `_txn_id` is `Long.MaxValue`
    * until [[write]] stamps the real id: an uncommitted batch outranks all
    * committed data (reference scan.rs:159-163 intent). */
  def decorate(schema: MatSchema, df: DataFrame, del: Boolean, seq: Long): DataFrame = {
    val values =
      if (del) schema.values.map(v => lit(null).cast(v.dataType).as(v.name))
      else schema.valueNames.map(col)
    val chunks = schema.dimensions.map(dim =>
      MatSchema.chunkKeyCol(col(dim.name), dim.chunkSize).as(schema.chunkColName(dim.name)))
    df.select(dimCols(schema) ++ values ++ chunks ++
      Seq(lit(del).as(Scan.DelCol), lit(Long.MaxValue).as(Scan.TxnCol),
        lit(seq).as(Scan.SeqCol)): _*)
  }

  /** Write the [[decorate]]d `frame` as segment `txnId` into `target`, a
    * directory the caller has already claimed. `root` is the table root
    * (its parquet properties apply).
    *
    * The exchange is size-gated: a batch whose plan-statistics estimate
    * is tiny ([[FastPlan.isSmall]], no job) collapses to ONE partition and
    * is planned inside [[FastPlan.scoped]] — for a maintenance fold or DML
    * batch of a few hundred rows the chunk-keyed hash exchange (plan, AQE
    * stage round-trips, per-reducer writer setup) costs more than the
    * write, and its txn-id / seq literals defeat the codegen cache every
    * commit. `repartition(1)`, not `coalesce(1)`, so upstream compute
    * keeps its parallelism. At scale the batch is exchanged on the chunk
    * columns: one shuffle giving exactly the co-location partition pruning
    * needs. Either way the layout and in-file order are the same.
    *
    * Rows are sorted by (chunk columns, then the dimensions — or, with
    * `zorder = Seq(a, b)`, the z-order of two dimensions, a pure
    * clustering choice: MVCC resolution never depends on file order). The
    * chunk-column prefix satisfies the partitioned write's required
    * ordering, so the planner adds no second sort. `maxRecordsPerFile`
    * bounds output file size. */
  def write(schema: MatSchema, frame: DataFrame, txnId: Long, target: Path, root: Path,
      zorder: Seq[String] = Nil, maxRecordsPerFile: Option[Long] = None): Unit = {
    val spark = frame.sparkSession
    val stamped = frame.withColumn(Scan.TxnCol, lit(txnId))
    val chunkCols = schema.chunkColNames.map(col)
    val within = zorder match {
      case Seq() => schema.dimNames.map(col)
      case Seq(a, b) =>
        graft.functions.ZOrder2.register(spark)
        Seq(graft.functions.ZOrder2.zorder2(col(a).cast("long"), col(b).cast("long")))
      case other => throw new IllegalArgumentException(
        s"zorder takes exactly two dimensions, got ${other.mkString(",")}")
    }
    val small = FastPlan.isSmall(stamped)
    val exchanged =
      if (small) stamped.repartition(1) else stamped.repartition(chunkCols: _*)
    val writer = exchanged.sortWithinPartitions(chunkCols ++ within: _*)
      .write.mode("append")
      .option("compression", "zstd")
      .options(Storage.parquetWriteOptions(Storage.readProps(root)))
    FastPlan.scoped(spark, small)(
      maxRecordsPerFile.foldLeft(writer)((w, n) => w.option("maxRecordsPerFile", n))
        .partitionBy(schema.chunkColNames: _*)
        .parquet(target.toString))
  }
}
