package graft.sources

import java.io.{IOException, ObjectInputStream, ObjectOutputStream}

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, SortDirection, SortOrder}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.execution.datasources.OutputWriterFactory
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.core.{MatSchema, Scan, SegmentId, Storage}

/** SQL `UPDATE` / `MERGE INTO` / subquery-`DELETE` for [[GraftCatalog]]
  * tables: Spark's row-level operation framework
  * (`SupportsRowLevelOperations`), DELTA-based — the natural fit for an
  * MVCC table, where every row-level change is just a new version:
  *
  *   - UPDATE / MERGE-matched-UPDATE  → an upsert row (newest wins),
  *   - DELETE / MERGE-matched-DELETE  → a tombstone row (`_del = true`),
  *   - MERGE-not-matched-INSERT       → an insert row.
  *
  * Spark's analyzer ([[org.apache.spark.sql.catalyst.analysis.RewriteMergeIntoTable]]
  * et al.) supplies the whole statement algebra — clause alignment, star
  * expansion, per-clause conditions, NOT MATCHED BY SOURCE, and the SQL
  * cardinality check (one source row per matched target row) — and plans a
  * `WriteDelta` whose read side is this catalog's own relation, so the MVCC
  * newest-wins resolve wraps it like every other read
  * ([[GraftCatalogDedupRule]]). A copy-on-write format has to rewrite whole
  * files for one changed row; here the delta IS the commit — the same
  * zero-rewrite shape as [[graft.core.Transaction.mergeRows]] (the API-level
  * gate, q106), now reachable from pure SQL.
  *
  * Row identity: the row ID is the dimension set ([[SupportsDelta.rowId]]).
  * Dimensions are the key identity and are NOT assignable —
  * `representUpdateAsDeleteAndInsert = false` keeps an update one upsert
  * row, and the writer rejects any update whose new dimensions differ from
  * its row ID (same contract as [[graft.core.Transaction.updateWhere]]).
  *
  * Write path, built for a real cluster: the delta write declares an
  * ORDERED distribution on the dimensions ([[RequiresDistributionAndOrdering]]),
  * so Spark range-partitions and sorts the delta — each task then sees its
  * chunks contiguously and streams them out with ONE open parquet writer at
  * a time (rolling on chunk change), producing the same sorted, chunk-keyed
  * segment layout as [[graft.core.Segment.write]]. Executors write parquet straight
  * into a CLAIMED segment directory (the put-if-absent txn claim shared
  * with [[GraftInsert]]) under task-unique `_tmp-*` names; the driver
  * commit renames the files named by the surviving attempts' commit
  * messages, sweeps any loser-attempt leftovers, and publishes through the
  * manifest commit — exactly-once, concurrent-writer-safe, no
  * driver data movement.
  */
final class GraftRowLevelBuilder(table: GraftV2Table, info: RowLevelOperationInfo)
    extends RowLevelOperationBuilder {
  override def build(): RowLevelOperation = new GraftRowLevelOperation(table, info.command)
}

final class GraftRowLevelOperation(table: GraftV2Table, cmd: RowLevelOperation.Command)
    extends SupportsDelta {

  override def command(): RowLevelOperation.Command = cmd

  /** The dimensions ARE the row identity (non-nullable by schema). */
  override def rowId(): Array[NamedReference] =
    table.matSchema.dimNames.map(Expressions.column).toArray

  /** Updates stay single upsert rows; dimension reassignment is rejected
    * in the writer (dimensions are immutable row identity). */
  override def representUpdateAsDeleteAndInsert(): Boolean = false

  /** The read side is the table's own scan (raw segment rows + provenance);
    * [[GraftCatalogDedupRule]] wraps the row-level relation with the MVCC
    * resolve exactly like a plain SELECT. */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    table.newScanBuilder(options)

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite = new GraftDeltaWrite(table, info)
    }

  override def description(): String = s"GraftRowLevel($cmd, ${table.name()})"
}

final class GraftDeltaWrite(table: GraftV2Table, info: LogicalWriteInfo)
    extends DeltaWrite with RequiresDistributionAndOrdering {

  private val dims = table.matSchema.dimNames

  /** Range-partition + sort the delta by the dimensions so each task
    * writes each chunk directory once, in key order — the layout
    * [[graft.core.Segment.write]] gets from its chunk-keyed repartition, with the
    * added benefit that segment files are globally key-ordered. Not
    * strictly required: the writer rolls files on chunk change either
    * way, an unsorted input just writes more, smaller files. */
  override def requiredDistribution(): Distribution =
    Distributions.ordered(dims.map(d =>
      Expressions.sort(Expressions.column(d), SortDirection.ASCENDING)).toArray)

  override def requiredOrdering(): Array[SortOrder] =
    dims.map(d => Expressions.sort(Expressions.column(d), SortDirection.ASCENDING)).toArray

  override def distributionStrictlyRequired(): Boolean = false

  override def toBatch: DeltaBatchWrite = {
    val dir = table.writeDir.getOrElse(throw new UnsupportedOperationException(
      s"${table.name()} is a VERSION AS OF snapshot — historical versions are read-only"))
    new GraftDeltaBatchWrite(dir, table.matSchema, info,
      serializable = table.tableProps.getOrElse(
        GraftCatalog.IsolationProp, "newest-wins") == "serializable",
      readHorizon = table.readHorizon)
  }

  override def description(): String = s"GraftDeltaWrite(${table.name()})"
}

/** Commit message: the `(tmpPath, finalName)` renames this attempt's files
  * need, plus a row count for the driver log. */
private final case class GraftDeltaCommitMessage(
    renames: Seq[(String, String)], rows: Long) extends WriterCommitMessage

final class GraftDeltaBatchWrite(dir: String, matSchema: MatSchema, info: LogicalWriteInfo,
    serializable: Boolean = false, readHorizon: Long = 0L)
    extends DeltaBatchWrite {

  private val root = Storage.rootPath(dir)
  // claimed when the write starts (factory creation is driver-side, before
  // any task launches); the claim directory is invisible until the manifest
  // publish, so a failed/aborted write leaves only a recovery-sweepable orphan
  @volatile private var claimed: Option[(SegmentId, java.nio.file.Path)] = None

  override def createBatchWriterFactory(pInfo: PhysicalWriteInfo): DeltaWriterFactory = {
    val spark = SparkSession.active
    val c = GraftInsert.claimSegment(root)
    claimed = Some(c)
    // segment file schema: dims ++ values ++ (_del, _txn_id, _seq) — chunk
    // keys are directory-encoded, not stored in the files
    val fileSchema = Scan.provenanceStruct(matSchema)
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    val parquetFactory = new ParquetFileFormat().prepareWrite(
      spark, job,
      Map("compression" -> "zstd") ++
        Storage.parquetWriteOptions(Storage.readProps(root)),
      fileSchema)
    new GraftDeltaWriterFactory(
      c._2.toString, c._1.txnId,
      matSchema.dimNames.toArray, matSchema.dimensions.map(_.chunkSize).toArray,
      matSchema.chunkColNames.toArray,
      matSchema.valueNames.toArray, fileSchema,
      info.schema(),
      if (info.rowIdSchema().isPresent) info.rowIdSchema().get() else null,
      parquetFactory, new SerializableConf(job.getConfiguration))
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val (segId, segPath) = claimed.getOrElse(
      throw new IllegalStateException("delta commit without a claimed segment"))
    val hPath = new Path(segPath.toString)
    // the session's hadoop conf, not a bare default — the claimed segment
    // may live on any Hadoop-compatible store the session is configured for
    val fs = hPath.getFileSystem(SparkSession.active.sessionState.newHadoopConf())
    var rows = 0L
    messages.foreach {
      case GraftDeltaCommitMessage(renames, n) =>
        rows += n
        renames.foreach { case (tmp, finalName) =>
          val t = new Path(tmp)
          if (!fs.rename(t, new Path(t.getParent, finalName)))
            throw new IOException(s"delta commit: rename failed for $tmp")
        }
      case other => throw new IllegalStateException(s"unexpected commit message $other")
    }
    sweepTmp(fs, hPath) // loser attempts' leftovers — never named in a message
    if (rows > 0) publish(segId, segPath)
    else Storage.deleteRecursively(segPath) // empty delta: drop the claim, no txn
    ()
  }

  /** Publish the delta. Default (`newest-wins`): optimistic append against
    * the current committed set — two concurrent `UPDATE v = v + 1` both
    * land and the newer txn's version wins per key, silently losing the
    * other increment (the documented MVCC answer, shared with every write
    * path here).
    *
    * `TBLPROPERTIES('graft.isolation' = 'serializable')`: before
    * publishing, any transaction committed AFTER this statement's read
    * snapshot (`readHorizon`) whose segment touches the same CHUNK keys
    * aborts the commit with `ConcurrentModificationException` — the same
    * abort-on-race contract as `compact()`/`checkpoint()`, at chunk
    * granularity (conservative: a same-chunk different-key writer also
    * aborts; Delta's file-level conflict detection has the same shape).
    * The publish itself is the conflict check's linearization point (a
    * CAS `replace` on the exact base the check read, re-checked on every
    * lost race), so no window remains between check and publish. The
    * loser's claim directory is deleted and the statement can simply be
    * retried — its re-read sees the winner. */
  private def publish(segId: SegmentId, segPath: java.nio.file.Path): Unit =
    GraftInsert.publishClaimed(SparkSession.active, root, matSchema,
      segId, segPath, if (serializable) Some(readHorizon) else None)

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    claimed.foreach(c => Storage.deleteRecursively(c._2))

  private def sweepTmp(fs: org.apache.hadoop.fs.FileSystem, p: Path): Unit =
    fs.listStatus(p).foreach { st =>
      if (st.isDirectory) sweepTmp(fs, st.getPath)
      else if (st.getPath.getName.startsWith("_tmp-")) fs.delete(st.getPath, false)
    }
}

private final class GraftDeltaWriterFactory(
    segDir: String, txnId: Long,
    dimNames: Array[String], chunkSizes: Array[Long], chunkColNames: Array[String],
    valueNames: Array[String], fileSchema: StructType,
    rowSchema: StructType, rowIdSchema: StructType,
    parquetFactory: OutputWriterFactory, conf: SerializableConf)
    extends DeltaWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new GraftDeltaWriter(segDir, txnId, dimNames, chunkSizes, chunkColNames,
      valueNames, fileSchema, rowSchema, rowIdSchema, parquetFactory, conf,
      partitionId, taskId)
}

/** Per-task delta writer: routes each incoming operation to its chunk
  * directory under the claimed segment, one open parquet writer at a time
  * when the input honors the requested dim ordering (rolling on chunk
  * change), a small map of open writers otherwise. */
private final class GraftDeltaWriter(
    segDir: String, txnId: Long,
    dimNames: Array[String], chunkSizes: Array[Long], chunkColNames: Array[String],
    valueNames: Array[String], fileSchema: StructType,
    rowSchema: StructType, rowIdSchema: StructType,
    parquetFactory: OutputWriterFactory, conf: SerializableConf,
    partitionId: Int, taskId: Long)
    extends DeltaWriter[InternalRow] {

  private val nDims = dimNames.length
  private val nVals = valueNames.length
  private val arity = fileSchema.length // dims ++ values ++ (_del, _txn_id, _seq)

  // positions of dims/values in the incoming row / rowId rows, by name
  private def idx(st: StructType, names: Array[String], what: String): Array[Int] =
    names.map { n =>
      val i = st.fieldIndex(n)
      require(i >= 0, s"delta $what schema is missing column $n"); i
    }
  // lazy: a DELETE-only delta ships an empty row schema (only row IDs flow)
  private lazy val rowDimIdx = idx(rowSchema, dimNames, "row")
  private lazy val rowValIdx = idx(rowSchema, valueNames, "row")
  private val idDimIdx =
    if (rowIdSchema != null) idx(rowIdSchema, dimNames, "rowId") else null
  private lazy val valueTypes = valueNames.map(n => rowSchema(rowSchema.fieldIndex(n)).dataType)

  private val ctx = new TaskAttemptContextImpl(conf.value,
    new TaskAttemptID(new TaskID(new org.apache.hadoop.mapreduce.JobID("graft-delta", 0),
      TaskType.MAP, partitionId), taskId.toInt))
  private val ext = parquetFactory.getFileExtension(ctx)

  private val open = mutable.LinkedHashMap.empty[String, org.apache.spark.sql.execution.datasources.OutputWriter]
  private val renames = mutable.ArrayBuffer.empty[(String, String)]
  private var fileSeq = 0
  private var rows = 0L
  private val out = new GenericInternalRow(arity)

  private def chunkDir(dims: Array[Long]): String = {
    val sb = new StringBuilder(segDir)
    var i = 0
    while (i < nDims) {
      sb.append('/').append(chunkColNames(i)).append('=')
        .append(Math.floorDiv(dims(i), chunkSizes(i)))
      i += 1
    }
    sb.toString
  }

  private def writerFor(dims: Array[Long]): org.apache.spark.sql.execution.datasources.OutputWriter = {
    val d = chunkDir(dims)
    open.getOrElseUpdate(d, {
      val finalName = f"part-p$partitionId%05d-a$taskId-$fileSeq%04d$ext"
      val tmp = s"$d/_tmp-p$partitionId-a$taskId-$fileSeq"
      fileSeq += 1
      renames += ((tmp, finalName))
      // sorted input keeps exactly one writer hot; close colder ones once a
      // handful accumulate (unsorted input still correct, just more files)
      if (open.size >= 8) { val (k, w) = open.head; w.close(); open.remove(k) }
      parquetFactory.newInstance(tmp, fileSchema, ctx)
    })
  }

  private def emit(dims: Array[Long], values: InternalRow, valIdx: Array[Int],
      del: Boolean): Unit = {
    var i = 0
    while (i < nDims) { out.update(i, dims(i)); i += 1 }
    i = 0
    while (i < nVals) {
      out.update(nDims + i,
        if (values == null || values.isNullAt(valIdx(i))) null
        else values.get(valIdx(i), valueTypes(i)))
      i += 1
    }
    out.update(nDims + nVals, del)
    out.update(nDims + nVals + 1, txnId)
    out.update(nDims + nVals + 2, 0L)
    writerFor(dims).write(out)
    rows += 1
  }

  private def dimsOf(row: InternalRow, ix: Array[Int]): Array[Long] = {
    val a = new Array[Long](nDims)
    var i = 0
    while (i < nDims) { a(i) = row.getLong(ix(i)); i += 1 }
    a
  }

  override def insert(row: InternalRow): Unit =
    emit(dimsOf(row, rowDimIdx), row, rowValIdx, del = false)

  override def update(metadata: InternalRow, id: InternalRow, row: InternalRow): Unit = {
    val newDims = dimsOf(row, rowDimIdx)
    val oldDims = dimsOf(id, idDimIdx)
    if (!java.util.Arrays.equals(newDims, oldDims))
      throw new UnsupportedOperationException(
        s"cannot assign dimension column(s) ${dimNames.mkString(", ")} — dimensions " +
          "are the row identity; DELETE + INSERT to move a row")
    emit(newDims, row, rowValIdx, del = false)
  }

  override def delete(metadata: InternalRow, id: InternalRow): Unit =
    emit(dimsOf(id, idDimIdx), null, null, del = true)

  override def commit(): WriterCommitMessage = {
    open.valuesIterator.foreach(_.close())
    open.clear()
    GraftDeltaCommitMessage(renames.toSeq, rows)
  }

  override def abort(): Unit = close()

  override def close(): Unit = {
    open.valuesIterator.foreach(_.close())
    open.clear()
    // leftover _tmp- files are swept by the driver commit (or die with the
    // claim directory on abort) — nothing to do here
  }
}

/** Minimal serializable Hadoop Configuration carrier (the write-side conf
  * prepared by `ParquetFileFormat.prepareWrite` must reach executors). */
private final class SerializableConf(@transient var value: Configuration)
    extends Serializable {
  private def writeObject(out: ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }
  private def readObject(in: ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new Configuration(false)
    value.readFields(in)
  }
}
