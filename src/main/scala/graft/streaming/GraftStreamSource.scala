package graft.streaming

import java.nio.file.{Files, Paths, Path => JPath}
import java.util
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import graft.core.{Protocol, SegmentId, Storage}

/** `spark.readStream.format("graft-stream")` — an exactly-once,
  * transaction-aligned streaming source over a graft table (a DSv2
  * `MicroBatchStream`; a file-glob stream over segment directories could
  * not be one, since visibility is the manifest, not the listing):
  * **offsets are committed transaction ids**, so a micro-batch is a
  * contiguous, replayable range of whole transactions. A rename-committed
  * table directory is upgraded to manifest version 0 on first poll.
  *
  *   - Exactly-once: the engine checkpoints `{"txn": N}` offsets;
  *     [[GraftMicroBatchStream.planInputPartitions]] is a pure function of
  *     the (start, end] txn range over the append-only committed-segment
  *     listing, so a replayed batch re-reads exactly the same rows.
  *   - Txn-aligned: option `maxTxnsPerBatch` (via admission control) bounds
  *     how many transactions one micro-batch covers; `1` = the reference's
  *     atomic-visibility unit becomes the micro-batch unit.
  *   - Starting point: options `startingTxn` (txn id to start strictly
  *     after, or `"latest"` to tail only new commits) and
  *     `startingTimestamp` (epoch millis; include commits stamped
  *     at-or-after) position a FRESH stream — the Delta
  *     startingVersion/startingTimestamp idiom; checkpointed streams
  *     resume from their own offsets.
  *   - Read-only: segment discovery uses [[graft.core.Protocol.listCommitted]]
  *     — never the recovery sweep, which would delete a live writer's
  *     in-flight segments.
  *
  * Rows carry `_txn_id`/`_seq` provenance; version resolution is the
  * consumer's choice (e.g. [[Streams.dedupWithinWatermark]]) — a stream of
  * upserts cannot be pre-deduped by the source without unbounded state.
  *
  * Constraints (documented, asserted nowhere cheaper): the table must be
  * append-only while streamed — a replace commit (overwrite/compact) drops
  * segments a replayed batch may still reference (same limitation as Delta's
  * streaming reads). Column types supported: long/int/double/float/string/
  * boolean/binary (the engine's own types; segments are written by
  * [[graft.core.Segment.write]]).
  *
  * Why per-file readers are fine HERE and not for the batch source
  * ([[graft.sources.GraftSource]] design note): the stream emits raw segment
  * rows — no cross-file MVCC aggregate — so each parquet file really is an
  * independent partition.
  */
class GraftStreamSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-stream"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GraftStreamTable.schemaFor(Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException("graft-stream requires a path")))

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new GraftStreamTable(
      Option(properties.get("path")).getOrElse(
        throw new IllegalArgumentException("graft-stream requires a path")),
      schema)
}

object GraftStreamTable {
  /** The stream's row shape: logical schema ++ (`_del`, `_txn_id`, `_seq`).
    * `_del` rides along so a downstream consumer sees DELETES as deletes
    * (a tombstone row otherwise looks like an upsert to all-null values);
    * files from pre-delete segments surface it as null ≡ live, the same
    * read-compat contract as Scan.provenanceStruct. Shared by the
    * path-based `format("graft-stream")` source and the catalog's
    * `<cat>.<table>.stream` sub-table. */
  def schemaFor(path: String): StructType = {
    val s = Storage.readSchema(Storage.rootPath(path))
    StructType(s.toStructType.fields ++ Seq(
      StructField(graft.core.Scan.DelCol, org.apache.spark.sql.types.BooleanType),
      StructField(graft.core.Scan.TxnCol, LongType),
      StructField(graft.core.Scan.SeqCol, LongType)))
  }
}

final class GraftStreamTable(path: String, tableSchema: StructType)
    extends Table with SupportsRead {
  override def name(): String = s"graft-stream:$path"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = tableSchema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
          require(!(options.containsKey("startingTxn") &&
              options.containsKey("startingTimestamp")),
            "graft-stream options startingTxn and startingTimestamp are mutually exclusive")
          new GraftMicroBatchStream(path, tableSchema,
            Option(options.get("maxTxnsPerBatch")).map(_.toLong),
            Option(options.get("maxBytesPerBatch")).map(_.toLong),
            Option(options.get("startingTxn")),
            Option(options.get("startingTimestamp")).map(_.toLong))
        }
      }
    }
}

/** Offset = highest committed transaction id included so far. */
final case class TxnOffset(txn: Long) extends Offset {
  override def json(): String = s"""{"txn":$txn}"""
}

final class GraftMicroBatchStream(
    path: String,
    schema: StructType,
    maxTxnsPerBatch: Option[Long],
    maxBytesPerBatch: Option[Long],
    startingTxn: Option[String] = None,
    startingTimestamp: Option[Long] = None)
    extends MicroBatchStream with SupportsAdmissionControl {

  private val root: JPath = Storage.rootPath(path)
  private def protocol = Protocol.at(root)

  /** Watermark, not just the listing max: a replace-TRUNCATE leaves no
    * segments but records its producing txn in the manifest — the offset
    * must advance past it, never rewind. A lagging stream crossing a
    * replace commit (overwrite/truncate/compact) sees the replacing txn's
    * NEW rows as one batch and skips the replaced-away intermediates —
    * replace is a table-level swap, not row-level CDC (same contract as
    * Delta's overwrite commits without skipChangeCommits failing/skip). */
  private def latestTxn(): Long = protocol.txnWatermark(root)

  /** Where a FRESH stream starts (a checkpointed stream resumes from its
    * own offsets and never consults this): by default all history
    * (txn 0 = everything); `startingTxn` = a txn id to start strictly
    * AFTER, or `"latest"` to tail only new commits — at 100 TB "re-read
    * the whole table through the row-at-a-time stream reader" is almost
    * never what a new consumer wants; `startingTimestamp` (epoch millis)
    * = include every commit whose wall-clock stamp is at-or-after it. */
  override def initialOffset(): Offset = TxnOffset {
    startingTxn match {
      case Some("latest") => latestTxn()
      case Some(n) => n.toLong
      case None => startingTimestamp match {
        case None => 0L
        case Some(t) =>
          (Storage.commitTimestamps(root, protocol.listCommitted(root))
            .filter(_._2 < t).map(_._1) :+ 0L).max
      }
    }
  }

  override def latestOffset(): Offset = TxnOffset(latestTxn())

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  /** Admission control: cap a batch at `maxTxnsPerBatch` transactions
    * and/or `maxBytesPerBatch` of on-disk input (whole transactions only —
    * a txn is never split, so at least one is always admitted; the byte cap
    * is the `maxBytesPerTrigger` idiom of Spark's file source, aligned to
    * the table's atomic-visibility unit). */
  override def latestOffset(startOffset: Offset, limit: ReadLimit): Offset = {
    val start = startOffset.asInstanceOf[TxnOffset].txn
    val segs = protocol.listCommitted(root) // ONE listing per admission call
    val latest = latestTxn()
    val txnCapped = maxTxnsPerBatch.fold(latest)(m => math.min(latest, start + m))
    val end = maxBytesPerBatch match {
      case None => txnCapped
      case Some(cap) =>
        val byTxn = segs.filter(s => s.txnId > start && s.txnId <= txnCapped)
          .groupBy(_.txnId).toSeq.sortBy(_._1)
        var bytes = 0L
        var last = start
        for ((t, ids) <- byTxn if last == start || bytes < cap) {
          bytes += ids.flatMap(dataFiles).map(f => Files.size(Paths.get(f))).sum
          if (last == start || bytes <= cap) last = t
        }
        // segment-less txns past the last data txn (a replace-TRUNCATE's
        // recorded producing txn) cost no bytes — admit them, or the
        // byte-capped stream would stall below the truncate forever
        if (byTxn.isEmpty || byTxn.last._1 == last) txnCapped else last
    }
    TxnOffset(end.max(start))
  }

  override def deserializeOffset(json: String): Offset =
    TxnOffset("""\d+""".r.findFirstIn(json).map(_.toLong).getOrElse(
      throw new IllegalArgumentException(s"bad graft-stream offset: $json")))

  /** One partition per data file of every segment in txn range (start, end].
    * Deterministic on an append-only table: segment dirs are immutable once
    * committed and the listing filter is pure. */
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val lo = start.asInstanceOf[TxnOffset].txn
    val hi = end.asInstanceOf[TxnOffset].txn
    val segs = protocol.listCommitted(root).filter(s => s.txnId > lo && s.txnId <= hi)
    segs.flatMap(dataFiles).map(f => GraftFilePartition(f): InputPartition).toArray
  }

  private def dataFiles(id: SegmentId): Seq[String] = {
    val dir = Storage.segmentPath(root, id)
    if (!Files.isDirectory(dir)) Seq.empty
    else {
      val walk = Files.walk(dir)
      try walk.iterator().asScala
        .filter { p =>
          val n = p.getFileName.toString
          n.endsWith(".parquet") && !n.startsWith(".") && !n.startsWith("_")
        }
        .map(_.toString).toSeq.sorted
      finally walk.close()
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftFileReaderFactory(schema.json)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

final case class GraftFilePartition(file: String) extends InputPartition

final class GraftFileReaderFactory(schemaJson: String) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val file = partition.asInstanceOf[GraftFilePartition].file
    val schema = DataType.fromJson(schemaJson).asInstanceOf[StructType]
    new GraftFileReader(file, schema)
  }
}

/** Row-at-a-time parquet reader via parquet-mr's example Group API — no
  * SparkSession needed on the executor. Fine for a streaming source (small
  * per-txn increments); the batch path keeps Spark's vectorized reader. */
final class GraftFileReader(file: String, schema: StructType)
    extends PartitionReader[InternalRow] {

  private val reader: ParquetReader[Group] =
    ParquetReader.builder(new GroupReadSupport(), new HPath(file))
      .withConf(new Configuration())
      .build()
  private var current: Group = _

  override def next(): Boolean = { current = reader.read(); current != null }

  override def get(): InternalRow = {
    val g = current
    val fileType = g.getType
    new GenericInternalRow(schema.fields.map { f =>
      if (!fileType.containsField(f.name) || g.getFieldRepetitionCount(f.name) == 0) null
      else f.dataType match {
        case LongType    => g.getLong(f.name, 0)
        case IntegerType => g.getInteger(f.name, 0)
        case DoubleType  => g.getDouble(f.name, 0)
        case FloatType   => g.getFloat(f.name, 0)
        case BooleanType => g.getBoolean(f.name, 0)
        case StringType  => UTF8String.fromBytes(g.getBinary(f.name, 0).getBytes)
        case BinaryType  => g.getBinary(f.name, 0).getBytes
        case d: org.apache.spark.sql.types.DecimalType =>
          // Spark writes precision <= 18 as INT64 unscaled, wider (and
          // legacy) as big-endian unscaled bytes in FLBA/BINARY
          import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
          fileType.getType(f.name).asPrimitiveType().getPrimitiveTypeName match {
            case INT64 =>
              org.apache.spark.sql.types.Decimal(g.getLong(f.name, 0), d.precision, d.scale)
            case INT32 =>
              org.apache.spark.sql.types.Decimal(g.getInteger(f.name, 0).toLong, d.precision, d.scale)
            case _ =>
              val unscaled = new java.math.BigInteger(g.getBinary(f.name, 0).getBytes)
              org.apache.spark.sql.types.Decimal(
                new java.math.BigDecimal(unscaled, d.scale), d.precision, d.scale)
          }
        case org.apache.spark.sql.types.ArrayType(et, _) =>
          // Spark's standard 3-level list layout: group (LIST) { repeated
          // group list { element } } — embeddings and other array values
          // ride graft tables, so the stream reader must pass them through
          val outer = g.getGroup(f.name, 0)
          val n = outer.getFieldRepetitionCount("list")
          val arr = new Array[Any](n)
          var i = 0
          while (i < n) {
            val entry = outer.getGroup("list", i)
            arr(i) =
              if (entry.getFieldRepetitionCount("element") == 0) null
              else et match {
                case FloatType   => entry.getFloat("element", 0)
                case DoubleType  => entry.getDouble("element", 0)
                case LongType    => entry.getLong("element", 0)
                case IntegerType => entry.getInteger("element", 0)
                case BooleanType => entry.getBoolean("element", 0)
                case StringType  =>
                  UTF8String.fromBytes(entry.getBinary("element", 0).getBytes)
                case other => throw new UnsupportedOperationException(
                  s"graft-stream: unsupported array element type $other for ${f.name}")
              }
            i += 1
          }
          new org.apache.spark.sql.catalyst.util.GenericArrayData(arr)
        case dt => throw new UnsupportedOperationException(
          s"graft-stream: unsupported column type $dt for ${f.name}")
      }
    }.asInstanceOf[Array[Any]])
  }

  override def close(): Unit = reader.close()
}
