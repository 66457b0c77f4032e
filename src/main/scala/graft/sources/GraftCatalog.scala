package graft.sources

import java.util.Collections

import org.apache.spark.sql.{GraftInternals, SparkSession}
import org.apache.spark.sql.catalyst.analysis.NoSuchTableException
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Coalesce, Literal, NamedExpression, Not}
import org.apache.spark.sql.catalyst.expressions.aggregate.MaxBy
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project, Filter => LogicalFilter}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.connector.catalog.{Identifier, MetadataColumn, SupportsDelete, SupportsMetadataColumns, SupportsRead, SupportsWrite, Table, TableCapability, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.sources.InsertableRelation
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder
import org.apache.spark.sql.types.{DataType, LongType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.core.{CasStore, MatDb, MatSchema, PosixCasStore, Protocol, Scan, Storage}

/** SQL-native access to graft tables: a DataSource V2 `TableCatalog` that
  * makes every directory-layout graft table under a root queryable as
  * `SELECT ... FROM <cat>.<table>`, with time travel as first-class SQL —
  * `SELECT ... FROM <cat>.<table> VERSION AS OF <txn>` ≡ `MatDb.asOf(txn)`
  * (SURVEY.md §9.4 #5; the reference's snapshot horizon, database.rs:68-72,
  * reachable from plain SQL).
  *
  * == Setup ==
  * {{{
  *   spark.sql.catalog.g      = graft.sources.GraftCatalog
  *   spark.sql.catalog.g.root = /path/to/tables     // dir of graft tables
  *   spark.sql.extensions     = graft.plans.GraftExtensions
  * }}}
  * The extensions entry is REQUIRED (same deployment shape as Delta/Iceberg):
  * it injects [[GraftCatalogDedupRule]], the analyzer rule that completes
  * this catalog's read semantics. Without it a catalog read would return raw
  * segment rows.
  *
  * == Why a resolution rule instead of dedup inside the scan ==
  * The MVCC newest-wins resolve is an AGGREGATE above the parquet scan —
  * partial agg → exchange → final agg. A DSv2 `PartitionReader` runs per
  * input split and cannot host that shuffle (the same key appears in many
  * segments), which is why `format("graft")` stays a V1 relation (see the
  * design note in [[GraftSource]]). The catalog therefore exposes the RAW
  * segment rows as the table — `_txn_id`/`_seq`/`_ck_*` hidden as DSv2
  * METADATA columns so `SELECT *` never sees them — and the injected rule
  * wraps every such relation with the same packed-`_ver` `max_by` aggregate
  * [[graft.core.Scan.dedup]] plans ([[GraftCatalogDedupRule]] builds the
  * Catalyst tree directly, preserving the relation's output attribute ids).
  *
  * Because the wrap happens at ANALYSIS time, the optimizer then does the
  * semantically-correct predicate split for free: dimension predicates are
  * grouping-key references, so `PushDownPredicates` moves them below the
  * aggregate into the scan (parquet pushdown + `_ck_*` partition pruning via
  * ChunkPruneRule — dimension fields carry their chunk size in field
  * metadata); value predicates are non-grouping references and STAY above
  * the dedup — pre-dedup value filtering would resurrect superseded versions
  * (the V1 relation enforces the same split by hand; here Catalyst's own
  * rules enforce it structurally). GraftCatalogSpec pins both.
  *
  * Scale notes: `loadTable` resolves the visible segment set driver-side
  * (a listing, no data IO) exactly like every other table format's snapshot
  * resolution; `VERSION AS OF` shrinks the FILE LIST, so time travel is
  * metadata, not a filter. With `spark.sql.sources.v2.bucketing.enabled`
  * the scan reports `KeyGroupedPartitioning` over its chunk transforms
  * ([[ChunkFunction]]), so the dedup and dims-keyed joins between
  * chunk-aligned tables plan with zero exchanges; without it the dedup
  * takes its one hash exchange (GraftCatalogSpec pins the zero-exchange
  * plans).
  *
  * == Writes (round 8) ==
  * `INSERT INTO <cat>.<t> ...` commits one transaction per statement via
  * [[GraftInsert]] — the txn id claimed put-if-absent (atomic segment-dir
  * creation), data written by the shared segment writer
  * ([[graft.core.Segment]]), then published through the multi-writer
  * manifest commit, so concurrent SQL writers commit distinct sequential
  * transactions (GraftCatalogSpec races them). `CREATE TABLE`/CTAS express chunked dimensions through
  * `TBLPROPERTIES('graft.dims' = 'dim:chunkSize[,dim:chunkSize...]')`.
  * `INSERT OVERWRITE` and `TRUNCATE TABLE` are ONE atomic replace
  * transaction each ([[GraftInsert.overwrite]] — time travel below them
  * keeps reading, txn ids stay monotone). Writing to a `VERSION AS OF` /
  * `TIMESTAMP AS OF` relation
  * is rejected. `UPDATE` / `MERGE INTO` / subquery-`DELETE` commit
  * through the delta row-level path ([[GraftRowLevelOperation]], round
  * 10). `TIMESTAMP AS OF` resolves against per-commit wall-clock stamps
  * ([[graft.core.Storage.commitTimestamps]], round 10). Maintenance is
  * SQL-first too: `CALL <cat>.system.checkpoint/checkpoint_if_needed/
  * compact/vacuum` ([[GraftProcedures]]).
  */
class GraftCatalog extends TableCatalog
    with org.apache.spark.sql.connector.catalog.SupportsNamespaces
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog
    with org.apache.spark.sql.connector.catalog.FunctionCatalog {
  private var catalogName: String = _
  private var root: java.nio.file.Path = _

  /** The [[ChunkFunction]] family (`chunk_<size>`) are the only catalog
    * functions — they exist so Spark's V2ScanPartitioningAndOrdering can
    * resolve the `KeyGroupedPartitioning` transform [[GraftScan]] reports
    * (the storage-partitioned-join path; relation.funCatalog is populated
    * from this interface automatically). */
  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    ChunkFunction.forName(ident.name).getOrElse(
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident))

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    Array.empty // chunk_<size> is an open family — resolved by name only

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    val r = options.get("root")
    require(r != null, s"catalog $name requires spark.sql.catalog.$name.root")
    root = java.nio.file.Paths.get(r)
  }

  override def name(): String = catalogName

  private def tableDir(ident: Identifier): java.nio.file.Path =
    (ident.namespace() :+ ident.name()).foldLeft(root)(_.resolve(_))

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = namespace.foldLeft(root)(_.resolve(_))
    if (!java.nio.file.Files.isDirectory(dir)) Array.empty
    else {
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.list(dir)
      try s.iterator().asScala
        .filter(p => MatDb.exists(p.toString))
        .map(p => Identifier.of(namespace, p.getFileName.toString))
        .toArray
      finally s.close()
    }
  }

  // ---- namespaces = directories under the root --------------------------
  // A namespace is any directory that is not itself a graft table; tables
  // nest under it (`tableDir` already resolves multi-part identifiers).
  // CREATE NAMESPACE = mkdir, DROP = rmdir (cascade deletes tables too),
  // metadata = the location. The same shape as a path-organized lakehouse.

  private def nsDir(namespace: Array[String]): java.nio.file.Path =
    namespace.foldLeft(root)(_.resolve(_))

  private def isNamespaceDir(p: java.nio.file.Path): Boolean =
    java.nio.file.Files.isDirectory(p) && !MatDb.exists(p.toString)

  override def listNamespaces(): Array[Array[String]] = listNamespaces(Array.empty)

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    val dir = nsDir(namespace)
    if (!isNamespaceDir(dir))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException(
        catalogName +: namespace)
    import scala.jdk.CollectionConverters._
    val s = java.nio.file.Files.list(dir)
    try s.iterator().asScala
      .filter(p => isNamespaceDir(p) && !p.getFileName.toString.startsWith("_"))
      .map(p => namespace :+ p.getFileName.toString)
      .toArray
    finally s.close()
  }

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty || isNamespaceDir(nsDir(namespace))

  override def loadNamespaceMetadata(namespace: Array[String]): java.util.Map[String, String] = {
    if (!namespaceExists(namespace))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException(
        catalogName +: namespace)
    Collections.singletonMap("location", nsDir(namespace).toString)
  }

  override def createNamespace(namespace: Array[String],
      metadata: java.util.Map[String, String]): Unit = {
    val dir = nsDir(namespace)
    if (java.nio.file.Files.exists(dir))
      throw new org.apache.spark.sql.catalyst.analysis.NamespaceAlreadyExistsException(
        catalogName +: namespace)
    java.nio.file.Files.createDirectories(dir)
    ()
  }

  override def alterNamespace(namespace: Array[String],
      changes: org.apache.spark.sql.connector.catalog.NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "graft namespaces are plain directories; there is nothing to alter")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    val dir = nsDir(namespace)
    if (namespace.isEmpty || !isNamespaceDir(dir)) false
    else {
      if (!cascade) {
        val s = java.nio.file.Files.list(dir)
        val empty = try !s.iterator().hasNext finally s.close()
        require(empty,
          s"namespace ${namespace.mkString(".")} is not empty (use CASCADE)")
      }
      Storage.deleteRecursively(dir)
      true
    }
  }

  // ---- SQL CALL maintenance procedures ([[GraftProcedures]]) ------------
  // `CALL <cat>.system.checkpoint/checkpoint_if_needed/compact/vacuum` —
  // the table-maintenance counterparts of the DML surface, driving the
  // same MatDb machinery the Scala API exposes.

  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    if (!ident.namespace().sameElements(GraftProcedures.Namespace))
      throw new UnsupportedOperationException(
        s"no such procedure ${ident.namespace().mkString(".")}.${ident.name()}: " +
          s"graft procedures live in the 'system' namespace " +
          s"(CALL $catalogName.system.<proc>(...))")
    GraftProcedures.load(catalogName, root, ident.name())
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(GraftProcedures.Namespace))
      GraftProcedures.names.map(n => Identifier.of(GraftProcedures.Namespace, n)).toArray
    else Array.empty

  override def loadTable(ident: Identifier): Table = load(ident, None)

  /** `VERSION AS OF <txn>` — the version string is a transaction id. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val txn = try version.toLong catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"graft VERSION AS OF expects a transaction id, got '$version' " +
          s"(discover ids with MatDb.history())")
    }
    load(ident, Some(txn))
  }

  /** `TIMESTAMP AS OF <ts>` — Spark hands the evaluated timestamp in
    * MICROseconds; resolve it to the newest transaction whose commit
    * wall-clock (`_commit_ts`, monotone by txn order) is <= it, then load
    * that version. A timestamp before the first commit loads the empty
    * version-0 snapshot, mirroring `VERSION AS OF 0`. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val dir = tableDir(ident)
    if (!MatDb.exists(dir.toString)) throw new NoSuchTableException(ident)
    val txn = Storage.commitTimestamps(dir,
      Storage.historySegments(dir, Protocol.at(dir).listCommitted(dir)))
      .filter(_._2 <= timestamp / 1000L) // micros -> millis
      .lastOption.map(_._1).getOrElse(0L)
    load(ident, Some(txn))
  }

  /** The commit-history METADATA TABLE of `<table>` — reachable as
    * `<cat>.<table>.history` (Iceberg-style; only when no real table
    * shadows the name) or `` <cat>.`<table>$history` ``. One row per
    * committed segment: (txn_id, seg_num, path, commit_ts) — the SQL face
    * of [[MatDb.history]], built from the read-only listing (no recovery
    * sweep) and served as a driver-side LocalScan (history is metadata,
    * O(#segments)). `VERSION AS OF n` on the history table shows the
    * history as it stood at txn n. */
  private def historyTableFor(ident: Identifier, asOf: Option[Long]): Option[Table] = {
    val baseIdent: Option[Identifier] =
      if (ident.name() == "history" && ident.namespace().nonEmpty)
        Some(Identifier.of(ident.namespace().init, ident.namespace().last))
      else if (ident.name().endsWith("$history"))
        Some(Identifier.of(ident.namespace(), ident.name().stripSuffix("$history")))
      else None
    baseIdent.filter(b => MatDb.exists(tableDir(b).toString)).map { b =>
      val dir = tableDir(b)
      // history spans the manifest lineage (replaced-away states stay
      // discoverable until vacuum), so a user can find the txn id to
      // VERSION AS OF below an overwrite/truncate
      val segs = Storage.historySegments(dir, Protocol.at(dir).listCommitted(dir))
        .filter(s => asOf.forall(s.txnId <= _)).sorted
      val ts = Storage.commitTimestamps(dir, segs).toMap
      new GraftHistoryTable(s"$catalogName.${b.toString}.history",
        segs.map { s =>
          // small-file diagnostics per segment (data file count + bytes):
          // the signal `CALL system.optimize` exists to fix — surfaced
          // where a user looks for it. One directory walk per segment,
          // driver-side, at metadata-table load.
          val (files, bytes) = Storage.dataFileStats(Storage.segmentPath(dir, s))
          (s.txnId, s.segNum, Storage.segmentPath(dir, s).toString,
            ts(s.txnId), files, bytes)
        })
    }
  }

  /** The CHANGE-STREAM sub-table of `<table>` — reachable as
    * `<cat>.<table>.stream` (or `` <cat>.`<table>$stream` ``), so
    * `spark.readStream.table("<cat>.<t>.stream")` tails the table's
    * committed transactions with NO path plumbing — the catalog face of
    * `format("graft-stream")`. Rows are RAW segment rows (logical schema +
    * `_del`/`_txn_id`/`_seq` — a CDC delta, deliberately NOT the resolved
    * snapshot), and per-read options (`startingTxn`, `startingTimestamp`,
    * `maxTxnsPerBatch`, `maxBytesPerBatch`) flow through the scan-builder
    * options exactly like the path-based source. */
  private def streamTableFor(ident: Identifier): Option[Table] = {
    val baseIdent: Option[Identifier] =
      if (ident.name() == "stream" && ident.namespace().nonEmpty)
        Some(Identifier.of(ident.namespace().init, ident.namespace().last))
      else if (ident.name().endsWith("$stream"))
        Some(Identifier.of(ident.namespace(), ident.name().stripSuffix("$stream")))
      else None
    baseIdent.filter(b => MatDb.exists(tableDir(b).toString)).map { b =>
      val dir = tableDir(b)
      new graft.streaming.GraftStreamTable(dir.toString,
        graft.streaming.GraftStreamTable.schemaFor(dir.toString))
    }
  }

  private def load(ident: Identifier, asOf: Option[Long]): Table = {
    val dir = tableDir(ident)
    if (!MatDb.exists(dir.toString))
      return historyTableFor(ident, asOf)
        .orElse(if (asOf.isEmpty) streamTableFor(ident) else None)
        .getOrElse(throw new NoSuchTableException(ident))
    val schema = Storage.readSchema(dir)
    // read-only listing: no recovery sweep (MatDb.open would sweep another
    // writer's aged claims — a catalog read must not); a rename-committed
    // directory is upgraded to manifest version 0 first
    val proto = Protocol.at(dir)
    // snapshot horizon BEFORE the listing: a commit racing between the two
    // reads then has txnId > readHorizon and the serializable conflict
    // check aborts it (spurious-but-safe), instead of the reverse order
    // where the racer is inside the horizon yet absent from the snapshot —
    // an exempted lost update (deleteWhere already orders it this way)
    val horizon = proto.txnWatermark(dir)
    // time travel resolves through the manifest lineage (replace commits —
    // Protocol.listCommittedAsOf); the current snapshot is the plain listing
    val visible = asOf match {
      case None    => proto.listCommitted(dir).sorted
      case Some(t) => proto.listCommittedAsOf(dir, t)
    }
    val paths = visible.map(s => Storage.segmentPath(dir, s).toString)
    new GraftV2Table(s"$catalogName.${ident.toString}", schema, paths,
      // a VERSION AS OF relation is a historical snapshot — not writable
      writeDir = if (asOf.isEmpty) Some(dir.toString) else None,
      tableProps = Storage.readProps(dir),
      // the snapshot horizon this relation READS: serializable row-level
      // DML conflict-checks its publish against txns committed above it
      readHorizon = horizon,
      // exactly one checkpoint/optimize baseline visible: reads skip the
      // MVCC resolve (GraftCatalogDedupRule leaves the relation bare)
      uniqueBaseline = visible.map(_.txnId).distinct.size == 1 &&
        visible.nonEmpty &&
        visible.forall(s => Storage.isUnique(Storage.segmentPath(dir, s))))
  }

  /** `CREATE TABLE`/CTAS: chunked dimensions come from
    * `TBLPROPERTIES('graft.dims' = 'dim:chunkSize[,...]')`; every other
    * column is a value column with its declared type. `'graft.protocol'`
    * may only name "manifest" ([[GraftCatalog.ProtocolProp]]); `'graft.store'`
    * must name a registered store. Both are checked before anything is
    * written. */
  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: java.util.Map[String, String]): Table = {
    require(partitions.isEmpty,
      "graft tables chunk on their dimensions (TBLPROPERTIES graft.dims), not PARTITIONED BY")
    val dimsProp = Option(properties.get(GraftCatalog.DimsProp)).getOrElse(
      throw new IllegalArgumentException(
        s"CREATE TABLE on a graft catalog requires TBLPROPERTIES('${GraftCatalog.DimsProp}' = " +
          "'dim:chunkSize[,dim:chunkSize...]') naming the key dimensions"))
    val dims = dimsProp.split(",").map(_.trim).filter(_.nonEmpty).map { spec =>
      spec.split(":") match {
        case Array(n, c) => graft.core.Dimension(n.trim, c.trim.toLong)
        case _ => throw new IllegalArgumentException(
          s"bad ${GraftCatalog.DimsProp} entry '$spec' (want dim:chunkSize)")
      }
    }.toSeq
    dims.foreach { d =>
      val f = schema.find(_.name == d.name).getOrElse(throw new IllegalArgumentException(
        s"${GraftCatalog.DimsProp} names '${d.name}' which is not a column"))
      require(f.dataType == LongType || f.dataType == org.apache.spark.sql.types.IntegerType,
        s"dimension '${d.name}' must be integral (chunking is floor(dim/chunkSize)), got ${f.dataType}")
    }
    val dimNames = dims.map(_.name).toSet
    val values = schema.fields.filterNot(f => dimNames.contains(f.name))
      .map(f => graft.core.ValueCol(f.name, f.dataType)).toSeq
    val mat = MatSchema(dims, values)
    val dir = tableDir(ident)
    if (MatDb.exists(dir.toString))
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(
        Seq(catalogName) ++ ident.namespace() :+ ident.name())
    Option(properties.get(GraftCatalog.ProtocolProp))
      .foreach(MatDb.requireManifest(_, s"TBLPROPERTIES('${GraftCatalog.ProtocolProp}')"))
    val store = CasStore.forName(
      Option(properties.get(GraftCatalog.StoreProp)).getOrElse(PosixCasStore.name))
    java.nio.file.Files.createDirectories(dir.getParent)
    MatDb.create(SparkSession.active, mat, dir.toString, store = store.name)
    // persist operational graft.* properties (isolation policy, …) — dims
    // live in the schema, the protocol is fixed and the store is the
    // `_store` marker, so those are excluded; Spark-reserved props
    // (owner/provider/…) are session metadata, not table state
    val extra = {
      import scala.jdk.CollectionConverters._
      properties.asScala.filter { case (k, _) =>
        (k.startsWith("graft.") || k.startsWith("parquet.")) &&
          k != GraftCatalog.DimsProp &&
          k != GraftCatalog.ProtocolProp && k != GraftCatalog.StoreProp
      }.toMap
    }
    if (extra.nonEmpty) Storage.writeProps(dir, extra)
    load(ident, None)
  }

  /** Schema evolution, METADATA-ONLY at any scale: `ADD COLUMN` / `DROP
    * COLUMN` on VALUE columns rewrite `schema.json` and touch no segment
    * — the explicit read schema surfaces an added column as null in every
    * pre-alter segment (the same mechanism that makes `_del` and every
    * other schema widening byte-compatible), and a dropped column simply
    * stops being read (its bytes become dead weight until the next
    * compact rewrites live rows). Dimensions are the key identity and the
    * chunk layout — never alterable. Added columns must be nullable (old
    * rows ARE null). Concurrent writers racing an alter see either schema
    * (both valid: extra df columns are dropped on write, missing ones
    * were just added — their absence reads as null).
    *
    * Dropped names are TOMBSTONED, not forgotten: segments are read by
    * column NAME, and pre-drop segments still hold the dropped column's
    * bytes, so re-adding the name would silently resurrect old values (or
    * fail the scan on a type change). ADD COLUMN of a tombstoned name is
    * rejected until `MatDb.compact()` rewrites every live row without it
    * and clears the tombstone.
    *
    * Concurrent ALTERs serialize through [[Storage.casSchema]]: the loser
    * of a publish race re-reads and re-applies its change against the
    * winner's schema, so neither change is lost. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val dir = tableDir(ident)
    if (!MatDb.exists(dir.toString)) throw new NoSuchTableException(ident)
    // `SET/UNSET TBLPROPERTIES` of operational graft.* knobs (e.g.
    // `graft.isolation`) go to the _props document, not the schema; the
    // structural props (dims, protocol) are immutable table identity
    val (propChanges, schemaChanges) = changes.partition {
      case _: TableChange.SetProperty | _: TableChange.RemoveProperty => true
      case _ => false
    }
    if (propChanges.nonEmpty) {
      val next = propChanges.foldLeft(Storage.readProps(dir)) {
        case (m, set: TableChange.SetProperty) =>
          require(set.property.startsWith("graft.") ||
            set.property.startsWith("parquet."),
            "only graft.* and parquet.* (writer passthrough) table " +
              s"properties are settable, got '${set.property}'")
          require(set.property != GraftCatalog.DimsProp &&
            set.property != GraftCatalog.ProtocolProp,
            s"'${set.property}' is structural table identity and cannot be altered")
          m + (set.property -> set.value)
        case (m, rm: TableChange.RemoveProperty) => m - rm.property
        case (m, _) => m
      }
      Storage.writeProps(dir, next)
    }
    if (schemaChanges.isEmpty) return load(ident, None)
    var tries = 0
    while (tries < 16) {
      val (cur, version) = Storage.readSchemaVersioned(dir)
      val next = schemaChanges.foldLeft(cur) { (sch, change) =>
        change match {
          case add: TableChange.AddColumn =>
            require(add.fieldNames.length == 1,
              "graft columns are flat; nested ADD COLUMN is not supported")
            val name = add.fieldNames.head
            require(!sch.columnNames.contains(name), s"column '$name' already exists")
            require(!sch.dropped.contains(name),
              s"column '$name' was previously dropped and pre-drop segments still " +
                "contain its bytes; run compact() to rewrite them before re-adding the name")
            require(add.isNullable,
              s"added column '$name' must be nullable (pre-alter rows read it as null)")
            require(add.position == null,
              "graft ADD COLUMN ignores ordering; drop the FIRST/AFTER clause")
            sch.copy(values = sch.values :+ graft.core.ValueCol(name, add.dataType))
          case del: TableChange.DeleteColumn =>
            require(del.fieldNames.length == 1,
              "graft columns are flat; nested DROP COLUMN is not supported")
            val name = del.fieldNames.head
            require(!sch.dimNames.contains(name),
              s"'$name' is a dimension — the key identity and chunk layout are not alterable")
            if (!sch.valueNames.contains(name)) {
              // ifExists is a boxed Boolean in the TableChange API — a
              // programmatic deleteColumn may pass null; never unbox it raw
              require(del.ifExists != null && del.ifExists,
                s"no such column '$name' (use DROP COLUMN IF EXISTS)")
              sch
            } else {
              require(sch.values.size > 1,
                s"cannot drop the last value column '$name'")
              sch.copy(values = sch.values.filterNot(_.name == name),
                dropped = (sch.dropped :+ name).distinct)
            }
          case other => throw new UnsupportedOperationException(
            s"graft ALTER TABLE supports ADD/DROP of value columns only, got $other")
        }
      }
      if (Storage.casSchema(dir, version, next)) return load(ident, None)
      tries += 1 // lost the publish race: re-read and re-apply
    }
    throw new IllegalStateException("ALTER TABLE: too many schema publish races")
  }

  override def dropTable(ident: Identifier): Boolean = {
    val dir = tableDir(ident)
    if (!MatDb.exists(dir.toString)) false
    else { Storage.deleteRecursively(dir); true }
  }

  /** RENAME TABLE = one atomic directory rename: every path inside a graft
    * table (segments, `_log/` manifests, `_schema/` versions) is relative
    * to its root, so the move carries the full history — committed data,
    * time travel, and schema versions all survive under the new name.
    * Same-filesystem only (true of a catalog root by construction). A
    * writer holding an open handle to the OLD path fails its next commit
    * with a missing-directory error rather than resurrecting the old name
    * — the same contract as dropping a table under a live handle. */
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val from = tableDir(oldIdent)
    val to = tableDir(newIdent)
    if (!MatDb.exists(from.toString)) throw new NoSuchTableException(oldIdent)
    if (MatDb.exists(to.toString))
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(
        Seq(catalogName) ++ newIdent.namespace() :+ newIdent.name())
    java.nio.file.Files.createDirectories(to.getParent)
    java.nio.file.Files.move(from, to, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }
}

object GraftCatalog {
  /** Table property declaring the chunked key dimensions at CREATE/CTAS:
    * `'graft.dims' = 'dim:chunkSize[,dim:chunkSize...]'`. */
  val DimsProp = "graft.dims"

  /** Table property naming the commit protocol: surfaced by `DESCRIBE` as
    * "manifest", the one protocol. At CREATE/CTAS it may be given only as
    * "manifest"; any other value is refused. */
  val ProtocolProp = "graft.protocol"

  /** Table property selecting the row-level-DML conflict policy:
    * "newest-wins" (default — concurrent UPDATE/MERGE/DELETE all land,
    * highest txn id wins per key) or "serializable" (a delta commit aborts
    * with `ConcurrentModificationException` when a transaction committed
    * after its read snapshot touched the same chunks — no lost updates).
    * Settable at CREATE or via ALTER TABLE SET TBLPROPERTIES. */
  val IsolationProp = "graft.isolation"

  /** Table property selecting the commit-primitive store at CREATE:
    * "posix" (default — hard-link conditional put, atomic rename, real
    * directories) or "objectsim" (the simulated object store: conditional
    * put + overwrite put only, the two calls a real S3/GCS binding has —
    * [[graft.core.ObjectStoreSim]]). The choice persists as a `_store`
    * marker and is carried by clones. Any other name is refused. */
  val StoreProp = "graft.store"

  /** Table property refining serializable conflict detection:
    * "chunk" (default — a same-chunk commit above the snapshot aborts the
    * statement) or "key" (row-level commits persist their touched-key
    * digest — exact up to [[graft.core.Storage.KeyDigestCap]] keys, a
    * fixed-rate bloom filter above it — so a same-chunk commit with
    * provably DISJOINT keys no longer false-aborts at any delta size; two
    * concurrent over-cap deltas stay chunk-granular). Only meaningful with
    * `graft.isolation = 'serializable'`.
    *
    * GUARANTEE UNDER 'key' — WRITE-serializable, not full serializable
    * (Delta Lake's WriteSerializable equivalent): exoneration compares
    * WRITE sets only, so two statements whose writes are disjoint but
    * whose READ predicates cover each other's keys (write skew — e.g.
    * concurrent `UPDATE ... WHERE v = ...` guarding an invariant over
    * rows the other one moves) can now BOTH commit where chunk
    * granularity would have aborted one. Lost updates remain impossible
    * (an overlapping write key always conflicts). Keep 'chunk' when
    * statements' correctness depends on predicate reads staying stable. */
  val GranularityProp = "graft.isolation.granularity"
}

/** One graft table snapshot as a DSv2 table: logical schema = dimensions +
  * values; `_txn_id`, `_seq` and the `_ck_*` chunk keys are METADATA columns
  * (hidden from `SELECT *`, resolvable by name — the dedup rule reads the
  * first two, ChunkPruneRule's derived predicates prune on the last). The
  * physical read is Spark's own vectorized parquet DSv2 scan builder over
  * exactly the visible segment directories, so pushdown, pruning and
  * vectorization are all stock Spark.
  *
  * The file index is [[graft.core.Scan.segmentIndex]], the one the core
  * read path ([[graft.core.Scan.raw]]) scans too: one index over every
  * visible segment directory with an EXPLICIT `PartitionSpec` rather than
  * partition inference (each segment directory is its own Hive-partitioned
  * `_ck_*` tree, and Spark's inference refuses multiple partitioned roots —
  * CONFLICTING_DIRECTORY_STRUCTURES). The chunk dirs are enumerated at the
  * first scan build of a visible set and reused while that set is
  * unchanged, and a missing segment directory fails the read instead of
  * dropping that segment's rows. */
final class GraftV2Table(tableName: String, val matSchema: MatSchema,
    val segmentPaths: Seq[String], val writeDir: Option[String] = None,
    val tableProps: Map[String, String] = Map.empty,
    val readHorizon: Long = 0L,
    val uniqueBaseline: Boolean = false)
    extends Table with SupportsRead with SupportsWrite with SupportsMetadataColumns
    with SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {

  /** SQL `UPDATE` / `MERGE INTO` / subquery-`DELETE` — delta-based
    * row-level operations (every change is one MVCC version; see
    * [[GraftRowLevelOperation]]). Simple filter-only DELETEs still take
    * the cheaper metadata path below ([[deleteWhere]]) — Spark prefers it
    * when [[canDeleteWhere]] accepts. */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    require(writeDir.isDefined,
      s"$tableName is a VERSION AS OF snapshot — historical versions are read-only")
    new GraftRowLevelBuilder(this, info)
  }

  /** Data columns physically present in every segment file: logical ++
    * provenance — the shared [[graft.core.Scan.provenanceStruct]]. */
  private val dataSchema: StructType = Scan.provenanceStruct(matSchema)

  override def name(): String = tableName

  override def schema(): StructType = matSchema.toStructType

  /** Surfaced by `DESCRIBE TABLE EXTENDED` / `SHOW TBLPROPERTIES`: the
    * CREATE-time contract (dims + protocol) a user needs to re-create or
    * reason about the table. */
  override def properties(): java.util.Map[String, String] = {
    val m = new java.util.HashMap[String, String]()
    tableProps.foreach { case (k, v) => m.put(k, v) }
    m.put(GraftCatalog.DimsProp,
      matSchema.dimensions.map(d => s"${d.name}:${d.chunkSize}").mkString(","))
    writeDir.foreach(_ => m.put(GraftCatalog.ProtocolProp, Protocol.name))
    Collections.unmodifiableMap(m)
  }

  override def capabilities(): java.util.Set[TableCapability] = {
    val caps = new java.util.HashSet[TableCapability]()
    caps.add(TableCapability.BATCH_READ)
    if (writeDir.isDefined) {
      caps.add(TableCapability.V1_BATCH_WRITE)
      // INSERT OVERWRITE (full-table): planned as OverwriteByExpression
      // with a true predicate, served by the write builder's
      // SupportsTruncate as ONE atomic MVCC replace transaction
      caps.add(TableCapability.TRUNCATE)
      // MERGE WITH SCHEMA EVOLUTION: Spark turns the source's extra
      // columns into ADD COLUMNS TableChanges through alterTable — exactly
      // the metadata-only nullable-value evolution this format supports
      caps.add(TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)
    }
    Collections.unmodifiableSet(caps)
  }

  /** `INSERT INTO` — one committed transaction per statement, through the
    * concurrency-safe claim + publish of [[GraftInsert]]. A V1 write: the
    * insert is a whole-DataFrame transactional commit (claim, chunk-routed
    * write, protocol publish), which is driver-orchestrated by nature —
    * the DSv2 per-partition writer/commit split buys nothing here and the
    * data write itself still runs distributed (one chunk-keyed shuffle). */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val dir = writeDir.getOrElse(throw new UnsupportedOperationException(
      s"$tableName is a VERSION AS OF snapshot — historical versions are read-only"))
    new WriteBuilder with org.apache.spark.sql.connector.write.SupportsTruncate {
      private var replaceAll = false
      /** `INSERT OVERWRITE` arrives as OverwriteByExpression(true) and the
        * planner asks the builder to truncate: the whole statement becomes
        * ONE replace transaction ([[GraftInsert.overwrite]] — tombstone-all
        * + new rows), so readers flip atomically and time travel below the
        * overwrite keeps working. */
      override def truncate(): WriteBuilder = { replaceAll = true; this }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: org.apache.spark.sql.DataFrame,
                overwrite: Boolean): Unit = {
              if (replaceAll || overwrite)
                GraftInsert.overwrite(data.sparkSession, dir, data)
              else GraftInsert.append(data.sparkSession, dir, data)
              ()
            }
          }
      }
    }
  }

  override def metadataColumns(): Array[MetadataColumn] =
    (Seq(Scan.TxnCol, Scan.SeqCol) ++ matSchema.chunkColNames)
      .map(n => GraftMetaCol(n, LongType)).toArray :+
      (GraftMetaCol(Scan.DelCol, org.apache.spark.sql.types.BooleanType): MetadataColumn)

  /** `DELETE FROM <cat>.<t> WHERE ...` — one committed transaction of MVCC
    * TOMBSTONES for the keys whose current resolved row matches the
    * predicate ([[graft.core.Transaction.deleteWhere]] semantics, through
    * the same cross-process claim + publish as INSERT,
    * [[GraftInsert.tombstone]]). Value predicates apply POST-resolve (a
    * superseded version matching the filter does not doom its key);
    * dimension predicates push into the scan. Spark only routes predicates
    * it can translate to source filters here; [[GraftFilters]] defines the
    * supported set ([[canDeleteWhere]] refuses the rest, which surfaces as
    * a clear analysis error instead of a wrong answer). */
  override def canDeleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    writeDir.isDefined && GraftFilters.toColumn(filters).isDefined

  /** `TRUNCATE TABLE` — NOT the `SupportsDelete` default (deleteWhere with
    * no filters = resolve the whole live table + one tombstone per key,
    * O(live keys)): routed through [[GraftInsert.overwrite]] with an empty
    * source, a pure manifest replace publish — O(1) regardless of table
    * size, time travel below it intact until vacuum, the truncating txn id
    * burned so stream offsets stay monotone. */
  override def truncateTable(): Boolean = {
    val dir = writeDir.getOrElse(throw new UnsupportedOperationException(
      s"$tableName is a VERSION AS OF snapshot — historical versions are read-only"))
    val spark = SparkSession.active
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], matSchema.toStructType)
    GraftInsert.overwrite(spark, dir, empty)
    true
  }

  override def deleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    val dir = writeDir.getOrElse(throw new UnsupportedOperationException(
      s"$tableName is a VERSION AS OF snapshot — historical versions are read-only"))
    val pred = GraftFilters.toColumn(filters).getOrElse(
      throw new UnsupportedOperationException(
        s"graft DELETE cannot translate filters: ${filters.mkString(", ")}"))
    val spark = SparkSession.active
    // resolve the CURRENT snapshot (this table's visible segment set may be
    // stale if other writers committed since load — re-list, same as INSERT)
    val root = Storage.rootPath(dir)
    val proto = Protocol.at(root)
    // serializable tables conflict-check the tombstone publish against
    // txns committed above THIS listing's watermark — captured before the
    // resolve so the filter-DELETE path gives the same no-lost-update
    // guarantee as UPDATE/MERGE (GraftInsert.publishConflictChecked)
    val since =
      if (tableProps.getOrElse(GraftCatalog.IsolationProp, "") == "serializable")
        Some(proto.txnWatermark(root))
      else None
    val doomed = Scan.resolve(spark, matSchema, proto.committedPaths(root), Nil)
      .filter(pred)
      .select(matSchema.dimNames.map(org.apache.spark.sql.functions.col): _*)
    GraftInsert.tombstone(spark, dir, doomed, since)
    ()
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val spark = SparkSession.active
    new GraftScanBuilder(spark, Scan.segmentIndex(spark, matSchema, segmentPaths),
      StructType(dataSchema ++ Scan.chunkStruct(matSchema)), dataSchema, options,
      analyzedStats, analyzedDimStats, matSchema)
  }

  /** Fresh ANALYZEd statistics (resolved bytes, resolved row count), only
    * for the CURRENT snapshot of a writable table (a VERSION AS OF
    * relation prices its own historical file list) and only while the
    * stats' watermark matches the load-time watermark — a later commit
    * falls back to the stock file-bytes estimate (the safe
    * over-estimate; raw bytes count every MVCC version). */
  private def analyzedStats: Option[(Long, Long)] =
    if (writeDir.isEmpty) None
    else for {
      txn <- tableProps.get("graft.stats.txn")
      if txn.toLong == readHorizon
      bytes <- tableProps.get("graft.stats.bytes")
      rows <- tableProps.get("graft.stats.rowcount")
    } yield (bytes.toLong, rows.toLong)

  /** Per-dimension min/max/NDV persisted by ANALYZE, surfaced as DSv2
    * `columnStats` so CBO join REORDER and filter-selectivity estimation
    * see more than bytes (dimensions are the join/filter keys; NDV is
    * exactly what JoinEstimation's cardinality formula needs). Only
    * meaningful when [[analyzedStats]] is fresh — callers gate on it. */
  private def analyzedDimStats: Seq[GraftDimStats] =
    matSchema.dimNames.flatMap { d =>
      for {
        mn <- tableProps.get(s"graft.stats.dim.$d.min")
        mx <- tableProps.get(s"graft.stats.dim.$d.max")
        ndv <- tableProps.get(s"graft.stats.dim.$d.ndv")
      } yield GraftDimStats(d, mn.toLong, mx.toLong, ndv.toLong)
    }
}

/** ANALYZEd per-dimension statistics (dimensions are integral by
  * construction, so min/max are Longs; dims are non-null, so
  * nullCount = 0 and avgLen = maxLen = 8). */
private final case class GraftDimStats(name: String, min: Long, max: Long, ndv: Long)

/** [[ParquetScanBuilder]] whose built scan reports ANALYZEd resolved-
  * snapshot statistics instead of raw multi-version file bytes — the DSv2
  * face of the same fix `GraftRelation.sizeInBytes` applies on the v1
  * path: a hot-update dimension table with N versions per key otherwise
  * looks N× its joinable size and loses its broadcast. Everything else
  * (pushdown, pruning, vectorized read) is stock ParquetScanBuilder. */
private final class GraftScanBuilder(
    spark: SparkSession,
    index: org.apache.spark.sql.execution.datasources.PartitioningAwareFileIndex,
    fullSchema: StructType, dataSchema: StructType,
    options: CaseInsensitiveStringMap, stats: Option[(Long, Long)],
    dimStats: Seq[GraftDimStats], matSchema: MatSchema)
    extends ParquetScanBuilder(spark, index, fullSchema, dataSchema, options) {
  override def build(): org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan =
    new GraftScan(super.build(), stats, dimStats, matSchema)
}

/** A [[org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan]]
  * with two graft-specific additions; reads, pushdown metadata, and file
  * listing are inherited unchanged.
  *
  * 1. ANALYZEd statistics (`estimateStatistics`): resolved sizeInBytes +
  *    rowCount + per-dimension columnStats, when fresh. The columnStats
  *    reach Catalyst through `DataSourceV2Relation.transformV2Stats` →
  *    `attributeStats`, so with `spark.sql.cbo.enabled` FilterEstimation
  *    prices dimension predicates by real min/max range overlap and
  *    JoinEstimation prices join cardinality by NDV — CBO join REORDER on
  *    graft tables stops running blind on bytes.
  *
  * 2. Storage-partitioned joins (`outputPartitioning` +
  *    key-grouped `planInputPartitions`): with
  *    `spark.sql.sources.v2.bucketing.enabled`, the scan reports
  *    `KeyGroupedPartitioning(chunk(size, dim)...)` over the table's
  *    chunk-key layout (resolved through [[ChunkFunction]] on the
  *    catalog) and emits one `HasPartitionKey` input partition per chunk
  *    tuple, grouping that chunk's files across ALL segments. Catalyst
  *    can then prove co-location: the MVCC dedup aggregate and any
  *    join/aggregate keyed on the dims of two chunk-aligned graft tables
  *    run with ZERO exchanges — at 100 TB this removes the all-data
  *    shuffle that dominates a fact-fact join. Differently-chunked
  *    tables are incompatible by transform equality and correctly fall
  *    back to a shuffle; when the conf is off, partitioning is
  *    size-packed exactly as stock ParquetScan. */
private final class GraftScan(
    base: org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan,
    stats: Option[(Long, Long)], dimStats: Seq[GraftDimStats], matSchema: MatSchema)
    extends org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan(
      base.sparkSession, base.hadoopConf, base.fileIndex, base.dataSchema,
      base.readDataSchema, base.readPartitionSchema, base.pushedFilters,
      base.options, base.pushedAggregate, base.partitionFilters,
      base.dataFilters, base.pushedVariantExtractions)
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning {

  // read once so the planning-time claim (outputPartitioning) and the
  // execution-time partition layout (planInputPartitions) cannot diverge
  // on a mid-query conf change
  private val spjEnabled = base.sparkSession.sessionState.conf.getConf(
    org.apache.spark.sql.internal.SQLConf.V2_BUCKETING_ENABLED)

  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    keyedPartitions match {
      case Some(parts) =>
        val transforms: Array[org.apache.spark.sql.connector.expressions.Expression] =
          matSchema.dimensions.map { d =>
            org.apache.spark.sql.connector.expressions.Expressions.apply(
              ChunkFunction.name(d.chunkSize),
              org.apache.spark.sql.connector.expressions.Expressions.column(d.name))
          }.toArray
        new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
          transforms, parts.length)
      case None =>
        new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)
    }

  override def planInputPartitions()
      : Array[org.apache.spark.sql.connector.read.InputPartition] =
    keyedPartitions.map(_.toArray[org.apache.spark.sql.connector.read.InputPartition])
      .getOrElse(super.planInputPartitions())

  /** One [[KeyedFilePartition]] per chunk tuple (across segments), keyed
    * for Spark's key-grouped execution; None when SPJ is off or any file
    * sits outside the `_ck_*` layout (never on the standard write paths —
    * defensive fallback to stock planning).
    *
    * Keys are STRUCTURAL: each file's chunk tuple comes from the file
    * index's own parsed partition values (`fileIndex.listFiles` — the same
    * source of truth the actual read uses), matched to the planned
    * [[PartitionedFile]]s by exact path equality. The keys cannot be read
    * off the PartitionedFiles directly because their `partitionValues`
    * are projected to `readPartitionSchema`, which rarely includes the
    * internal `_ck_*` columns. No path-STRING parsing of key content: a
    * layout that ever encoded keys differently would surface here as a
    * missing `_ck_*` field in the partition schema → clean fallback. */
  private lazy val keyedPartitions: Option[Seq[KeyedFilePartition]] =
    if (!spjEnabled) None
    else {
      val pschema = fileIndex.partitionSchema
      val ckIdx = matSchema.chunkColNames.map(n =>
        pschema.fieldNames.indexOf(n) match {
          case -1 => None
          case i => Some(i)
        })
      if (ckIdx.exists(_.isEmpty)) None
      else {
        def longAt(row: org.apache.spark.sql.catalyst.InternalRow, i: Int): Option[Long] =
          pschema.fields(i).dataType match {
            case org.apache.spark.sql.types.LongType => Some(row.getLong(i))
            case org.apache.spark.sql.types.IntegerType => Some(row.getInt(i).toLong)
            case _ => None // chunk keys are integral on every graft write path
          }
        val keyByPath: Map[String, Option[Seq[Long]]] =
          fileIndex.listFiles(base.partitionFilters, base.dataFilters).iterator.flatMap { d =>
            val vals = ckIdx.map(i => longAt(d.values, i.get))
            val key = if (vals.forall(_.isDefined)) Some(vals.map(_.get)) else None
            d.files.iterator.map(f => f.getPath.toString -> key)
          }.toMap
        val files = partitions.flatMap(_.files)
        val keyed = files.map(f => keyByPath.getOrElse(f.filePath.toPath.toString, None) -> f)
        if (keyed.isEmpty || keyed.exists(_._1.isEmpty)) None
        else {
          import scala.math.Ordering.Implicits.seqOrdering
          Some(
            keyed.groupBy(_._1.get).toSeq.sortBy(_._1) // numeric tuple order
              .zipWithIndex.map { case ((key, fs), idx) =>
                new KeyedFilePartition(idx, fs.map(_._2).toArray,
                  org.apache.spark.sql.catalyst.InternalRow.fromSeq(key))
              })
        }
      }
    }

  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics =
    stats match {
      case None => super.estimateStatistics()
      case Some((bytes, rows)) =>
        new org.apache.spark.sql.connector.read.Statistics {
          override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.of(bytes)
          override def numRows(): java.util.OptionalLong = java.util.OptionalLong.of(rows)
          override def columnStats(): java.util.Map[
              org.apache.spark.sql.connector.expressions.NamedReference,
              org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
            val m = new java.util.HashMap[
              org.apache.spark.sql.connector.expressions.NamedReference,
              org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
            dimStats.foreach { s =>
              m.put(org.apache.spark.sql.connector.expressions.Expressions.column(s.name),
                new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
                  override def distinctCount(): java.util.OptionalLong =
                    java.util.OptionalLong.of(s.ndv)
                  override def min(): java.util.Optional[Object] =
                    java.util.Optional.of(java.lang.Long.valueOf(s.min))
                  override def max(): java.util.Optional[Object] =
                    java.util.Optional.of(java.lang.Long.valueOf(s.max))
                  override def nullCount(): java.util.OptionalLong =
                    java.util.OptionalLong.of(0L) // dims are non-null by construction
                  override def avgLen(): java.util.OptionalLong = java.util.OptionalLong.of(8L)
                  override def maxLen(): java.util.OptionalLong = java.util.OptionalLong.of(8L)
                })
            }
            m
          }
        }
    }
}

/** A [[org.apache.spark.sql.execution.datasources.FilePartition]] that
  * knows which chunk tuple it holds — Spark's storage-partitioned-join
  * machinery groups and aligns partitions by this key. */
private final class KeyedFilePartition(
    idx: Int,
    fs: Array[org.apache.spark.sql.execution.datasources.PartitionedFile],
    key: org.apache.spark.sql.catalyst.InternalRow)
    extends org.apache.spark.sql.execution.datasources.FilePartition(idx, fs)
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): org.apache.spark.sql.catalyst.InternalRow = key
}

/** Driver-side commit-history metadata table (see
  * [[GraftCatalog.historyTableFor]]): rows are already resolved at load
  * time; the scan is a [[org.apache.spark.sql.connector.read.LocalScan]]
  * Spark plans as a local table scan — no jobs, no files. */
final class GraftHistoryTable(tableName: String,
    rows: Seq[(Long, Int, String, Long, Long, Long)]) extends Table with SupportsRead {

  private val historySchema = StructType(Seq(
    StructField("txn_id", LongType, nullable = false),
    StructField("seg_num", org.apache.spark.sql.types.IntegerType, nullable = false),
    StructField("path", org.apache.spark.sql.types.StringType, nullable = false),
    StructField("commit_ts", org.apache.spark.sql.types.TimestampType, nullable = false),
    // small-file diagnostics: data file count + bytes per segment — the
    // SELECT a user runs to decide whether CALL system.optimize is due
    StructField("files", LongType, nullable = false),
    StructField("bytes", LongType, nullable = false)))

  override def name(): String = tableName
  override def schema(): StructType = historySchema
  override def capabilities(): java.util.Set[TableCapability] =
    Collections.singleton(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): org.apache.spark.sql.connector.read.Scan =
        new org.apache.spark.sql.connector.read.LocalScan {
          override def readSchema(): StructType = historySchema
          override def rows(): Array[org.apache.spark.sql.catalyst.InternalRow] =
            rowsArray
        }
    }

  private lazy val rowsArray: Array[org.apache.spark.sql.catalyst.InternalRow] =
    rows.map { case (txn, seg, path, tsMillis, files, bytes) =>
      org.apache.spark.sql.catalyst.InternalRow(
        txn, seg,
        org.apache.spark.unsafe.types.UTF8String.fromString(path),
        tsMillis * 1000L, // TimestampType is epoch micros
        files, bytes)
    }.toArray
}

private final case class GraftMetaCol(colName: String, colType: DataType)
    extends MetadataColumn {
  override def name(): String = colName
  override def dataType(): DataType = colType
  override def isNullable: Boolean = true
}

/** V1 source-filter → Column translation, shared by the DELETE path and
  * the V1 relation's pushdown ([[GraftRelation]]). Flat attributes only
  * (graft columns are flat by construction). For DELETE, any filter shape
  * outside this set makes the whole translation `None`, which
  * [[GraftV2Table.canDeleteWhere]] reports so Spark raises the standard
  * untranslatable-DELETE error rather than silently deleting the wrong
  * rows. */
private[sources] object GraftFilters {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.{col, lit}
  import org.apache.spark.sql.sources._

  def toColumn(filters: Array[Filter]): Option[Column] =
    if (filters.isEmpty) Some(lit(true)) // DELETE FROM t with no WHERE
    else {
      val cols = filters.map(one)
      if (cols.exists(_.isEmpty)) None
      else Some(cols.flatten.reduce(_ && _))
    }

  /** One filter; None for a shape outside the set. */
  def one(f: Filter): Option[Column] = f match {
    case AlwaysTrue() => Some(lit(true))
    case AlwaysFalse() => Some(lit(false))
    case EqualTo(a, v) => Some(col(a) === lit(v))
    case EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
    case GreaterThan(a, v) => Some(col(a) > lit(v))
    case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case LessThan(a, v) => Some(col(a) < lit(v))
    case LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case In(a, vs) => Some(col(a).isin(vs.toSeq: _*))
    case IsNull(a) => Some(col(a).isNull)
    case IsNotNull(a) => Some(col(a).isNotNull)
    case StringStartsWith(a, v) => Some(col(a).startsWith(v))
    case StringEndsWith(a, v) => Some(col(a).endsWith(v))
    case StringContains(a, v) => Some(col(a).contains(v))
    case And(l, r) => for { lc <- one(l); rc <- one(r) } yield lc && rc
    case Or(l, r) => for { lc <- one(l); rc <- one(r) } yield lc || rc
    case org.apache.spark.sql.sources.Not(c) => one(c).map(!_)
    case _ => None
  }
}

/** Analyzer rule completing [[GraftCatalog]]'s read semantics: every
  * [[GraftV2Table]] relation is wrapped with the MVCC newest-wins resolve —
  * the exact packed-`_ver` `max_by` aggregate of [[graft.core.Scan.dedup]],
  * built as a Catalyst tree over the relation's hidden provenance metadata
  * columns. Output attribute ids are preserved (dims pass through the
  * aggregate as grouping attributes; values are re-aliased to their original
  * ids in a restoring Project), so references resolved before or after this
  * rule fires bind identically.
  *
  * Skip guard: a relation whose visible output already contains `_txn_id`
  * is either the inner relation of an existing wrap or a query that
  * explicitly selected provenance metadata columns — both read RAW segment
  * rows (the latter is the documented escape hatch for history inspection;
  * [[graft.core.MatDb.history]] is the first-class API). */
case class GraftCatalogDedupRule(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    // a write command's TARGET relation must stay bare — wrapping it in
    // the resolve aggregate would corrupt AppendData's table reference
    // (reads inside the INSERT's query subtree still get wrapped);
    // reference identity, not equality: `INSERT INTO t SELECT FROM t`
    // reads and writes structurally similar relations.
    // Row-level writes (WriteDelta from UPDATE/MERGE) are the exception:
    // their `table` field IS the read relation instance inside the query —
    // the query occurrence must get the resolve wrap (the merge must match
    // against RESOLVED rows), while the un-traversed `table`/`originalTable`
    // fields keep the bare reference Spark validates against.
    val writeTargets: Seq[LogicalPlan] = plan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
          if !w.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.RowLevelWrite] =>
        w.table
      // DELETE's target relation must also stay bare: Spark resolves the
      // condition against it and plans SupportsDelete on the RELATION node
      // (the tombstone resolve happens inside deleteWhere, not in the plan).
      // The target arrives as SubqueryAlias(relation) — collect the
      // relations under it, not the alias node
      case d: org.apache.spark.sql.catalyst.plans.logical.DeleteFromTable => d.table
      // UPDATE/MERGE targets likewise stay bare until RewriteUpdateTable /
      // RewriteMergeIntoTable replace them with a WriteDelta whose READ
      // relation (RowLevelOperationTable) then takes the wrap; wrapping the
      // target first would hide the DataSourceV2Relation those rewrites
      // pattern-match on. The MERGE SOURCE subtree is not excluded — reads
      // there resolve like any query.
      case u: org.apache.spark.sql.catalyst.plans.logical.UpdateTable => u.table
      case m: org.apache.spark.sql.catalyst.plans.logical.MergeIntoTable => m.targetTable
    }.flatMap(_.collect { case r: DataSourceV2Relation => r })
    def isWriteTarget(rel: DataSourceV2Relation): Boolean =
      writeTargets.exists(_ eq rel)
    plan.resolveOperatorsUp {
      case rel: DataSourceV2Relation
          if graftTableOf(rel).isDefined &&
            !rel.output.exists(_.name == Scan.TxnCol) &&
            !isWriteTarget(rel) =>
        val g = graftTableOf(rel).get
        // READ-OPTIMIZED fast path: exactly one checkpoint/optimize
        // baseline visible (one live row per key, no tombstones —
        // Storage.UniqueFile) ⇒ resolve is the identity; leave the
        // relation BARE: no dedup aggregate, no exchange, and value
        // predicates push into parquet. Any later commit reloads the
        // table without the flag. Direct GraftV2Table reads only — the
        // row-level (UPDATE/MERGE) wrap keeps its uniform shape.
        if (rel.table.isInstanceOf[GraftV2Table] && g.uniqueBaseline) {
          registerMviews(rel, g)
          rel
        } else dedup(rel, g.matSchema)
    }
  }

  /** The SQL leg of the MV auto-rewrite: register this read's plan so a
    * GROUP BY above it can be answered from a declared maintained view
    * ([[graft.plans.MvRewriteRule]]). Registers CURRENT snapshots (root
    * from `writeDir`) and `VERSION AS OF` relations too (root derived from
    * the pinned segment directories — historical relations are read-only
    * and carry no writeDir): maintenance commits are PINNED to base txn
    * ids, so a view version at exactly the relation's txn serves the
    * historical aggregate verbatim, and the rule's per-query alignment
    * witness (pinned commit at the snapshot txn, at-or-below the
    * maintenance stamp) decides soundness — a mid-batch txn simply falls
    * through to the base, same as the DataFrame `asOf` path (q149). */
  private def registerMviews(key: LogicalPlan, g: GraftV2Table): Unit = {
    val root = g.writeDir.orElse(g.segmentPaths.headOption.map(p =>
      java.nio.file.Paths.get(p).getParent.toString))
    root.foreach { r =>
      val mv = g.tableProps.getOrElse("graft.mviews", "")
        .split('\t').toSeq.filter(_.nonEmpty)
      if (mv.nonEmpty) {
        val snapTxn = g.segmentPaths
          .flatMap(p => graft.core.Storage.decode(
            java.nio.file.Paths.get(p).getFileName.toString))
          .map(_.txnId).foldLeft(0L)(math.max)
        graft.plans.MvRegistry.register(key.canonicalized,
          graft.plans.MvRegistry.Entry(java.nio.file.Paths.get(r)
            .toAbsolutePath.toString, snapTxn, mv))
      }
    }
  }

  /** The graft table behind a relation: direct, or wrapped in Spark's
    * [[org.apache.spark.sql.connector.write.RowLevelOperationTable]] (the
    * read relation UPDATE/MERGE rewrites plan against). */
  private def graftTableOf(rel: DataSourceV2Relation): Option[GraftV2Table] =
    rel.table match {
      case g: GraftV2Table => Some(g)
      case other => GraftInternals.rowLevelInnerTable(other)
        .collect { case g: GraftV2Table => g }
    }

  private def dedup(rel: DataSourceV2Relation, schema: MatSchema): LogicalPlan = {
    val out = rel.output
    // a RowLevelOperationTable doesn't implement SupportsMetadataColumns, so
    // withMetadataColumns() no-ops there — append the provenance attributes
    // by hand (the scan builder is the table's own, its data schema carries
    // them; column pruning resolves them by name like any data column)
    val withMeta =
      if (rel.table.isInstanceOf[GraftV2Table]) rel.withMetadataColumns()
      else rel.copy(output = rel.output ++
        (Seq(Scan.TxnCol -> LongType, Scan.SeqCol -> LongType) ++
          // chunk keys too: ChunkPruneRule turns dimension predicates into
          // partition filters on these, same as a plain catalog read
          schema.chunkColNames.map(_ -> LongType) :+
          (Scan.DelCol -> (org.apache.spark.sql.types.BooleanType: DataType)))
          .map { case (n, t) =>
            org.apache.spark.sql.catalyst.expressions.AttributeReference(n, t)()
          })
    def attr(name: String): Attribute = withMeta.output
      .find(_.name == name)
      .getOrElse(throw new IllegalStateException(s"graft relation lost column $name"))
    val dims = schema.dimNames.map(attr)
    // the _ver packing of Scan.dedup — one primitive max_by buffer per
    // value column keeps the plan on HashAggregateExec
    val ver = GraftInternals.expression(Scan.version(
      GraftInternals.column(attr(Scan.TxnCol)), GraftInternals.column(attr(Scan.SeqCol))))
    // the winning version's tombstone flag resolves through the same
    // aggregate (Scan.dedup's delete-aware path): null _del (pre-delete
    // segments) coalesces to live, and a Filter above the aggregate drops
    // retired keys before the restoring Project hides the flag
    val delAlias = Alias(
      MaxBy(Coalesce(Seq(attr(Scan.DelCol), Literal(false))), ver).toAggregateExpression(),
      "_del_resolved")()
    val aggExprs: Seq[NamedExpression] =
      dims ++ schema.valueNames.map { v =>
        Alias(MaxBy(attr(v), ver).toAggregateExpression(), v)()
      } :+ delAlias
    val agg = Aggregate(dims, aggExprs, withMeta)
    val delAttr = agg.output.find(_.name == "_del_resolved").get
    val live = LogicalFilter(Not(delAttr), agg)
    // restore the ORIGINAL output attribute ids so references bound to the
    // bare relation (star expansion, earlier-resolved filters) stay valid
    val restored = out.map { a =>
      if (schema.dimNames.contains(a.name)) a
      else Alias(agg.output.find(_.name == a.name).get, a.name)(exprId = a.exprId)
    }
    val wrapped = Project(restored, live)
    // the SQL leg of the MV auto-rewrite: a catalog snapshot of a table
    // with declared materialized views registers its resolve wrap, so
    // `SELECT g, sum(v) FROM cat.t GROUP BY g` rewrites exactly like the
    // DataFrame path (MvRewriteRule looks through the SubqueryAlias SQL
    // puts above this wrap) — VERSION AS OF relations included, keyed by
    // their own pinned txn (see registerMviews).
    rel.table match {
      case g: GraftV2Table => registerMviews(wrapped, g)
      case _               => ()
    }
    wrapped
  }
}
