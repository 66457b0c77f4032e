package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType, StructField, StructType}

import graft.core.MatDb

/** Maintenance as SQL: `CALL <cat>.system.<proc>(...)` stored procedures
  * for the graft catalog (Spark 4's `ProcedureCatalog` — the same surface
  * shape Iceberg exposes its table maintenance through). Until now
  * checkpoint/compact/vacuum were Scala-API-only ([[graft.core.MatDb]]),
  * which left a SQL-first user able to write (INSERT/UPDATE/MERGE/DELETE,
  * round 8-10) but not to MAINTAIN a long-lived table. Each procedure is
  * one driver-side call into the existing commit-protocol machinery — no
  * new semantics here, and the concurrency story (conflict-checked
  * replace, GC grace window) is exactly the API's.
  *
  * Procedures (namespace `system`):
  *  - `checkpoint(table, horizon)` → `baseline_txn` — fold txns <= horizon
  *    into one baseline, retaining newer time travel (MatDb.checkpoint).
  *  - `checkpoint_if_needed(table, max_segments, retain_txns)` →
  *    `baseline_txn` (null when below threshold) — the policy form.
  *  - `compact(table)` → `txn_id` — full flatten (MatDb.compact).
  *  - `vacuum(table)` → `removed` — sweep unreferenced segment dirs.
  *
  * `table` is the identifier under the catalog root, dotted for
  * namespaces (`'ns.tbl'`). Spark supplies named-argument rearrangement,
  * coercion and DEFAULT filling; results surface as one-row relations via
  * [[org.apache.spark.sql.connector.read.LocalScan]] (driver-side, no
  * jobs — the same shape as the `.history` metadata table). */
object GraftProcedures {

  val Namespace: Array[String] = Array("system")

  /** Declared procedure names, for `listProcedures` / error messages. */
  val names: Seq[String] =
    Seq("checkpoint", "checkpoint_if_needed", "compact", "vacuum", "clone",
      "analyze", "optimize", "register_mview", "maintain_mview", "index_stats",
      "retrain_index")

  def load(catalogName: String, root: java.nio.file.Path,
      name: String): UnboundProcedure = {
    def tableDir(row: InternalRow): java.nio.file.Path = {
      val table = row.getUTF8String(0).toString
      val dir = table.split('.').foldLeft(root)(_.resolve(_))
      if (!MatDb.exists(dir.toString))
        throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
          Identifier.of(Array.empty, table))
      dir
    }
    def db(row: InternalRow): MatDb =
      MatDb.open(SparkSession.active, tableDir(row).toString)
    // a table named at parameter `i` (dotted, under THIS catalog root —
    // same escape validation as clone's target: procedure args must never
    // address paths outside the catalog)
    def namedDir(root: java.nio.file.Path, row: InternalRow, i: Int): java.nio.file.Path = {
      val table = row.getUTF8String(i).toString
      val parts = table.split('.')
      require(parts.nonEmpty && parts.forall(p =>
        p.nonEmpty && p != ".." && p != "." &&
          !p.contains('/') && !p.contains('\\')),
        s"'$table' is not a valid dotted table name")
      val dir = parts.foldLeft(root)(_.resolve(_))
      if (!MatDb.exists(dir.toString))
        throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
          Identifier.of(Array.empty, table))
      dir
    }
    name match {
      case "checkpoint" => proc("checkpoint",
        "fold transactions <= horizon into one baseline segment set; " +
          "time travel above the horizon is preserved",
        params = Seq(in("table", StringType), in("horizon", LongType)),
        out = StructType(Seq(StructField("baseline_txn", LongType, nullable = false)))) {
        row => new GenericInternalRow(Array[Any](db(row).checkpoint(row.getLong(1))))
      }
      case "checkpoint_if_needed" => proc("checkpoint_if_needed",
        "checkpoint once the table exceeds max_segments committed segment " +
          "sets, keeping the newest retain_txns transactions time-travelable; " +
          "no-op (null) below the threshold",
        params = Seq(in("table", StringType),
          in("max_segments", IntegerType, default = Some("8")),
          in("retain_txns", IntegerType, default = Some("4"))),
        out = StructType(Seq(StructField("baseline_txn", LongType, nullable = true)))) {
        row => new GenericInternalRow(Array[Any](
          db(row).checkpointIfNeeded(row.getInt(1), row.getInt(2)).orNull))
      }
      case "compact" => proc("compact",
        "rewrite the resolved snapshot as one transaction replacing all " +
          "history (time travel is gone afterwards)",
        params = Seq(in("table", StringType)),
        out = StructType(Seq(StructField("txn_id", LongType, nullable = false)))) {
        row => new GenericInternalRow(Array[Any](db(row).compact()))
      }
      case "vacuum" => proc("vacuum",
        "physically delete segment directories no longer referenced by the " +
          "manifest (superseded by checkpoint/compact, or crashed writers " +
          "past the GC grace window)",
        params = Seq(in("table", StringType)),
        out = StructType(Seq(StructField("removed", IntegerType, nullable = false)))) {
        // Storage-level sweep off the committed LISTING, not MatDb.open —
        // a SQL-driven vacuum must not run recovery side effects on a
        // table other processes may hold open. This is THE call that
        // reclaims replaced-away history (round 11: recovery retains it
        // for time travel) and ends VERSION AS OF below replace commits.
        // The GC grace window still protects live claims.
        row =>
          val dir = tableDir(row)
          val proto = graft.core.Protocol.at(dir)
          val removed = proto.sweepUnreferenced(dir, proto.listCommitted(dir))
          // with the superseded directories gone, manifest versions
          // referencing them can serve no read — same GC MatDb.vacuum runs,
          // so table metadata stays O(live history), not O(commits ever)
          proto.pruneManifestHistory(dir)
          new GenericInternalRow(Array[Any](removed))
      }
      case "clone" => proc("clone",
        "zero-copy SHALLOW CLONE of a table into a new name under this " +
          "catalog: metadata and data files hard-linked, no bytes moved — " +
          "writes/compaction/vacuum on either side never affect the other " +
          "(MatDb.shallowClone)",
        params = Seq(in("table", StringType), in("target", StringType)),
        out = StructType(Seq(StructField("segments", IntegerType, nullable = false),
          StructField("txn_watermark", LongType, nullable = false)))) {
        row =>
          val target = row.getUTF8String(1).toString
          // the target is a catalog name, not a path: reject separators,
          // '..', and empty segments, then belt-and-braces confirm the
          // resolved dir stays under the catalog root (Path.resolve with
          // an absolute component would otherwise ESCAPE the catalog and
          // hard-link table data anywhere on the filesystem)
          val parts = target.split('.')
          require(parts.nonEmpty && parts.forall(p =>
            p.nonEmpty && p != ".." && p != "." &&
              !p.contains('/') && !p.contains('\\')),
            s"clone target '$target' is not a valid dotted table name")
          val dstDir = parts.foldLeft(root)(_.resolve(_))
          require(dstDir.normalize().startsWith(root.normalize()),
            s"clone target '$target' escapes the catalog root")
          val clone = MatDb.shallowClone(SparkSession.active,
            tableDir(row).toString, dstDir.toString)
          new GenericInternalRow(Array[Any](clone.committedSegments.size,
            clone.txnWatermark))
      }
      case "analyze" => proc("analyze",
        "compute resolved-snapshot statistics (post-MVCC row count, " +
          "estimated logical size, per-dimension min/max) and persist them " +
          "as graft.stats.* table properties — join planning prices the " +
          "resolved relation instead of raw multi-version bytes " +
          "(MatDb.analyze); stale stats auto-invalidate on the next commit",
        params = Seq(in("table", StringType)),
        out = StructType(Seq(StructField("row_count", LongType, nullable = false),
          StructField("size_bytes", LongType, nullable = false)))) {
        row =>
          val (n, bytes) = db(row).analyze()
          new GenericInternalRow(Array[Any](n, bytes))
      }
      case "optimize" => proc("optimize",
        "rewrite the whole table into one freshly-laid-out baseline: " +
          "small files compact to one per chunk, target_file_size bounds " +
          "output file size (logical bytes; 0 = unbounded), zorder => " +
          "'d1,d2' clusters rows within each chunk by bit-interleaved " +
          "z-value for multi-dim range scans (MatDb.optimize). " +
          "Before/after file counts are returned; per-segment file counts " +
          "live in the .history table",
        params = Seq(in("table", StringType),
          in("target_file_size", LongType, default = Some("0")),
          in("zorder", StringType, default = Some("''"))),
        out = StructType(Seq(StructField("txn_id", LongType, nullable = false),
          StructField("files_before", LongType, nullable = false),
          StructField("files_after", LongType, nullable = false)))) {
        row =>
          val target = Some(row.getLong(1)).filter(_ > 0)
          val zdims = Option(row.getUTF8String(2)).map(_.toString).getOrElse("")
            .split(',').map(_.trim).filter(_.nonEmpty).toSeq
          val (txn, before, after) = db(row).optimize(target, zdims)
          new GenericInternalRow(Array[Any](txn, before, after))
      }
      case "register_mview" => proc("register_mview",
        "declare a catalog table (maintained by maintain_mview) as a " +
          "materialized aggregate view of another: matching GROUP BY " +
          "queries over the base are answered from the view when it is " +
          "exactly caught up (plans.MvRewriteRule; " +
          "MatDb.registerMaterializedView)",
        params = Seq(in("table", StringType), in("view", StringType)),
        out = StructType(Seq(StructField("views", IntegerType, nullable = false)))) {
        row =>
          val baseDb = db(row)
          baseDb.registerMaterializedView(namedDir(root, row, 1).toString)
          new GenericInternalRow(Array[Any](baseDb.materializedViews.size))
      }
      case "maintain_mview" => proc("maintain_mview",
        "fold the base table's changes since the view's last maintenance " +
          "into the view (IncrementalAgg.maintainAbsoluteMultiKeys: the " +
          "view's dimensions are its group key, its value column names — " +
          "sum_<c>/min_<c>/max_<c>/cnt — its aggregate spec). First call " +
          "on a fresh view backfills; repeat calls are O(delta); a call " +
          "with nothing new is a no-op. Returns the base txn the view now " +
          "reflects",
        params = Seq(in("table", StringType), in("view", StringType)),
        out = StructType(Seq(StructField("maintained_to", LongType, nullable = false)))) {
        row =>
          val spark = SparkSession.active
          val baseDb = db(row)
          val viewDb = MatDb.open(spark, namedDir(root, row, 1).toString)
          val to = baseDb.txnWatermark
          val from = viewDb.txnWatermark // pinned clock = last maintained base txn
          val reached =
            if (to <= from) from
            else
              try graft.operators.IncrementalAgg.maintainAbsoluteMultiKeys(
                baseDb, viewDb, from, to, viewDb.schema.dimNames)
              catch {
                // a replace-kind base commit in range whose pre-state was
                // vacuumed: the incremental delta is unrecoverable —
                // REBUILD absolutely (one pinned replace), same recovery
                // the streaming sink performs
                case e: IllegalStateException
                    if Option(e.getMessage).exists(_.contains("replace-kind commit")) =>
                  graft.operators.IncrementalAgg.rebuild(
                    baseDb, viewDb, to, viewDb.schema.dimNames)
              }
          new GenericInternalRow(Array[Any](reached))
      }
      case "index_stats" => procRows("index_stats",
        "drift-stats log of a persisted ANN index layout under this " +
          "catalog (IvfIndex.writeIndex / PqIndex.writeIvfPq directory, " +
          "dotted path): one row per train/maintain event with the mean " +
          "assigned-centroid squared distance of the vectors processed, " +
          "plus each event's drift ratio vs the train baseline — the " +
          "re-train advisory for fixed-centroid indexes",
        params = Seq(in("index", StringType)),
        out = StructType(Seq(
          StructField("seq", LongType, nullable = false),
          StructField("phase", StringType, nullable = false),
          StructField("n", LongType, nullable = false),
          StructField("mean_sqdist", org.apache.spark.sql.types.DoubleType,
            nullable = false),
          StructField("drift_ratio", org.apache.spark.sql.types.DoubleType,
            nullable = true)))) {
        row =>
          val ix = row.getUTF8String(0).toString
          val parts = ix.split('.')
          require(parts.nonEmpty && parts.forall(p =>
            p.nonEmpty && p != ".." && p != "." &&
              !p.contains('/') && !p.contains('\\')),
            s"'$ix' is not a valid dotted index name")
          val dir = parts.foldLeft(root)(_.resolve(_))
          require(java.nio.file.Files.isDirectory(dir.resolve("centroids")),
            s"'$ix' is not an index layout (no centroids/ under it)")
          val rows = graft.operators.IndexStats.read(dir.toString)
          val base = rows.headOption.map(_.meanSqdist).filter(_ > 0)
          rows.map { r =>
            new GenericInternalRow(Array[Any](r.seq,
              org.apache.spark.unsafe.types.UTF8String.fromString(r.phase),
              r.n, r.meanSqdist,
              base.map(b => r.meanSqdist / b).orNull)): InternalRow
          }.toArray
      }
      case "retrain_index" => proc("retrain_index",
        "re-train + rebuild a persisted ANN index under this catalog " +
          "(IvfIndex.retrain): fresh spherical k-means centroids over the " +
          "index's current corpus, full bucket-layout rebuild under the " +
          "new geometry, drift-stats baseline reset — the remedy the " +
          "drift advisory (index_stats ratio >= the warn threshold) " +
          "prescribes. Returns the rebuilt index's bucket count",
        params = Seq(in("index", StringType)),
        out = StructType(Seq(StructField("buckets", IntegerType, nullable = false)))) {
        row =>
          val ix = row.getUTF8String(0).toString
          val parts = ix.split('.')
          require(parts.nonEmpty && parts.forall(p =>
            p.nonEmpty && p != ".." && p != "." &&
              !p.contains('/') && !p.contains('\\')),
            s"'$ix' is not a valid dotted index name")
          val dir = parts.foldLeft(root)(_.resolve(_))
          require(java.nio.file.Files.isDirectory(dir.resolve("centroids")),
            s"'$ix' is not an index layout (no centroids/ under it)")
          // IvfIndex.retrain re-trains the $path/corpus layout; an IVF-PQ
          // index (codes/ layout) also has centroids/ but no corpus — give
          // it a clear answer instead of a raw path-does-not-exist crash
          require(java.nio.file.Files.isDirectory(dir.resolve("corpus")),
            s"'$ix' has no corpus/ layout — retrain_index serves IVF " +
              "indexes only; an IVF-PQ index (codes/ layout) is rebuilt by " +
              "re-running PqIndex.writeIvfPq over its source vectors")
          val spark = SparkSession.active
          new GenericInternalRow(Array[Any](
            graft.operators.IvfIndex.retrain(spark, dir.toString).length))
      }
      case other =>
        throw new UnsupportedOperationException(
          s"no such procedure $catalogName.system.$other " +
            s"(available: ${names.mkString(", ")})")
    }
  }

  private def in(name: String, dt: DataType,
      default: Option[String] = None): ProcedureParameter = {
    val b = ProcedureParameter.in(name, dt)
    default.foreach(b.defaultValue)
    b.build()
  }

  /** One-row driver-side result procedure: bind is identity (Spark's own
    * analyzer rules rearrange named args against `parameters` and coerce
    * to the declared types before `call` sees the row). */
  private def proc(procName: String, desc: String,
      params: Seq[ProcedureParameter], out: StructType)(
      run: InternalRow => InternalRow): UnboundProcedure =
    procRows(procName, desc, params, out)(row => Array(run(row)))

  /** Multi-row variant of [[proc]] (driver-side LocalScan result). */
  private def procRows(procName: String, desc: String,
      params: Seq[ProcedureParameter], out: StructType)(
      run: InternalRow => Array[InternalRow]): UnboundProcedure =
    new UnboundProcedure with BoundProcedure {
      override def name(): String = procName
      override def description(): String = desc
      override def bind(inputType: StructType): BoundProcedure = this
      override def parameters(): Array[ProcedureParameter] = params.toArray
      override def isDeterministic: Boolean = false // side-effecting
      override def call(input: InternalRow): java.util.Iterator[Scan] = {
        val resultRows = run(input)
        val scan: Scan = new LocalScan {
          override def readSchema(): StructType = out
          override def rows(): Array[InternalRow] = resultRows
          override def description(): String = s"graft procedure $procName"
        }
        java.util.Collections.singletonList(scan).iterator()
      }
    }
}
