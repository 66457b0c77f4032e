package graft.sources

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SQLContext, SaveMode}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType
import graft.core.{MatDb, Scan}

/** `spark.read.format("graft")` / `df.write.format("graft")` interop for the
  * graft table format.
  *
  * Read options:
  *   - `path` — table directory
  *   - `asOf` — optional transaction id for time travel (snapshot isolation
  *     of the reference, database.rs:68-72, exposed VERSION-AS-OF style)
  *   - `timestampAsOf` — optional epoch-millis point-in-time read, resolved
  *     to the newest commit at-or-before it ([[MatDb.resolveTimestamp]] —
  *     the catalog's TIMESTAMP AS OF for the path-based source); mutually
  *     exclusive with `asOf`
  *
  * Write modes: Append = one atomic graft transaction; Overwrite = an atomic
  * replace commit ([[MatDb.overwrite]] — keys absent from the new data are
  * gone, per the Spark save-mode contract); ErrorIfExists throws on an
  * existing table; Ignore no-ops on an existing table. The write option
  * `protocol` may only be "manifest" (the one commit protocol); anything
  * else is refused. A rename-committed table directory is upgraded to
  * manifest version 0 on its first read or write.
  *
  * == Why V1 `PrunedFilteredScan`, not a DSv2 `ScanBuilder` ==
  *
  * The read is NOT a bare file scan: MVCC version resolution (newest row per
  * key, [[graft.core.Scan.dedup]]) is an aggregate ABOVE the parquet scan —
  * partial agg → exchange → final agg. A DSv2 `Batch`'s `PartitionReader`s
  * run independently per partition and cannot host that shuffle (the same
  * key appears in many segments, so per-partition dedup inside a reader
  * would be wrong). The V1 relation bridges at the RDD level instead: the
  * returned RDD is the inner DataFrame's full DAG, and Spark schedules its
  * shuffle as parent stages of the outer query — which is also why Delta
  * Lake's Spark reads stay on the V1 file-source path rather than DSv2.
  *
  * What was actually lost through the old `TableScan` bridge was pushdown —
  * nothing crossed the RDD boundary, so every `format("graft")` read fully
  * materialized the resolved table. `PrunedFilteredScan` restores it:
  * Catalyst hands us the required columns and the pushable predicates, and
  * we rebuild the inner plan with them — dimension predicates are applied
  * BELOW the dedup aggregate (sound: every version of a key shares its
  * dimension values; enforced by [[GraftRelation.splitFilters]]) where
  * Catalyst pushes them into the parquet scan as `PushedFilters` +
  * `_ck_*` partition pruning (via [[graft.plans.ChunkPruneRule]]); value
  * predicates are applied ABOVE the dedup (pre-dedup filtering on values
  * would change which version wins — see ValuePredicateSpec in
  * GraftSourceSpec). Column pruning reaches the scan's `ReadSchema` the same
  * way. PlanSpec asserts both on the inner plan.
  *
  * This is interop sugar: the native API ([[graft.core.MatDb]]) remains the
  * primary path. Registered under the short name `graft` via
  * META-INF/services.
  */
class GraftSource extends RelationProvider with CreatableRelationProvider
    with DataSourceRegister {

  override def shortName(): String = "graft"

  private def pathOf(parameters: Map[String, String]): String =
    parameters.getOrElse("path",
      throw new IllegalArgumentException("graft source requires a path"))

  override def createRelation(
      sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    val db = MatDb.open(sqlContext.sparkSession, pathOf(parameters))
    require(!(parameters.contains("asOf") && parameters.contains("timestampAsOf")),
      "graft read options asOf and timestampAsOf are mutually exclusive")
    // timestampAsOf: epoch millis, resolved against the per-commit
    // wall-clock stamps exactly like the catalog's TIMESTAMP AS OF
    val asOf = parameters.get("asOf").map(_.toLong)
      .orElse(parameters.get("timestampAsOf")
        .map(t => db.resolveTimestamp(t.toLong).getOrElse(0L)))
    new GraftRelation(sqlContext, db, asOf)
  }

  override def createRelation(
      sqlContext: SQLContext,
      mode: SaveMode,
      parameters: Map[String, String],
      data: DataFrame): BaseRelation = {
    val spark = sqlContext.sparkSession
    val path = pathOf(parameters)
    parameters.get("protocol")
      .foreach(MatDb.requireManifest(_, "format(\"graft\") option protocol"))
    val exists = MatDb.exists(path)
    val db =
      if (exists) MatDb.open(spark, path)
      else MatDb.create(spark, GraftSource.inferSchema(data, parameters), path)
    mode match {
      case SaveMode.ErrorIfExists if exists =>
        throw new IllegalStateException(s"graft table already exists at $path")
      case SaveMode.Ignore if exists => // no-op per contract
      case SaveMode.Overwrite if exists => db.overwrite(data)
      case _ => // Append, or any mode on a fresh table: one atomic txn
        val txn = db.newTransaction()
        txn.addRows(data)
        txn.commit()
    }
    new GraftRelation(sqlContext, db, None)
  }
}

object GraftSource {
  import graft.core.{Dimension, MatSchema, ValueCol}

  /** Infer: option `dimensions` = "name:chunk,name:chunk"; every other
    * column is a value column with its DataFrame type. */
  def inferSchema(data: DataFrame, parameters: Map[String, String]): MatSchema = {
    val dims = parameters.getOrElse("dimensions",
        throw new IllegalArgumentException(
          "creating a graft table via format(\"graft\") requires option " +
            "dimensions=\"name:chunkSize[,name:chunkSize...]\""))
      .split(",").toSeq.map { s =>
        val Array(n, c) = s.trim.split(":")
        Dimension(n, c.toLong)
      }
    val dimNames = dims.map(_.name).toSet
    val values = data.schema.fields.toSeq.collect {
      case f if !dimNames.contains(f.name) => ValueCol(f.name, f.dataType)
    }
    MatSchema(dims, values)
  }
}

class GraftRelation(
    override val sqlContext: SQLContext,
    db: MatDb,
    asOf: Option[Long]) extends BaseRelation with PrunedFilteredScan {

  override def schema: StructType = db.schema.toStructType

  /** Real table size for join planning: ANALYZEd resolved size when fresh
    * ([[graft.core.MatDb.analyze]] — prices the post-MVCC relation, so a
    * hot-update table with many versions per key can still broadcast),
    * else raw on-disk bytes ([[graft.core.MatDb.visibleBytes]] — counts
    * every version, the safe over-estimate). Without either override a
    * graft relation reports `spark.sql.defaultSizeInBytes` and can never
    * be auto-broadcast. `visibleBytes` returns -1 when the walk raced a
    * vacuum (non-empty visible set, zero readable bytes) — fall back to
    * the default rather than advertise a large table as broadcastable
    * (driver-OOM direction). Analyzed stats only serve the CURRENT
    * snapshot: a time-travel relation prices its own file list. */
  override lazy val sizeInBytes: Long =
    (if (asOf.isEmpty) db.analyzedSizeBytes else None).getOrElse(
      db.visibleBytes(asOf) match {
        case -1L => sqlContext.sparkSession.sessionState.conf.defaultSizeInBytes
        case b   => b
      })

  /** Pushable ⇔ every referenced column is a dimension. Dimension values are
    * immutable per key point (they ARE the key), so filtering before version
    * resolution cannot change which version wins; a value predicate applied
    * pre-dedup could keep an old version whose value matches while the
    * newest doesn't — those must stay above the dedup. */
  private[sources] def splitFilters(filters: Seq[Filter]): (Seq[Filter], Seq[Filter]) = {
    val dims = db.schema.dimNames.toSet
    filters.partition(_.references.forall(dims.contains))
  }

  /** The inner DataFrame a given (columns, filters) request resolves to —
    * exposed for plan tests: its executed plan must show the dimension
    * predicates as `PushedFilters` on the parquet scan and the pruned
    * `ReadSchema`. */
  def innerFrame(requiredColumns: Array[String], filters: Array[Filter]): DataFrame = {
    val (dimFilters, valueFilters) = splitFilters(filters.toSeq)
    // a conjunct GraftFilters cannot translate is dropped: Spark re-applies
    // every filter on top of the scan, so that only costs pushdown
    val pred = dimFilters.flatMap(GraftFilters.one).reduceOption(_ && _)
    val resolved = db.snapshot(asOf, pred)
    val post = valueFilters.flatMap(GraftFilters.one).reduceOption(_ && _)
    val filtered = post.fold(resolved)(resolved.filter)
    // empty projection (e.g. count(*)) still needs a non-empty row shape
    if (requiredColumns.isEmpty) filtered.select(lit(1).as("_one"))
    else filtered.select(requiredColumns.toSeq.map(col): _*)
  }

  override def buildScan(requiredColumns: Array[String], filters: Array[Filter]): RDD[Row] =
    innerFrame(requiredColumns, filters).rdd
}
