package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, SortOrder}
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.execution.LogicalRDD

/** Narrow bridge into `private[sql]` constructors, for graft's
  * range-partitioned scan: a DataFrame over a prepared `RDD[InternalRow]`
  * that DECLARES its partitioning and ordering, so Catalyst plans
  * downstream aggregates/sorts without an Exchange when the claim satisfies
  * their required distribution.
  *
  * This is exactly the mechanism `Dataset.checkpoint` uses to preserve a
  * materialized plan's partitioning (it wraps the checkpointed RDD in a
  * `LogicalRDD` carrying `outputPartitioning`/`outputOrdering`); the bridge
  * only makes the same constructor reachable from the graft package — the
  * standard extension-package pattern used by open-source Spark table
  * formats for the handful of APIs that are `private[sql]`. The CALLER owns
  * the truth of the claim: declaring a partitioning the rows don't actually
  * have silently produces wrong results downstream. */
object GraftInternals {

  def dataFrameWithPartitioning(
      spark: SparkSession,
      output: Seq[Attribute],
      rdd: RDD[InternalRow],
      partitioning: Partitioning,
      ordering: Seq[SortOrder],
      stats: Option[(BigInt, Option[BigInt])] = None): DataFrame = {
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    // originStats is the same slot Dataset.checkpoint uses to carry the
    // materialized plan's statistics — without it a LogicalRDD is priced
    // at spark.sql.defaultSizeInBytes (effectively infinite), so the
    // relation can never broadcast and CBO runs blind on it
    val originStats = stats.map { case (bytes, rows) =>
      org.apache.spark.sql.catalyst.plans.logical.Statistics(
        sizeInBytes = bytes, rowCount = rows)
    }
    org.apache.spark.sql.classic.Dataset.ofRows(
      cs, LogicalRDD(output, rdd, partitioning, ordering, isStreaming = false)(
        cs, originStats, None))
  }

  /** Column ⇄ Catalyst expression, for graft code that builds one
    * expression for both the DataFrame API and an analyzer rule. */
  def expression(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)

  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  /** The Spark schema recorded in one parquet file's footer, read on the
    * driver: what `spark.read.parquet` infers for a directory of such
    * files, without the schema-inference job. */
  def parquetSchema(spark: SparkSession, file: java.nio.file.Path)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.execution.datasources.parquet._
    val path = new org.apache.hadoop.fs.Path(file.toUri)
    val footer = ParquetFooterReader.readFooter(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        path, spark.sessionState.newHadoopConf()),
      org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER)
    ParquetFileFormat.readSchemaFromFooter(
      new org.apache.parquet.hadoop.Footer(path, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }

  /** Unwrap Spark's `private[sql]` RowLevelOperationTable (the table the
    * UPDATE/MERGE rewrite plans its read relation against) back to the
    * underlying catalog table, so graft's analyzer rule can recognize its
    * own tables behind the wrapper. */
  def rowLevelInnerTable(
      table: org.apache.spark.sql.connector.catalog.Table)
      : Option[org.apache.spark.sql.connector.catalog.Table] = table match {
    case r: org.apache.spark.sql.connector.write.RowLevelOperationTable => Some(r.table)
    case _ => None
  }
}
