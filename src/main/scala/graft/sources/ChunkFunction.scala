package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, Reducer, ReducibleFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.types.{DataType, DataTypes, LongType, StructType}

/** The graft chunk-key layout transform as a family of catalog functions:
  * `chunk_<size>(dim) = floor(dim / size)` — the function every graft
  * write path applies to route rows into `_ck_<dim>=<v>` directories
  * ([[graft.core.Segment.decorate]]).
  *
  * Why it exists: storage-partitioned joins. [[GraftScan]] reports
  * `KeyGroupedPartitioning(chunk_<size>(dim)...)`, and Spark resolves the
  * transform through the table's [[GraftCatalog]] (a `FunctionCatalog`)
  * into a `TransformExpression` — two chunk-aligned graft tables then
  * join/aggregate with ZERO exchanges because Catalyst can prove rows
  * with equal dims are co-located.
  *
  * The chunk size is part of the function NAME (one function per size)
  * rather than a literal argument: Catalyst's
  * `KeyGroupedPartitioning.supportsExpressions` only accepts transforms
  * with a single reference child (the bucket-count special case is
  * reserved for the name "bucket"). Compatibility between two scans is by
  * `canonicalName`, widened by [[Bound.reducer]]: when one size divides
  * the other the finer side REGROUPS to the coarser transform
  * (exchange-free join); only incommensurate sizes fall back to a
  * shuffle.
  *
  * `Math.floorDiv` is exactly the write path's routing function — every
  * write site derives chunk keys via [[graft.core.MatSchema.chunkKeyCol]],
  * an exact integer floorDiv over the full Long range — and the same
  * function ChunkPruneRule uses for predicate-to-chunk mapping
  * (core/Scan.scala:155). Write, prune, and SPJ key are provably one
  * function. */
object ChunkFunction {
  private val Prefix = "chunk_"

  def name(chunkSize: Long): String = s"$Prefix$chunkSize"

  /** Parse `chunk_<size>` → an UnboundFunction; None for any other name. */
  def forName(name: String): Option[UnboundFunction] =
    if (!name.startsWith(Prefix)) None
    else name.stripPrefix(Prefix).toLongOption.filter(_ > 0).map(Unbound(_))

  private final case class Unbound(chunkSize: Long) extends UnboundFunction {
    override def name(): String = ChunkFunction.name(chunkSize)
    override def description(): String =
      s"${name()}(dim): floor(dim / $chunkSize) — graft chunk-key layout transform"
    override def bind(inputType: StructType): BoundFunction = {
      require(inputType.fields.length == 1 &&
        (inputType.fields(0).dataType == LongType ||
          inputType.fields(0).dataType == DataTypes.IntegerType),
        s"${name()}(dim) takes one integral argument, got $inputType")
      Bound(chunkSize)
    }
  }

  final case class Bound(chunkSize: Long) extends ScalarFunction[java.lang.Long]
      with ReducibleFunction[java.lang.Long, java.lang.Long] {
    override def inputTypes(): Array[DataType] = Array(LongType)
    override def resultType(): DataType = LongType
    override def name(): String = ChunkFunction.name(chunkSize)
    override def canonicalName(): String = s"graft.${name()}"
    override def isResultNullable: Boolean = false
    override def isDeterministic: Boolean = true
    override def produceResult(input: InternalRow): java.lang.Long =
      Math.floorDiv(input.getLong(0), chunkSize)

    /** "Magic" overload — Spark's ScalarFunction codegen path binds
      * `invoke` by reflection to skip row boxing. */
    def invoke(dim: Long): Long = Math.floorDiv(dim, chunkSize)

    /** SPJ across COMPATIBLE chunk sizes (SPARK-44647): when this side's
      * chunk size DIVIDES the other's, `chunk_a` is a refinement of
      * `chunk_b` and this side's partition keys reduce to the other's by
      * one more exact floor-division — `floorDiv(floorDiv(x, a), b/a) ==
      * floorDiv(x, a*(b/a))`, the floor-div composition identity (valid
      * because both divisors are positive). Catalyst then GROUPS the finer
      * side's key-grouped partitions to the coarser transform instead of
      * shuffling both sides. Returns null (not reducible) for the coarser
      * or incommensurate side — two tables whose sizes share no multiple
      * correctly fall back to a full shuffle. */
    override def reducer(other: ReducibleFunction[_, _])
        : Reducer[java.lang.Long, java.lang.Long] = other match {
      case Bound(otherSize) if otherSize != chunkSize && otherSize % chunkSize == 0 =>
        ChunkReducer(otherSize / chunkSize)
      case _ => null
    }
  }

  /** Reduce a `chunk_a` partition key to the `chunk_(a*factor)` key. */
  final case class ChunkReducer(factor: Long)
      extends Reducer[java.lang.Long, java.lang.Long] {
    override def reduce(key: java.lang.Long): java.lang.Long =
      Math.floorDiv(key, factor)
  }
}
