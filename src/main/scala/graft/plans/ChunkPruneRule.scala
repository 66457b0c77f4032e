package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.LongType

/** Catalyst rule deriving chunk-key predicates from dimension predicates
  * (SURVEY.md §4.2 item 2): a filter `time >= X` on a graft scan gains the
  * conjunct `_ck_time >= floor(X / chunkSize)`, which FileSourceStrategy
  * then turns into a Hive partition filter — directory-level skipping, the
  * declarative analog of the reference's block-skip queue
  * (reference scan.rs:119-180, bounds from segment.rs:14-18).
  *
  * The chunk size travels in the dimension attribute's metadata
  * (graft.core.Scan.raw attaches it), so the rule needs no global state and
  * fires only on graft scans. It augments Filter nodes whose child exposes
  * the `_ck_<dim>` column — i.e. after predicate pushdown has moved the
  * filter next to the relation that scans every visible segment.
  *
  * Enable per-session with [[GraftPlans.enable]] (runtime, via
  * experimental.extraOptimizations) or cluster-wide with
  * `spark.sql.extensions=graft.plans.GraftExtensions`.
  */
object ChunkPruneRule extends Rule[LogicalPlan] {
  import graft.core.{MatSchema, Scan}

  private def chunkSizeOf(a: Attribute): Option[Long] =
    if (a.dataType == LongType && a.metadata.contains(MatSchema.ChunkKey))
      Some(a.metadata.getLong(MatSchema.ChunkKey))
    else None

  private def litVal(e: Expression): Option[Long] = e match {
    case Literal(v: Long, LongType) => Some(v)
    case Literal(v: Int, _)         => Some(v.toLong)
    case _                          => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case f @ Filter(cond, child) =>
      val ckByDim: Map[String, Attribute] =
        child.output.filter(_.name.startsWith(Scan.ChunkPrefix))
          .map(a => a.name.stripPrefix(Scan.ChunkPrefix) -> a).toMap
      if (ckByDim.isEmpty) f
      else {
        val conjuncts = splitConjuncts(cond)
        val derived = conjuncts.flatMap(c => derive(c, ckByDim))
          .filterNot(d => conjuncts.exists(_.semanticEquals(d)))
        if (derived.isEmpty) f
        else Filter(derived.foldLeft(cond)(And), child)
      }
  }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case other     => Seq(other)
  }

  /** Literal in the chunk attribute's own type — below the scan's
    * normalizing Project the partition column may be IntegerType. */
  private def ckLiteral(k: Attribute, b: Long): Option[Literal] = k.dataType match {
    case LongType => Some(Literal(b))
    case org.apache.spark.sql.types.IntegerType
        if b >= Int.MinValue && b <= Int.MaxValue => Some(Literal(b.toInt))
    case _ => None
  }

  /** dim-vs-literal comparison -> chunk-key comparison. floorDiv keeps the
    * bound conservative for negative coordinates. */
  private def derive(c: Expression, ck: Map[String, Attribute]): Option[Expression] = {
    def mk(a: Attribute, v: Long)(f: (Attribute, Literal) => Expression): Option[Expression] =
      for {
        cs <- chunkSizeOf(a)
        ckAttr <- ck.get(a.name)
        l <- ckLiteral(ckAttr, Math.floorDiv(v, cs))
      } yield f(ckAttr, l)
    c match {
      case GreaterThanOrEqual(a: Attribute, l) =>
        litVal(l).flatMap(v => mk(a, v)((k, b) => GreaterThanOrEqual(k, b)))
      case GreaterThan(a: Attribute, l) =>
        litVal(l).flatMap(v => mk(a, v)((k, b) => GreaterThanOrEqual(k, b)))
      case LessThanOrEqual(a: Attribute, l) =>
        litVal(l).flatMap(v => mk(a, v)((k, b) => LessThanOrEqual(k, b)))
      case LessThan(a: Attribute, l) =>
        litVal(l).flatMap(v => mk(a, v)((k, b) => LessThanOrEqual(k, b)))
      case EqualTo(a: Attribute, l) =>
        litVal(l).flatMap(v => mk(a, v)((k, b) => EqualTo(k, b)))
      // mirrored literal-first forms
      case GreaterThanOrEqual(l, a: Attribute) =>
        litVal(l).flatMap(v => mk(a, v)((k, b) => LessThanOrEqual(k, b)))
      case GreaterThan(l, a: Attribute) =>
        litVal(l).flatMap(v => mk(a, v)((k, b) => LessThanOrEqual(k, b)))
      case LessThanOrEqual(l, a: Attribute) =>
        litVal(l).flatMap(v => mk(a, v)((k, b) => GreaterThanOrEqual(k, b)))
      case LessThan(l, a: Attribute) =>
        litVal(l).flatMap(v => mk(a, v)((k, b) => GreaterThanOrEqual(k, b)))
      case EqualTo(l, a: Attribute) =>
        litVal(l).flatMap(v => mk(a, v)((k, b) => EqualTo(k, b)))
      case _ => None
    }
  }
}

object GraftPlans {
  /** Attach the rule to an existing session (idempotent). */
  def enable(spark: SparkSession): Unit =
    if (!spark.experimental.extraOptimizations.contains(ChunkPruneRule))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ ChunkPruneRule
}

/** For spark.sql.extensions=graft.plans.GraftExtensions. Injects:
  *   - [[ChunkPruneRule]] (optimizer): chunk-key predicate derivation —
  *     injected in the operator-optimization batch, i.e. BEFORE the V2
  *     early-scan pushdown, so derived `_ck_*` conjuncts become partition
  *     filters on catalog reads too;
  *   - [[graft.sources.GraftCatalogDedupRule]] (analyzer): the MVCC
  *     newest-wins wrap that completes [[graft.sources.GraftCatalog]]'s
  *     SQL read path (`SELECT ... FROM <cat>.<t> [VERSION AS OF n]`). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => ChunkPruneRule)
    ext.injectResolutionRule(session => graft.sources.GraftCatalogDedupRule(session))
    // materialized-view auto-rewrite: GROUP BY over a registered snapshot
    // answered from its maintained view (see MvRewrite.scala)
    ext.injectResolutionRule(session => MvRewriteRule(session))
  }
}
