package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, BooleanType, StructField, StructType}

import graft.core.MatDb

/** Incrementally-maintained aggregate — a materialized GROUP BY view over a
  * graft table kept current from the CDC feed, never by rescanning the
  * base: classic incremental view maintenance (retract the pre-image,
  * apply the post-image), built from `changesBetween`'s minimal delta.
  *
  * The view is itself a graft table (group = dimension; SUM and COUNT =
  * value columns), so it inherits MVCC time travel, snapshot isolation,
  * and the commit protocol — each maintenance step is ONE transaction, and
  * `viewDb.asOf(t)` is the aggregate as of maintenance step t.
  *
  * Exactness: SUM over a DECIMAL value column is associative and
  * order-free, so the incrementally-maintained sum is bit-equal to a full
  * recompute (the q117 gate pins incremental-vs-relational equality
  * through DuckDB; the float shortcut would drift by summation order —
  * same reason the battery's aggregate rules cast to DECIMAL).
  *
  * Scale shape: cost per step is O(delta) — `changesBetween` restricts
  * resolution to touched keys; the delta folds map-side to one row per
  * TOUCHED GROUP; the view update joins that (small) per-group delta
  * against the view's current rows for those groups only. A 100 TB base
  * table with a million-row daily delta maintains its per-source totals by
  * reading the delta, not the table.
  *
  * Tiny folds run at driver scale. When the metadata gate says the delta
  * and the base are small ([[graft.core.FastPlan]]), the aligned fold of
  * [[maintainAbsoluteMultiKeys]] collects the delta once onto the base
  * handle ([[graft.core.MatDb.collectedChanges]], shared by every view of
  * the batch), classifies and merges on the driver, reads only the
  * touched view and dirty base rows through literal key-set filters, and
  * writes with one job: about three jobs per fold where the distributed
  * plan ran seven to ten. Larger folds keep the distributed plan.
  */
object IncrementalAgg {

  // diagnostic phase timing, enabled by SPARK_GRAFT_MAINT_DEBUG=1 (used by
  // tools.MaintProfile to attribute per-maintenance fixed cost)
  private val debug = sys.env.get("SPARK_GRAFT_MAINT_DEBUG").contains("1")
  private def ph[A](label: String)(f: => A): A =
    if (!debug) f
    else {
      val s = System.nanoTime(); val r = f
      println(f"[maintph] $label%-24s ${(System.nanoTime() - s) / 1e9}%.2f s")
      r
    }

  private val NullGuardMarker = "coalesce or filter upstream"
  private def isNullGuard(e: Throwable): Boolean =
    e != null && (Option(e.getMessage).exists(_.contains(NullGuardMarker)) ||
      isNullGuard(e.getCause))
  @annotation.tailrec
  private def nullGuardMessage(e: Throwable): String =
    if (Option(e.getMessage).exists(_.contains(NullGuardMarker))) {
      val m = e.getMessage
      m.substring(m.indexOf("delta contains null").max(0))
    } else nullGuardMessage(e.getCause)

  /** Loud guard for the non-null `valueCol` contract: a null would vanish
    * from SUM but still count in `cnt` (SQL's SUM-skips-nulls vs COUNT(*)
    * mismatch), silently skewing the view forever. One cheap probe over
    * the delta (the only place new nulls can enter); the batch fails
    * BEFORE any view transaction opens, so nothing commits. */
  private def requireNoNullValues(delta: org.apache.spark.sql.DataFrame,
      valueCol: String): Unit =
    requireNoNullValues(delta, col(valueCol), valueCol)

  private def requireNoNullValues(delta: org.apache.spark.sql.DataFrame,
      value: org.apache.spark.sql.Column, label: String): Unit =
    require(delta.where(col("op").isin("I", "U") && value.isNull)
      .limit(1).isEmpty,
      s"delta contains null $label rows — the view's SUM would skip them " +
        "while cnt counts them; coalesce or filter upstream (nothing was applied)")

  /** Fold the base table's delta `(fromTxn, toTxn]` into the view.
    *
    * `viewDb` schema contract: dimensions = (`groupCol`), values =
    * (`sum_<valueCol>` of the value column's type, `cnt` LONG). `groupCol`
    * must be a base DIMENSION or LONG value column; `valueCol` a base
    * value column (DECIMAL recommended — see exactness note above) and
    * NON-NULL, enforced loudly per batch ([[requireNoNullValues]]): a null
    * would vanish from the sum but still count in `cnt` (SQL's
    * SUM-skips-nulls vs COUNT(*) mismatch) — filter or coalesce nulls
    * upstream. Rows
    * whose count reaches zero are deleted (a group with no rows has no
    * aggregate, matching GROUP BY semantics). Returns the view's
    * maintenance transaction id. */
  def maintain(base: MatDb, viewDb: MatDb, fromTxn: Long, toTxn: Long,
      groupCol: String, valueCol: String): Long = {
    val sumCol = s"sum_$valueCol"
    require(viewDb.schema.dimNames == Seq(groupCol) &&
      viewDb.schema.valueNames == Seq(sumCol, "cnt"),
      s"view schema must be dims=($groupCol), values=($sumCol, cnt); " +
        s"got dims=${viewDb.schema.dimNames} values=${viewDb.schema.valueNames}")
    // the change scan is the expensive leg (two restricted dedups + a
    // full-outer join) and FOUR references would otherwise re-run it (the
    // null probe, both union legs, and the touched-group broadcast) —
    // persist it for the duration of the maintenance, exactly like
    // maintainAbsoluteMultiKeys does (O(batch) rows, never O(base))
    val delta = base.changesBetween(fromTxn, toTxn, includeOld = true)
    // tiny-fold fast planning — same rationale (and the same base-size
    // guard) as maintainAbsoluteMultiKeys. The view-side gate reads the
    // MANIFEST's visible bytes (driver listing) instead of building and
    // optimizing a snapshot plan just for its statistics. The scope opens
    // BEFORE the persist: a cached plan is planned when it is cached, so a
    // persist outside the scope would run the delta with AQE and codegen.
    val smallFold = graft.core.FastPlan.isSmall(delta) &&
      graft.core.FastPlan.isSmallBytes(viewDb.visibleBytes())
    graft.core.FastPlan.scoped(base.spark, smallFold) {
    delta.persist()
    val merged = {
    requireNoNullValues(delta, valueCol)
    val isDim = base.schema.dimNames.contains(groupCol)
    val oldG = if (isDim) col(groupCol) else col(s"_old_$groupCol")
    // retract the pre-image (U and D rows), apply the post-image (I and U
    // rows) — a group-moving update retracts from one group and applies to
    // the other through the same two legs
    val retract = delta.where(col("op").isin("U", "D"))
      .select(oldG.as(groupCol), (-col(s"_old_$valueCol")).as("dv"), lit(-1L).as("dc"))
    val apply_ = delta.where(col("op").isin("I", "U"))
      .select(col(groupCol), col(valueCol).as("dv"), lit(1L).as("dc"))
    val perGroup = retract.unionByName(apply_)
      .groupBy(col(groupCol))
      .agg(sum(col("dv")).cast(delta.schema(valueCol).dataType).as("dv"),
        sum(col("dc")).as("dc"))
    // the view streams through ONE semi-join against the (small, broadcast)
    // touched-group set — the view is never shuffled whole, mirroring the
    // ingest sinks' history-streams/delta-broadcasts contract
    val current = viewDb.snapshot()
      .join(broadcast(perGroup.select(col(groupCol))), Seq(groupCol), "left_semi")
      .select(col(groupCol), col(sumCol).as("_cur_sum"), col("cnt").as("_cur_cnt"))
    // decimal addition widens precision (18,4 + 18,4 → 19,4); cast back to
    // the view's declared type so segments stay byte-compatible
    val sumType = viewDb.schema.values.find(_.name == sumCol).get.dataType
    // persisted: BOTH write legs (tombstones and new rows) reference it
    // inside the one commit write job
    perGroup.join(current, Seq(groupCol), "left")
      .select(col(groupCol),
        (coalesce(col("_cur_sum"), lit(0).cast(sumType)) + col("dv"))
          .cast(sumType).as(sumCol),
        (coalesce(col("_cur_cnt"), lit(0L)) + col("dc")).as("cnt"))
      .persist()
    }
    try {
      val txn = viewDb.newTransaction()
      txn.deleteRows(merged.where(col("cnt") === 0L).select(col(groupCol)))
      txn.addRows(merged.where(col("cnt") =!= 0L))
      txn.commit()
      txn.id.getOrElse(-1L)
    } finally {
      merged.unpersist()
      delta.unpersist()
      ()
    }
    }
  }

  /** As [[maintain]], but REPLAY-SAFE under at-least-once delivery: each
    * maintenance commit is PINNED to the base range's end txn
    * ([[graft.core.MatDb.newPinnedTransaction]]), so a replayed range is
    * detected by one watermark read and skipped — committed-or-not, never
    * half — making this the mode
    * [[graft.streaming.Streams.viewMaintSink]] uses under at-least-once
    * `foreachBatch` delivery. A pleasant consequence: the view's txn clock
    * IS the base's, so `view.asOf(baseTxn)` is the aggregate aligned to a
    * base transaction. The contract is TAIL replay only — exactly what a
    * checkpointed stream can deliver — and single-writer: don't hand-drive
    * ranges out of order or commit to the view out-of-band. */
  def maintainAbsolute(base: MatDb, viewDb: MatDb, fromTxn: Long, toTxn: Long,
      groupCol: String, valueCol: String): Long = {
    val sumCol = s"sum_$valueCol"
    require(viewDb.schema.dimNames == Seq(groupCol) &&
      viewDb.schema.valueNames == Seq(sumCol, "cnt"),
      s"view schema must be dims=($groupCol), values=($sumCol, cnt); " +
        s"got dims=${viewDb.schema.dimNames} values=${viewDb.schema.valueNames}")
    maintainAbsoluteMulti(base, viewDb, fromTxn, toTxn, groupCol)
  }

  /** [[maintainAbsolute]] generalized: the VIEW SCHEMA is the aggregate
    * spec. The view's dimension is the group column; every value column
    * declares its aggregate by NAME — `sum_<col>`, `min_<col>`,
    * `max_<col>` (sum / extremum), `cnt_<col>` (count of NON-NULL values —
    * SQL `count(col)`), or `cnt` (row count). Each `<col>` is a base
    * column or a DERIVED expression declared as `graft.mview.expr.<name>`
    * ([[ViewSpec]]): sums and non-null counts retract exactly by
    * re-evaluating the declared expression over the renamed pre-image
    * frame; expression extrema share the column extrema's dirty-group
    * machinery (the boundary test evaluates the expression over the same
    * pre-image frame), so they are exactly as incremental.
    *
    * SELF-MAINTAINING: when the view is exactly caught up to `fromTxn`
    * (the steady streaming state), `sum_`/`cnt` rows are derived from
    * old-view-row ⊕ delta alone — NO base read at all — and `min_`/`max_`
    * read the base only for DIRTY groups (groups that lost or changed a
    * row version, the only way an extremum can retract; insert-only groups
    * merge `least`/`greatest` against the old row). Per-batch cost is
    * O(delta) + O(view rows of touched groups), independent of base size —
    * at 100 TB with hot groups this is the difference between reading the
    * delta and re-reading the touched partition of the base every batch.
    * If the view is NOT aligned (fresh view, changed checkpoint, missing
    * `cnt` in a min/max-less spec), it falls back to the restricted
    * absolute recompute of all touched groups from `base.asOf(toTxn)` —
    * always correct, costs O(history of touched groups).
    *
    * Replay safety: the maintenance commit is pinned to `toTxn`
    * ([[graft.core.MatDb.newPinnedTransaction]]); a re-presented range
    * whose end is at-or-below the view's watermark is SKIPPED (the commit
    * either landed atomically or didn't — there is no half state), so
    * at-least-once tail replay is exactly-once on the view. Exactness:
    * DECIMAL/integral sums are associative, so the delta-merged value is
    * bit-equal to a recompute (float sums would drift by order — same
    * caveat as [[maintain]]). Null contract: `sum_` inputs must be
    * non-null (guarded per batch); `min_`/`max_` skip nulls natively and
    * `cnt` counts rows, so they need no guard. Returns the view txn id
    * applied (== toTxn), or the current watermark when skipped. */
  def maintainAbsoluteMulti(base: MatDb, viewDb: MatDb, fromTxn: Long, toTxn: Long,
      groupCol: String,
      precomputedDelta: Option[org.apache.spark.sql.DataFrame] = None): Long =
    maintainAbsoluteMultiKeys(base, viewDb, fromTxn, toTxn, Seq(groupCol),
      precomputedDelta)

  /** The parsed aggregate spec of a maintained view — shared by the
    * incremental fold, the restricted absolute recompute, and the full
    * [[rebuild]]. The VIEW SCHEMA is the spec: dimension columns are the
    * group key; each value column declares its aggregate by NAME —
    * `sum_<c>` / `min_<c>` / `max_<c>` (sum / extremum of a base column or
    * a DERIVED expression), `cnt_<c>` (count of NON-NULL values of a base
    * column or derived expression), or `cnt` (row count). DERIVED sources:
    * `graft.mview.expr.<name> = <sql over base columns>` table properties —
    * the expression re-evaluates verbatim over any frame presenting
    * base-named columns (the delta's new side, the renamed pre-image
    * frame, or the resolved base itself), which is exactly what makes its
    * retract leg exact. */
  private final class ViewSpec(base: MatDb, viewDb: MatDb) {
    val exprDecls: Map[String, String] =
      graft.core.Storage.readProps(viewDb.root).collect {
        case (k, v) if k.startsWith("graft.mview.expr.") =>
          k.stripPrefix("graft.mview.expr.") -> v
      }
    def srcOf(name: String, prefix: String): String = {
      val c = name.stripPrefix(prefix)
      require(base.schema.columnNames.contains(c) || exprDecls.contains(c),
        s"view column $name names no base column '$c' and declares no " +
          "graft.mview.expr.* expression")
      c
    }
    /** The source VALUE of an aggregate column, over a frame presenting
      * base-named columns. */
    def valCol(c: String): org.apache.spark.sql.Column =
      if (base.schema.columnNames.contains(c)) col(c) else expr(exprDecls(c))
    def validate(): Unit = viewDb.schema.valueNames.foreach {
      case "cnt" => ()
      case n if n.startsWith("sum_") || n.startsWith("min_") ||
          n.startsWith("max_") || n.startsWith("cnt_") =>
        srcOf(n, n.take(4)); ()
      case other => throw new IllegalArgumentException(
        s"view value column '$other' declares no aggregate " +
          "(expected sum_<col>, min_<col>, max_<col>, cnt_<col>, or cnt)")
    }
    /** Distinct sources per aggregate family. */
    def sumSrcs: Seq[String] = viewDb.schema.valueNames
      .filter(_.startsWith("sum_")).map(_.stripPrefix("sum_")).distinct
    def cntSrcs: Seq[String] = viewDb.schema.valueNames
      .filter(_.startsWith("cnt_")).map(_.stripPrefix("cnt_")).distinct
    def mmSrcs: Seq[String] = viewDb.schema.valueNames
      .collect { case n if n.startsWith("min_") || n.startsWith("max_") => n.drop(4) }
      .distinct
    /** Absolute aggregate columns (GROUP BY over base-named rows). With
      * `guardSums` the non-null sum contract rides the aggregate itself as
      * a row-level raise_error (for paths with no separate probe job). */
    def aggs(guardSums: Boolean = false): Seq[org.apache.spark.sql.Column] = {
      def sumSrc(c: String) =
        if (!guardSums) valCol(c)
        else when(valCol(c).isNull, raise_error(lit(
          s"delta contains null $c rows — the view's SUM would skip them " +
            "while cnt counts them; coalesce or filter upstream " +
            "(nothing was committed)"))).otherwise(valCol(c))
      viewDb.schema.values.map { v =>
        v.name match {
          case "cnt" => count(lit(1)).as("cnt")
          case n if n.startsWith("sum_") =>
            sum(sumSrc(srcOf(n, "sum_"))).cast(v.dataType).as(n)
          case n if n.startsWith("cnt_") =>
            count(valCol(srcOf(n, "cnt_"))).cast(v.dataType).as(n)
          case n if n.startsWith("min_") =>
            min(valCol(srcOf(n, "min_"))).cast(v.dataType).as(n)
          case n => max(valCol(srcOf(n, "max_"))).cast(v.dataType).as(n)
        }
      }
    }
  }

  /** Does retracting `old` retire the view extremum `cur` of the min/max
    * column `n`? Equality counts: another row may hold the same extreme.
    * The dirty-group test of both aligned folds. */
  private def retires(n: String, old: Column, cur: Column): Column =
    if (n.startsWith("min_")) old <= cur else old >= cur

  /** A touched group's merged view values: its current row (`_cur_<n>`,
    * null when absent) combined with its leg aggregates, which `agg` names
    * — `_dc` (row count), `_d_<c>` (sum), `_dk_<c>` (non-null count),
    * `_mn_<c>`/`_mx_<c>` (new extremes). Decimal addition widens
    * precision; every value casts back to the view's declared type so
    * segments stay byte-compatible. Shared by the distributed and the
    * driver-scale fold, so both merge with the same expressions. */
  private def mergedColsOf(viewDb: MatDb, agg: String => Column): Seq[Column] =
    viewDb.schema.values.map { v =>
      v.name match {
        case "cnt" => (coalesce(col("_cur_cnt"), lit(0L)) + agg("_dc")).as("cnt")
        case n if n.startsWith("cnt_") =>
          (coalesce(col(s"_cur_$n"), lit(0L)) +
            agg(s"_dk_${n.stripPrefix("cnt_")}")).cast(v.dataType).as(n)
        case n if n.startsWith("sum_") =>
          (coalesce(col(s"_cur_$n"), lit(0).cast(v.dataType)) +
            agg(s"_d_${n.stripPrefix("sum_")}")).cast(v.dataType).as(n)
        case n if n.startsWith("min_") =>
          least(col(s"_cur_$n"), agg(s"_mn_${n.drop(4)}")).cast(v.dataType).as(n)
        case n =>
          greatest(col(s"_cur_$n"), agg(s"_mx_${n.drop(4)}")).cast(v.dataType).as(n)
      }
    }

  /** The maintenance stamp — the soundness token the MV auto-rewrite
    * verifies ([[graft.plans.MvRewriteRule]]): "this table is a maintained
    * view of <base>, exactly through <toTxn>". */
  private def stampMaintained(base: MatDb, viewDb: MatDb, toTxn: Long,
      groupCols: Seq[String]): Unit =
    graft.core.Storage.writeProps(viewDb.root,
      graft.core.Storage.readProps(viewDb.root) ++ Map(
        "graft.mview.base" -> base.root.toAbsolutePath.toString,
        "graft.mview.txn" -> toTxn.toString))

  /** FULL REBUILD of a maintained view at base txn `toTxn` — the recovery
    * path when the incremental delta is NOT reconstructible: a replace-kind
    * base commit (TRUNCATE / INSERT OVERWRITE / compact) landed inside the
    * range and its pre-state was already vacuumed, so
    * [[graft.core.MatDb.changesBetween]] refuses. One absolute aggregate of
    * `base.asOf(toTxn)` REPLACES the view's contents in a single
    * transaction PINNED to `toTxn`, so the pinned-clock alignment
    * (`view.asOf(baseTxn)`) and at-least-once replay contracts survive the
    * rebuild unchanged; the maintenance stamp is re-written afterward.
    * O(base) — the price already paid for losing the delta. Returns the
    * view txn applied (== toTxn), or the watermark when the range already
    * landed (replay). */
  def rebuild(base: MatDb, viewDb: MatDb, toTxn: Long,
      groupCols: Seq[String]): Long = {
    require(groupCols.nonEmpty && viewDb.schema.dimNames == groupCols,
      s"view must be keyed by (${groupCols.mkString(", ")}); " +
        s"got dims=${viewDb.schema.dimNames}")
    val spec = new ViewSpec(base, viewDb)
    spec.validate()
    viewDb.refresh()
    val watermark = viewDb.txnWatermark
    if (watermark >= toTxn) return watermark
    viewDb.discardOrphanTxn(toTxn)
    val txn = viewDb.newPinnedTransaction(toTxn)
    try {
      val newNotNull = groupCols.map(col(_).isNotNull).reduce(_ && _)
      val aggs = spec.aggs(guardSums = true)
      txn.addRows(base.asOf(toTxn).where(newNotNull)
        .groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*))
      txn.commitReplacing()
    } catch {
      case e: Throwable if isNullGuard(e) =>
        try txn.rollback() catch { case _: Throwable => () }
        throw new IllegalArgumentException(nullGuardMessage(e), e)
    }
    stampMaintained(base, viewDb, toTxn, groupCols)
    toTxn
  }

  /** [[maintainAbsoluteMulti]] with a COMPOSITE group key: the view's
    * dimensions are several base columns (`GROUP BY src, day` → view dims
    * (src, day)), each a base dimension or LONG value column. Same
    * maintenance algebra, same self-maintenance/absolute split, same
    * replay safety — the group identity is just a tuple now. Rows with a
    * NULL in any group column are excluded from the view on both legs
    * (document them out or coalesce upstream), matching the single-key
    * contract. */
  def maintainAbsoluteMultiKeys(base: MatDb, viewDb: MatDb, fromTxn: Long, toTxn: Long,
      groupCols: Seq[String],
      precomputedDelta: Option[org.apache.spark.sql.DataFrame] = None): Long = {
    require(groupCols.nonEmpty && viewDb.schema.dimNames == groupCols,
      s"view must be keyed by (${groupCols.mkString(", ")}); " +
        s"got dims=${viewDb.schema.dimNames}")
    val spec = new ViewSpec(base, viewDb)
    import spec.valCol
    spec.validate()
    // one watermark read decides replay vs apply: maintenance commits are
    // pinned to their range's end txn, so "watermark >= toTxn" is exactly
    // "this range already landed" (refresh first — the handle chases other
    // maintenance runs' commits under crash-replay)
    ph("refresh+wm")(viewDb.refresh())
    val watermark = viewDb.txnWatermark
    if (watermark >= toTxn) return watermark
    // a crashed prior attempt may have flushed (never committed) segments
    // at the pinned id — clear them or flush aborts on the claimed dir
    ph("discardOrphan")(viewDb.discardOrphanTxn(toTxn))
    val aggs: Seq[org.apache.spark.sql.Column] = spec.aggs()
    // the change scan is the expensive leg (two restricted dedups + a
    // full-outer join) and every downstream reference would re-run it:
    // null guards, the group classification, the anti-join. Persist it for
    // the duration of the maintenance — O(batch) rows, never O(base). A
    // caller maintaining SEVERAL views of one batch precomputes it once
    // and passes it in (viewMaintSink), halving-or-better the per-batch
    // fixed cost; we only own (and release) what we created.
    val delta = precomputedDelta.getOrElse(
      base.changesBetween(fromTxn, toTxn, includeOld = true))
    val owned = precomputedDelta.isEmpty
    // TINY-FOLD fast planning: a fold's queries re-plan with fresh
    // literals every batch (range txn ids, the pinned commit id), so each
    // one misses the codegen cache and recompiles — the dominant fixed
    // cost of the bench's maintenance family (FastPlan scaladoc). Gated
    // on BOTH the delta's estimate and the base's MANIFEST-visible bytes
    // (a driver listing — building and optimizing a whole base.asOf plan
    // just to read its statistics was itself a per-fold driver cost): the
    // dirty/backfill legs scan the base, so a 100 TB base keeps codegen
    // even when its delta is tiny.
    val smallFold = graft.core.FastPlan.isSmall(delta) &&
      graft.core.FastPlan.isSmallBytes(base.visibleBytes(Some(toTxn)))
    val hasMinMax = viewDb.schema.valueNames
      .exists(n => n.startsWith("min_") || n.startsWith("max_"))
    // self-maintenance needs `cnt` to detect emptied groups when there is
    // no min/max recompute leg to reveal them (bench/view_maint_probe.json
    // records this shape against the absolute recompute)
    val aligned = watermark == fromTxn &&
      (hasMinMax || viewDb.schema.valueNames.contains("cnt"))
    // an aligned tiny fold runs at driver scale ([[foldAtDriverScale]]) over
    // the base handle's collected delta, which never reads this frame's cache
    val persisted = owned && !(aligned && smallFold)
    if (persisted) delta.persist()
    // small intermediates (group keys, per-group deltas, merged rows) are
    // referenced several times inside the ONE commit write job — without a
    // cache each reference re-runs its delta aggregation and view join
    // (the q123 r13 regression: the dirty classification evaluated ~5×)
    val cachedFrames = scala.collection.mutable.ListBuffer.empty[org.apache.spark.sql.DataFrame]
    def cached(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      df.persist(); cachedFrames += df; df
    }
    try graft.core.FastPlan.scoped(base.spark, smallFold) {
      val sumGuardCols = spec.sumSrcs
      // per group column: dimensions are version-invariant (old == new);
      // value columns read their pre-image from the delta's _old_ side
      def oldGOf(g: String): org.apache.spark.sql.Column =
        if (base.schema.dimNames.contains(g)) col(g) else col(s"_old_$g")
      val gCols = groupCols.map(col)
      val oldNotNull = groupCols.map(oldGOf(_).isNotNull).reduce(_ && _)
      val newNotNull = groupCols.map(col(_).isNotNull).reduce(_ && _)
      val sumSrcs = spec.sumSrcs
      val cntSrcs = spec.cntSrcs
      val mmSrcs = spec.mmSrcs
      // a leg source's raw type: the base column's, or — for a declared
      // expression — its analyzed type over the delta's base-named new
      // side (analysis only, no job); both legs of the union must agree
      def legType(c: String) =
        base.schema.toStructType.fields.find(_.name == c).map(_.dataType)
          .getOrElse(delta.select(valCol(c)).schema.head.dataType)
      // a cnt_<col> counts NON-NULL source values: its delta is ±1 per
      // row where the (possibly derived) source evaluates non-null —
      // exactly retractable, like a sum of indicator values
      def cntDelta(c: String, sign: Int): org.apache.spark.sql.Column =
        when(valCol(c).isNotNull, lit(sign.toLong)).otherwise(lit(0L))
      // retract leg: pre-images of U/D rows (a group-moving update
      // retracts from its old group here and applies to the new one
      // below); min/max sources contribute nothing to a retract — dirty
      // groups recompute them from base. The pre-image frame renames
      // _old_ values BACK to their base names (dims are version-
      // invariant and keep theirs), so a declared expression evaluates
      // verbatim over the OLD row — the exact value to retract.
      def oldFrameOf(d: org.apache.spark.sql.DataFrame) =
        d.where(col("op").isin("U", "D") && oldNotNull)
          .select(groupCols.map(g => oldGOf(g).as(s"_g_$g")) ++
            base.schema.dimNames.map(col) ++
            base.schema.valueNames.map(v => col(s"_old_$v").as(v)): _*)
      // the non-null sum contract rides the write job as a row-level
      // raise_error instead of a separate up-front probe job (steady-path
      // job count matters: each job is fixed latency per view per batch).
      // The write job failing aborts BEFORE the manifest publish, so the
      // guarantee is unchanged: a null in the delta means nothing commits
      // (the claimed dir is swept by the next attempt's discardOrphanTxn).
      def guarded(c: String): org.apache.spark.sql.Column =
        if (!sumGuardCols.contains(c)) valCol(c)
        else when(valCol(c).isNull, raise_error(lit(
          s"delta contains null $c rows — the view's SUM would skip them " +
            "while cnt counts them; coalesce or filter upstream " +
            "(nothing was committed)"))).otherwise(valCol(c))
      // the (retract, apply) legs of a delta frame; `retracted` adds each
      // min/max source's retracted pre-image as `_o_<c>` (the dirty test's
      // input, null on the apply leg)
      def legsOf(d: org.apache.spark.sql.DataFrame, retracted: Boolean)
          : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
        def o(v: String => org.apache.spark.sql.Column) =
          if (retracted) mmSrcs.map(c => v(c).as(s"_o_$c")) else Nil
        val retractLeg = oldFrameOf(d)
          .select(groupCols.map(g => col(s"_g_$g").as(g)) ++
            (sumSrcs.map(c => (-valCol(c)).as(s"_d_$c")) ++
              cntSrcs.map(c => cntDelta(c, -1).as(s"_dk_$c")) ++
              mmSrcs.map(c => lit(null).cast(legType(c)).as(s"_m_$c")) ++
              o(valCol) :+ lit(-1L).as("_dc")): _*)
        val applyLeg = d.where(col("op").isin("I", "U") && newNotNull)
          .select(gCols ++
            (sumSrcs.map(c => guarded(c).as(s"_d_$c")) ++
              cntSrcs.map(c => cntDelta(c, 1).as(s"_dk_$c")) ++
              mmSrcs.map(c => valCol(c).as(s"_m_$c")) ++
              o(c => lit(null).cast(legType(c))) :+ lit(1L).as("_dc")): _*)
        (retractLeg, applyLeg)
      }
      val txn = viewDb.newPinnedTransaction(toTxn)
      // the isNullGuard catch must cover EVERYTHING that can evaluate the
      // guarded legs — the dirty/mergeable probe job (flags collect)
      // evaluates the same cached frames as the write job, so the inlined
      // raise_error can fire there too; catching only around txn.commit()
      // would surface a raw wrapped SparkException from the probe with no
      // immediate rollback (the next attempt's discardOrphanTxn would have
      // to sweep the claimed dir)
      try {
      if (!aligned) {
        // backfill path: the up-front probe job is fine here (rare, and
        // the absolute recompute dwarfs it)
        ph("nullguard")(sumGuardCols.foreach(c =>
          requireNoNullValues(delta, valCol(c), c)))
        // restricted ABSOLUTE recompute of every touched group — the
        // always-correct fallback (fresh view backfill, range gaps)
        val touched = cached(
          delta.select(gCols: _*).where(newNotNull)
            .union(delta.select(groupCols.map(g => oldGOf(g).as(g)): _*)
              .where(oldNotNull))
            .distinct())
        // cached: BOTH write legs (the emptied-group tombstones and the
        // new rows) reference this aggregate — uncached, the restricted
        // base resolve would run twice inside the one commit write job
        val newAgg = cached(base.asOf(toTxn)
          .join(broadcast(touched), groupCols, "left_semi")
          .groupBy(gCols: _*)
          .agg(aggs.head, aggs.tail: _*))
        val emptied = touched.join(newAgg.select(gCols: _*), groupCols, "left_anti")
        txn.deleteRows(emptied)
        txn.addRows(newAgg)
      } else if (smallFold) {
        val local = base.collectedChanges(fromTxn, toTxn,
          if (owned) delta else base.changesBetween(fromTxn, toTxn, includeOld = true))
        val (retractLeg, applyLeg) = legsOf(local, retracted = true)
        foldAtDriverScale(base, viewDb, txn, groupCols, fromTxn, aggs, hasMinMax,
          local, retractLeg, applyLeg)
      } else {
        // the view's resolved snapshot is read TWICE per fold (the dirty
        // classification's extremes lookup in the probe job, the merge
        // leg's current-rows lookup in the write job) — each read a
        // parquet union scan + resolve aggregate. Cache it once for the
        // fold; O(view rows), released with the other fold frames.
        val viewSnap = cached(viewDb.snapshot())
        val oldFrame = oldFrameOf(delta)
        val (retractLeg, applyLeg) = legsOf(delta, retracted = false)
        val groupAggs = sumSrcs.map(c => sum(col(s"_d_$c")).as(s"_d_$c")) ++
          cntSrcs.map(c => sum(col(s"_dk_$c")).as(s"_dk_$c")) ++
          mmSrcs.flatMap(c => Seq(min(col(s"_m_$c")).as(s"_mn_$c"),
            max(col(s"_m_$c")).as(s"_mx_$c"))) :+
          sum(col("_dc")).as("_dc")
        val perGroup = retractLeg.unionByName(applyLeg)
          .groupBy(gCols: _*)
          .agg(groupAggs.head, groupAggs.tail: _*)
        // DIRTY groups: a retraction (pre-image side of U/D) can retire an
        // extremum ONLY if the retracted value sits AT a current extreme —
        // an interior retraction leaves min/max standing, and its sum/cnt
        // legs retract exactly, so the group still delta-merges with no
        // base read. The boundary test compares each retracted pre-image
        // against the group's CURRENT view extremes (<=/>= — equality is
        // conservative: another row may hold the same extreme, recompute
        // anyway); a null pre-image cannot retire anything (min/max skip
        // nulls); a missing view row (defensive — cannot happen when
        // aligned) is dirty.
        lazy val dirty = cached {
          val mmViewCols = viewDb.schema.valueNames
            .filter(n => n.startsWith("min_") || n.startsWith("max_"))
          // retracted extremum candidates come from the SAME renamed
          // pre-image frame the sum retract uses, so a DECLARED EXPRESSION
          // extremum evaluates its boundary test exactly like a column —
          // this is what makes expression min/max exactly as incremental
          // as column min/max (the dirty classification stays the only
          // base-read trigger either way)
          val retractVals = oldFrame
            .select(groupCols.map(g => col(s"_g_$g").as(g)) ++
              mmSrcs.map(c => valCol(c).as(s"_o_$c")): _*)
          val mmView = viewSnap
            .select(gCols ++ (mmViewCols.map(col) :+ lit(true).as("_present")): _*)
          val boundary = mmViewCols
            .map(n => retires(n, col(s"_o_${n.drop(4)}"), col(n))).reduce(_ || _)
          retractVals.join(mmView, groupCols, "left")
            .where(col("_present").isNull || boundary)
            .select(gCols: _*).distinct()
        }
        // mergeable group-deltas: all touched groups when the view has no
        // min/max (sum/cnt retract exactly); clean groups only otherwise
        val mergeable = cached(
          if (!hasMinMax) perGroup
          else perGroup.join(broadcast(dirty), groupCols, "left_anti"))
        // the view streams through ONE semi-join against the (small,
        // broadcast) mergeable-group set — the view is never shuffled whole
        val current = viewSnap
          .join(broadcast(mergeable.select(gCols: _*)), groupCols, "left_semi")
          .select(gCols ++
            viewDb.schema.valueNames.map(n => col(n).as(s"_cur_$n")): _*)
        val mergedCols = mergedColsOf(viewDb, col)
        val merged = cached(mergeable.join(current, groupCols, "left")
          .select(gCols ++ mergedCols: _*))
        if (!hasMinMax) {
          // a group whose count reaches zero has no aggregate — delete it
          txn.deleteRows(merged.where(col("cnt") === 0L).select(gCols: _*))
          txn.addRows(merged.where(col("cnt") =!= 0L))
        } else {
          // ONE probe job decides both branches (dirty-empty and
          // mergeable-empty) and materializes both cached classifications
          // the write job reuses — two separate isEmpty probes paid two
          // job round-trips per view per batch on the steady path
          val flags = ph("probe")(
            dirty.limit(1).select(lit(1).as("_w"))
              .unionByName(mergeable.limit(1).select(lit(2).as("_w")))
              .collect().map(_.getInt(0)).toSet)
          if (!flags.contains(1)) {
            // no boundary retraction anywhere: every touched group merges —
            // NO base read at all, and clean groups cannot empty
            txn.addRows(merged)
          } else {
            // dirty groups: restricted absolute recompute (min/max
            // retraction needs the group's surviving history; sums ride
            // along for free). Clean merged groups are
            // insert-only-or-interior — their count cannot reach zero, so
            // only dirty groups can empty.
            // cached for the same two-legs reason as the backfill path's
            // newAgg: the dirty-group base resolve must run ONCE per batch
            val dirtyAgg = cached(base.asOf(toTxn)
              .join(broadcast(dirty), groupCols, "left_semi")
              .groupBy(gCols: _*)
              .agg(aggs.head, aggs.tail: _*))
            val emptied = dirty.join(dirtyAgg.select(gCols: _*), groupCols, "left_anti")
            txn.deleteRows(emptied)
            // when EVERY touched group is dirty the merge leg is empty —
            // drop it from the write plan (the common heavy-churn batch)
            if (!flags.contains(2)) txn.addRows(dirtyAgg)
            else txn.addRows(merged.unionByName(dirtyAgg))
          }
        }
      }
      ph("commit")(txn.commit())
      } catch {
        // the inlined null guard fired inside the probe or write job:
        // surface the documented contract violation (and leave nothing
        // behind — the rollback sweeps the claimed segment dir immediately
        // instead of waiting for the next attempt's discardOrphanTxn)
        case e: Throwable if isNullGuard(e) =>
          try txn.rollback() catch { case _: Throwable => () }
          throw new IllegalArgumentException(nullGuardMessage(e), e)
      }
      // maintenance stamp ([[stampMaintained]]) — written AFTER the
      // commit; a crash in between only delays the stamp (and thus the
      // rewrite) until the next batch — never unsound, since the rule
      // requires exact txn equality.
      ph("stamp")(stampMaintained(base, viewDb, toTxn, groupCols))
      txn.id.getOrElse(toTxn)
    } finally {
      cachedFrames.foreach(_.unpersist())
      if (persisted) { delta.unpersist(); () }
    }
  }

  /** The aligned fold at DRIVER SCALE, taken when the metadata gate of
    * [[maintainAbsoluteMultiKeys]] says the fold is tiny. Its legs are
    * projections of the base handle's collected delta
    * ([[graft.core.MatDb.collectedChanges]]), and a Project or Filter over
    * a `LocalRelation` is evaluated by the optimizer on the driver: no job.
    * From there:
    *   - the legs are grouped by key on the driver;
    *   - the view rows of the touched groups are read through a literal
    *     key-set filter (one job; none for an empty view);
    *   - classification (dirty min/max groups) and merge are ONE Project
    *     over a `LocalRelation` of per-group leg arrays, so Catalyst
    *     evaluates the arithmetic on the driver with the distributed
    *     fold's own expressions ([[mergedColsOf]], [[retires]]): Spark's
    *     decimal widening, casts and ANSI overflow;
    *   - dirty groups recompute from only their own base rows, again
    *     through a literal key-set filter (one job, only when one is
    *     dirty);
    *   - the result is buffered into `txn` as local rows, which its commit
    *     writes with one job.
    * The branch pruning is the distributed fold's: no base read without a
    * dirty group, no merge rows when every group is dirty. */
  private def foldAtDriverScale(base: MatDb, viewDb: MatDb,
      txn: graft.core.Transaction, groupCols: Seq[String], fromTxn: Long,
      aggs: Seq[Column], hasMinMax: Boolean, delta: DataFrame,
      retractLeg: DataFrame, applyLeg: DataFrame): Unit = {
    val spark = base.spark
    val n = groupCols.size
    val legSchema = retractLeg.unionByName(applyLeg).schema
    val legRows = ph("legs")(retractLeg.collect() ++ applyLeg.collect())
    val byGroup = legRows.groupBy(_.toSeq.take(n))
    // literal key-set filter over `cols` (a subset of the group columns):
    // one isin per column — a superset for composite keys, which callers
    // narrow to the exact tuples on the driver
    def keyFilter(cols: Seq[String], keys: Iterable[Seq[Any]]): Column =
      cols.map { g =>
        val i = groupCols.indexOf(g)
        col(g).isin(keys.map(_(i)).toSeq.distinct: _*)
      }.reduce(_ && _)
    val current: Map[Seq[Any], Row] =
      if (byGroup.isEmpty || viewDb.committedSegments.isEmpty) Map.empty
      else ph("viewRead")(viewDb.snapshot(pred = Some(keyFilter(groupCols, byGroup.keys)))
        .select((groupCols ++ viewDb.schema.valueNames).map(col): _*).collect())
        .map(r => r.toSeq.take(n) -> r).toMap
    // one row per touched group: its key, its current view row, and each
    // leg column gathered into an array
    val legCols = legSchema.fields.drop(n).toSeq
    val perGroup = spark.createDataFrame(byGroup.toSeq.map { case (k, rs) =>
      val cur = current.get(k)
      Row.fromSeq(k ++ (cur.isDefined +: viewDb.schema.values.indices.map(i =>
        cur.map(_.get(n + i)).orNull)) ++
        legCols.map(f => rs.map(_.get(legSchema.fieldIndex(f.name))).toSeq))
    }.asJava, StructType(legSchema.fields.take(n) ++
      (StructField("_present", BooleanType) +: viewDb.schema.values.map(v =>
        StructField(s"_cur_${v.name}", v.dataType))) ++
      legCols.map(f => StructField(f.name, ArrayType(f.dataType)))))
    // a leg array's aggregate, as the distributed fold's groupBy computes
    // it: SUM in Spark's own result type (nulls skipped, null when none),
    // MIN / MAX as array_min / array_max
    def legAgg(name: String): Column = name.take(4) match {
      case "_mn_" => array_min(col(s"_m_${name.drop(4)}"))
      case "_mx_" => array_max(col(s"_m_${name.drop(4)}"))
      case _ =>
        val t = retractLeg.select(sum(col(name))).schema.head.dataType
        val vals = filter(col(name), _.isNotNull)
        when(size(vals) > 0,
          aggregate(vals, lit(0).cast(t), (acc, x) => (acc + x.cast(t)).cast(t)))
    }
    // DIRTY: a group with a retraction whose view row is missing, or whose
    // retracted pre-image sits at a current extreme (see the distributed
    // fold's classification)
    val mmViewCols = viewDb.schema.valueNames
      .filter(v => v.startsWith("min_") || v.startsWith("max_"))
    val dirtyCol =
      if (!hasMinMax) lit(false)
      else (exists(col("_dc"), _ < 0) && !col("_present")) ||
        mmViewCols.map(v => coalesce(exists(col(s"_o_${v.drop(4)}"),
          retires(v, _, col(s"_cur_$v"))), lit(false))).reduce(_ || _)
    val mergedFrame = perGroup
      .select(groupCols.map(col) ++ mergedColsOf(viewDb, legAgg) :+ dirtyCol.as("_dirty"): _*)
    val merged = ph("merge")(mergedFrame.collect())
    val outSchema = StructType(mergedFrame.schema.fields.dropRight(1))
    val (dirty, clean) = merged.partition(_.getBoolean(outSchema.size))
    val cleanRows = clean.map(r => Row.fromSeq(r.toSeq.dropRight(1)))
    val dirtyKeys = dirty.map(_.toSeq.take(n)).toSet
    val (adds, deletes) =
      if (!hasMinMax) {
        // a group whose count reaches zero has no aggregate — delete it
        val cnt = outSchema.fieldIndex("cnt")
        val (gone, kept) = cleanRows.partition(_.getLong(cnt) == 0L)
        (kept.toSeq, gone.map(_.toSeq.take(n)).toSeq)
      } else if (dirtyKeys.isEmpty) (cleanRows.toSeq, Nil)
      else {
        // dirty groups: restricted absolute recompute from their own base
        // rows. Their rows at toTxn are their rows at fromTxn whose key the
        // batch left alone, plus the batch's new versions in them: the
        // older state is often one checkpoint baseline, whose read needs
        // no resolve, so the group filter pushes into the file scan.
        // Dimension group columns filter below the resolve either way.
        val dims = base.schema.dimNames
        val cols = base.schema.columnNames.map(col)
        val touched = delta.select(dims.map(col): _*).collect().map(_.toSeq)
        val untouched =
          if (dims.size == 1) !col(dims.head).isin(touched.map(_.head).toSeq: _*)
          else !struct(dims.map(col): _*).isin(touched.toSeq.map(k =>
            struct(dims.zip(k).map { case (d, v) => lit(v).as(d) }: _*)): _*)
        val (dimG, valG) = groupCols.partition(dims.contains)
        val inDirty = keyFilter(groupCols, dirtyKeys)
        val atFrom = base.snapshot(Some(fromTxn),
          if (dimG.isEmpty) None else Some(keyFilter(dimG, dirtyKeys)))
        val recomputed = ph("dirtyRead")(
          atFrom.where(untouched && (if (valG.isEmpty) lit(true) else keyFilter(valG, dirtyKeys)))
            .select(cols: _*)
            .unionByName(delta.where(col("op").isin("I", "U") && inDirty).select(cols: _*))
            .groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*).collect())
          .filter(r => dirtyKeys.contains(r.toSeq.take(n)))
        // clean merged groups cannot empty; a dirty group absent from the
        // recompute lost its last row
        val found = recomputed.map(_.toSeq.take(n)).toSet
        (cleanRows.toSeq ++ recomputed, (dirtyKeys -- found).toSeq)
      }
    if (deletes.nonEmpty)
      txn.deleteRows(spark.createDataFrame(deletes.map(Row.fromSeq).asJava,
        StructType(outSchema.fields.take(n))))
    txn.addRows(spark.createDataFrame(adds.asJava, outSchema))
  }
}
