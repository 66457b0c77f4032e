package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.core.{MatDb, Protocol, Scan, Storage}
import graft.sources.GraftInsert

/** Structured Streaming surface (SURVEY.md §2.3 "Streaming"): the reference
  * has none, but its append-only segment model is micro-batch shaped — the
  * sensor-log loader (sensor-log.rs:241-305) is a batch ingest of an
  * unbounded feed. Here the same feed is a stream:
  *
  *   - the streaming read path of the table format is the
  *     transaction-aligned source `spark.readStream.format("graft-stream")`
  *     ([[GraftStreamSource]]) — every committed transaction becomes part
  *     of exactly one micro-batch;
  *   - tumbling / sliding / session windows with watermarks;
  *   - [[dedupWithinWatermark]]: the engine's upsert semantics on a stream;
  *   - [[runningMaxByKey]]: arbitrary stateful op via mapGroupsWithState;
  *   - [[MatDbSink]]: foreachBatch sink committing each micro-batch as one
  *     graft transaction — streaming writes get the same atomic-visibility
  *     guarantees as batch writes.
  */
object Streams {

  /** Tumbling-window counts with a watermark for late data. */
  def tumblingCounts(events: DataFrame, tsCol: String, watermark: String, window: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(org.apache.spark.sql.functions.window(col(tsCol), window), col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum(col("value")).as("sum_value"))

  /** Sliding-window aggregate. */
  def slidingCounts(events: DataFrame, tsCol: String, watermark: String,
      window: String, slide: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(org.apache.spark.sql.functions.window(col(tsCol), window, slide))
      .agg(count(lit(1)).as("cnt"))

  /** Session windows (gap-based) per user. */
  def sessionCounts(events: DataFrame, tsCol: String, watermark: String, gap: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap), col("user_id"))
      .agg(count(lit(1)).as("cnt"))

  /** Streaming upsert analog: newest row per key within the watermark —
    * the MVCC dedup of the batch scan (graft.core.Scan) on a stream. */
  def dedupWithinWatermark(events: DataFrame, tsCol: String, watermark: String,
      keys: Seq[String]): DataFrame =
    events.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keys)

  final case class KeyedValue(key: Long, value: Double, eventTimeMillis: Long)
  final case class RunningMax(key: Long, max: Double, n: Long)

  /** Custom stateful operator: running max + count per key via
    * mapGroupsWithState (KeyValueGroupedDataset state API). */
  def runningMaxByKey(ds: Dataset[KeyedValue]): Dataset[RunningMax] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.key)
      .mapGroupsWithState[RunningMax, RunningMax](GroupStateTimeout.NoTimeout()) {
        (key: Long, rows: Iterator[KeyedValue], state: GroupState[RunningMax]) =>
          val prev = state.getOption.getOrElse(RunningMax(key, Double.MinValue, 0L))
          val next = rows.foldLeft(prev)((acc, r) =>
            RunningMax(key, math.max(acc.max, r.value), acc.n + 1))
          state.update(next)
          next
      }
  }

  /** foreachBatch sink: each micro-batch commits as ONE graft transaction —
    * atomic visibility per batch, rollback on failure (nothing renamed).
    *
    * Replay: a crash between the commit and the checkpoint commit makes
    * Spark re-run the batch, which lands the SAME rows under a second txn
    * id — newest-wins resolution returns the identical snapshot, so the
    * RESOLVED view is exactly-once while the raw history is at-least-once.
    * Everything the stream writes reads back through the catalog's
    * chunk-partitioned resolve (zero exchanges under v2 bucketing). */
  def matDbSink(stream: DataFrame, db: MatDb, checkpoint: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val txn = db.newTransaction()
        txn.addRows(batch)
        txn.commit()
      }

  /** foreachBatch sink into the RANGED layout
    * ([[graft.sources.RangedGraft]]): each micro-batch commits as one
    * ranged transaction — rows routed to their range piece with NO shuffle
    * (a dynamic-partition write against the table's fixed boundaries), and
    * everything the stream writes is immediately readable with the
    * fully exchange-free ordered scan. Replay semantics are the same
    * MVCC-absorption as [[matDbSink]]: a re-run batch lands under a
    * fresh txn id and newest-wins resolution returns the identical
    * snapshot. Single writer per table (RangedGraft's id allocation is
    * read-then-write); a streaming sink IS that single writer. */
  def rangedSink(stream: DataFrame, path: String, schema: graft.core.MatSchema,
      checkpoint: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.sources.RangedGraft.append(batch.sparkSession, path, schema, batch)
        ()
      }

  /** CDC-apply sink: a change stream of upserts AND deletes folded into
    * the MVCC table — the retract-stream counterpart of [[matDbSink]],
    * built on the tombstone delete ([[graft.core.Transaction.deleteRows]]).
    *
    * The stream carries the table's dimension and value columns plus
    * `opCol` (`"D"` = delete, anything else = upsert) and `ordCol` (the
    * change-log sequence — the within-batch tie-break). Each micro-batch:
    *
    *   1. fold to the LAST change per key by `ordCol` (one hash aggregate
    *      — the standard CDC per-key compaction; intermediate flip-flops
    *      inside a batch are unobservable by design, exactly as a batch
    *      boundary is the unit of atomic visibility);
    *   2. commit that fold as ONE transaction: tombstones for keys whose
    *      last change is a delete, upserts for the rest (disjoint key
    *      sets, so the two writes' seq order is irrelevant).
    *
    * Replay: a crash-re-run batch re-lands the same folded changes under
    * a fresh txn id — tombstone-over-tombstone and upsert-over-equal-
    * upsert both resolve to the identical snapshot, so the RESOLVED view
    * is exactly-once while the raw history is at-least-once (the same
    * MVCC-absorption contract as [[matDbSink]], now covering deletes).
    *
    * Scale shape: the fold is one map-side-combining aggregate over the
    * batch; the commit is the segment writer's single chunk-keyed
    * shuffle ([[graft.core.Segment.write]]). History is never read, let alone shuffled — cost is
    * O(batch), independent of table size. */
  def cdcApplySink(stream: DataFrame, db: MatDb, opCol: String, ordCol: String,
      checkpoint: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val schema = db.schema
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val dims = schema.dimNames.map(col)
        // the fold stays one HashAggregate: per-column primitive max_by
        // buffers (a max_by(struct, ord) payload pick would fall back to
        // SortAggregate). ordCol must be unique per key within a batch —
        // a change log's sequence is — so every column picks the same
        // winning change. That uniqueness is ENFORCED below: on an ord tie
        // the independent per-column max_by picks are unordered, which
        // could commit a torn row (values from one change, the delete flag
        // from another), so a duplicate (key, ord) pair fails the batch
        // loudly instead.
        val isDel = (col(opCol) === lit("D")).as("_cdc_del")
        val keyed = batch.select(dims ++ Seq(isDel, col(ordCol)) ++
            schema.valueNames.map(col): _*)
          .cache()
        val tie = keyed.groupBy(dims :+ col(ordCol): _*).count()
          .where(col("count") > 1).limit(1).collect()
        if (tie.nonEmpty) {
          keyed.unpersist()
          throw new IllegalArgumentException(
            s"cdcApplySink: duplicate ($ordCol) for key " +
              tie.head.toSeq.init.mkString("(", ",", ")") +
              s" — '$ordCol' must be unique per key within a batch, or the " +
              "per-column fold could commit a torn row")
        }
        val aggs = max_by(col("_cdc_del"), col(ordCol)).as("_cdc_del") +:
          schema.valueNames.map(c => max_by(col(c), col(ordCol)).as(c))
        val last = keyed
          .groupBy(dims: _*)
          .agg(aggs.head, aggs.tail: _*)
          .cache()
        try {
          val txn = db.newTransaction()
          txn.deleteRows(last.where(col("_cdc_del")))
          txn.addRows(last.where(!col("_cdc_del")))
          txn.commit()
        } finally { last.unpersist(); keyed.unpersist(); () }
        ()
      }
  }


  /** Streaming materialized view: keep a grouped SUM/COUNT view of a graft
    * table current from the table's own transaction stream
    * (`format("graft-stream")` on the base path). Each micro-batch
    * carries whole base transactions (the source's txn-aligned offsets);
    * the sink derives the batch's `(from, to]` txn range from the rows'
    * `_txn_id` and applies
    * [[graft.operators.IncrementalAgg.maintainAbsolute]] — the
    * SELF-MAINTAINING replay-safe mode: view rows are derived from
    * old-view-row ⊕ delta (no base read in the steady state), each
    * maintenance commit is pinned to the range's end txn, and a
    * crash-re-run batch is detected by one watermark read and skipped.
    * The view is exactly-once — a pinned commit either landed atomically
    * or didn't; there is no half state. The range trick is safe
    * against burned txn ids: any committed txn between the previous
    * batch's end and this batch's min would have been IN this batch.
    *
    * The view db must follow IncrementalAgg's schema contract
    * (dims = (groupCol), values = (sum_<valueCol>, cnt)) and have this
    * sink as its single writer. */
  def viewMaintSink(stream: DataFrame, basePath: String, viewDb: MatDb,
      groupCol: String, valueCol: String, checkpoint: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    require(viewDb.schema.valueNames == Seq(s"sum_$valueCol", "cnt"),
      s"view schema must be values=(sum_$valueCol, cnt); " +
        s"got ${viewDb.schema.valueNames} (multi-aggregate views: pass " +
        "the views overload)")
    viewMaintSink(stream, basePath, Seq(viewDb -> groupCol), checkpoint)
  }

  /** Multi-view [[viewMaintSink]]: maintain SEVERAL materialized views —
    * each with its own group column and aggregate set — from ONE
    * transaction stream of the same base table. Each view's schema is its
    * aggregate spec ([[graft.operators.IncrementalAgg.maintainAbsoluteMulti]]:
    * values named `sum_<col>` / `min_<col>` / `max_<col>` / `cnt`). The
    * batch's txn range is resolved once; every view then folds it through
    * its own delta merge (or restricted recompute of its dirty groups) in
    * the same foreachBatch, so all views advance in lockstep with the base
    * (a crash replays the tail range; each view detects it by watermark —
    * its maintenance commits are pinned to base txn ids — and skips).
    *
    * The base handle is opened ONCE (first batch) and [[MatDb.refresh]]ed
    * per micro-batch: a MatDb pins its committed-segment snapshot at open
    * and this sink exists to chase OTHER writers' commits, so the snapshot
    * must re-pin every batch — but a refresh is one read-only manifest
    * read (O(1) under the `_log/_last` pointer), where the round-10
    * re-open paid a schema read plus a recovery sweep per batch (and the
    * sweep MUTATES — wrong thing to run against a table other processes
    * are actively writing). */
  def viewMaintSink(stream: DataFrame, basePath: String,
      views: Seq[(MatDb, String)], checkpoint: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    viewMaintSinkKeys(stream, basePath,
      views.map { case (v, g) => v -> Seq(g) }, checkpoint)

  /** [[viewMaintSink]] with COMPOSITE group keys: each view may be keyed
    * by several base columns (its dimensions — see
    * [[graft.operators.IncrementalAgg.maintainAbsoluteMultiKeys]]).
    * Single-key views pass `Seq(col)`; the two single-key overloads
    * delegate here. */
  def viewMaintSinkKeys(stream: DataFrame, basePath: String,
      views: Seq[(MatDb, Seq[String])], checkpoint: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    require(views.nonEmpty, "viewMaintSink: need at least one view")
    var base: MatDb = null // driver-side foreachBatch state, one per stream
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // The batch is the TRIGGER, not the data: maintenance ranges come
        // from the tables' own txn clocks — each view's watermark (what it
        // is provably maintained through; its commits are PINNED to base
        // txn ids) up to the base's current watermark. Row-derived ranges
        // would silently skip SEGMENT-LESS commits (a TRUNCATE, an
        // overwrite that only removed keys): those contribute no rows to
        // any batch, yet they advance the base's txn clock and WIPE keys
        // the views must retract — the stream still fires an (empty) batch
        // for them because the source's offset is the watermark. This also
        // drops the old per-batch range-collect job: zero jobs run against
        // the batch frame itself. Crash replay stays exactly-once per view
        // (the pinned-commit watermark test, as before).
        if (base == null) base = MatDb.open(batch.sparkSession, basePath)
        else base.refresh()
        val hi = base.txnWatermark
        val pending = views.filter { case (v, _) => v.refresh(); v.txnWatermark < hi }
        if (pending.nonEmpty) {
          {
            // ONE change scan per batch, shared by every view: the delta is
            // view-independent (one restricted single-pass resolve — the
            // dominant fixed cost), persisted for the batch and released
            // after the last view committed. O(batch) rows, never O(base).
            // A persist is lazy: aligned tiny folds never evaluate this
            // frame — they share the base handle's collected delta
            // (MatDb.collectedChanges), computed once for the batch.
            // Views advance in lockstep, so the shared range starts at the
            // MINIMUM pending watermark; a laggard view (fresh, or behind
            // after a crash) sees a superset delta and its non-aligned
            // absolute recompute handles it.
            val lo = pending.map(_._1.txnWatermark).min
            val delta =
              try base.changesBetween(lo, hi, includeOld = true).persist()
              catch {
                case e: IllegalStateException
                    if Option(e.getMessage).exists(_.contains("replace-kind commit")) =>
                  // a replace landed in range and its pre-state is already
                  // vacuumed: the incremental delta is unrecoverable —
                  // REBUILD each pending view absolutely at `hi` (one
                  // pinned replace per view; alignment and replay
                  // contracts survive the rebuild)
                  pending.foreach { case (viewDb, groupCols) =>
                    graft.operators.IncrementalAgg.rebuild(base, viewDb, hi, groupCols)
                  }
                  null
              }
            if (delta != null)
            // GROUPED maintenance: every pending view of the batch folds
            // CONCURRENTLY (one driver thread per view, Spark schedules the
            // jobs side by side), so the batch pays ONE view-maintenance
            // wall-clock instead of a serial commit chain — the per-commit
            // fixed cost (merge-plan jobs + flush + manifest publish) was
            // the multi-view scenario's dominant term once the change scan
            // was shared. Cross-TABLE atomicity is neither possible nor
            // needed: each view's commit stays individually atomic and
            // pinned to the range's end txn, so a crash mid-group leaves
            // some views behind one range and the replayed batch advances
            // exactly those (the same guarantee the serial loop gave).
            try {
              import scala.concurrent.{Await, Future}
              import scala.concurrent.duration.Duration
              implicit val ec: scala.concurrent.ExecutionContext = MaintPool.ec
              // each fold is Try-wrapped so the Await DRAINS every fold
              // before anything propagates: a fail-fast Await would return
              // while sibling folds are still mid-commit, and the streaming
              // engine's batch RETRY would then run a second
              // maintainAbsoluteMultiKeys concurrently with the straggler —
              // its discardOrphanTxn(toTxn) could sweep the straggler's
              // flushed-but-uncommitted segments mid-commit, violating the
              // single-writer contract (and the finally would unpersist the
              // shared delta under the stragglers). With the drain, no fold
              // is in flight when foreachBatch returns; the first failure
              // rethrows after all siblings finished.
              // every fold gets the SHARED range (lo, hi]: a view exactly at
              // lo takes the aligned delta-merge; a view AHEAD of lo (its
              // watermark > lo — the delta-merge would double-apply rows it
              // already holds, so alignment correctly fails) recomputes its
              // touched groups absolutely — idempotent, and in steady state
              // all views sit at the same watermark anyway
              val folds = pending.map { case (viewDb, groupCols) => Future {
                scala.util.Try(
                  graft.operators.IncrementalAgg.maintainAbsoluteMultiKeys(base, viewDb,
                    lo, hi, groupCols, Some(delta)))
              }}
              Await.result(Future.sequence(folds), Duration.Inf).foreach(_.get)
            } finally { delta.unpersist(); () }
            // FILE MAINTENANCE for the views themselves: every maintenance
            // commit adds a segment set, so a long-lived view accumulates
            // one commit per micro-batch FOREVER — at 100 TB that is the
            // small-files + O(commits-ever) metadata problem the table
            // engine already solves with checkpointIfNeeded. Opt-in knob
            // (`graft.mview.checkpoint.maxsegments`, default 0 = off;
            // retained txns via `.retain`, default 16): once a view
            // crosses the threshold, history below the retention folds
            // into one baseline — the fold reuses the folded horizon's own
            // (pinned) txn id, so the maintenance clock, replay detection,
            // and the MV-rewrite alignment witness at that txn all
            // survive; time travel below the fold is reclaimed (asOf
            // rewrites there fail closed to the base, never wrong). Runs
            // AFTER all folds completed, under the sink's single-writer
            // contract — the one serialization point the checkpoint
            // concurrency rules bless.
            val maxSegs = sys.props.get("graft.mview.checkpoint.maxsegments")
              .map(_.toInt).getOrElse(0)
            if (maxSegs > 0) {
              val retain = sys.props.get("graft.mview.checkpoint.retain")
                .map(_.toInt).getOrElse(16)
              pending.foreach { case (v, _) => v.checkpointIfNeeded(maxSegs, retain) }
            }
          }
        }
        ()
      }
  }

  /** ANN-index maintenance sink: keep a persisted IVF index
    * ([[graft.operators.IvfIndex.writeIndex]] layout) current from a graft
    * table's own transaction stream (`format("graft-stream")` on the base
    * path) — "the index follows the table". Per micro-batch: ONE
    * `changesBetween` delta over the batch's txn range; I/U post-images
    * become index upserts (a changed vector MOVES to its new bucket), D
    * rows — and I/U rows whose `vecCol` went null, which must stop being
    * searchable — become deletes; [[graft.operators.IvfIndex.maintainIndex]]
    * folds them, rewriting only the touched buckets. Centroids stay fixed
    * (the index's geometry); re-train + writeIndex when drift warrants a
    * rebuild.
    *
    * Exactly-once shape: maintainIndex is per-id ABSOLUTE (the delta's ids
    * are replaced wholesale in their buckets), so a crash-replayed tail
    * batch recomputes the same deterministic delta (`changesBetween` is
    * pinned by txn ids) and rewrites the same buckets to the same content
    * — at-least-once `foreachBatch` delivery converges to the exact
    * post-DML index. Single index writer, like every fixture layout.
    *
    * Range bookkeeping: the index records its maintained-through base txn
    * in `<index>/maint_txn`, and each batch folds (recorded, base
    * watermark] — the batch is only the TRIGGER, so a SEGMENT-LESS base
    * commit (TRUNCATE) still reaches the index through its empty batch; a
    * first batch on a pre-marker index falls back to the batch's own row
    * range once. If the incremental delta is unrecoverable (a replace in
    * range whose pre-state was vacuumed — `changesBetween` refuses), the
    * index is REBUILT from the current base corpus with the SAME centroids
    * (geometry preserved; `writeIndex` re-seeds the drift baseline).
    *
    * Centroids are re-read whenever the persisted centroid layout changes
    * (one driver-side stat per batch): a drift-triggered re-train +
    * rebuild (`CALL system.retrain_index`) while this stream runs would
    * otherwise leave every later batch assigning vectors with the STALE
    * geometry — buckets silently diverging from the on-disk centroids. */
  def indexMaintSink(stream: DataFrame, basePath: String, indexPath: String,
      vecCol: String, checkpoint: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    var base: MatDb = null // driver-side foreachBatch state, one per stream
    var centroids: Seq[Seq[Double]] = null
    var centroidStamp: Long = Long.MinValue // layout fingerprint of the read
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (base == null) base = MatDb.open(batch.sparkSession, basePath)
        else base.refresh()
        val idCol = base.schema.dimNames.head
        require(base.schema.dimNames == Seq(idCol),
          s"indexMaintSink: the base table must be keyed by one id dimension, " +
            s"got ${base.schema.dimNames}")
        val hi = base.txnWatermark
        val marker = graft.operators.IvfIndex.readMaintTxn(indexPath)
        val lo = marker.orElse {
          // pre-marker index, first batch: derive the range from the batch
          // rows once (the old semantics); an empty first batch says
          // nothing — wait for one with rows
          val r = batch.agg(min(col("_txn_id")).as("lo")).collect()(0)
          if (r.isNullAt(0)) None else Some(r.getLong(0) - 1L)
        }
        lo.filter(_ < hi).foreach { lo =>
          val stamp = graft.operators.IvfIndex.centroidStamp(indexPath)
          if (centroids == null || stamp != centroidStamp) {
            centroids = graft.operators.IvfIndex
              .readCentroids(batch.sparkSession, indexPath).map(_.toSeq).toSeq
            centroidStamp = stamp
          }
          val delta =
            try base.changesBetween(lo, hi).persist()
            catch {
              case e: IllegalStateException
                  if Option(e.getMessage).exists(_.contains("replace-kind commit")) =>
                graft.operators.IvfIndex.writeIndex(
                  base.asOf(hi).where(col(vecCol).isNotNull)
                    .select(col(idCol), col(vecCol)),
                  idCol, vecCol, centroids, indexPath)
                graft.operators.IvfIndex.writeMaintTxn(indexPath, hi)
                null
            }
          if (delta != null) try {
            val upserts = delta.where(col("op").isin("I", "U") && col(vecCol).isNotNull)
              .select(col(idCol), col(vecCol))
            val deletes = delta.where(col("op") === "D" ||
                (col("op").isin("I", "U") && col(vecCol).isNull))
              .select(col(idCol))
            graft.operators.IvfIndex.maintainIndex(
              batch.sparkSession, indexPath, idCol, upserts, deletes,
              Some(centroids))
            graft.operators.IvfIndex.writeMaintTxn(indexPath, hi)
          } finally { delta.unpersist(); () }
        }
        ()
      }
  }

  /** The table at `dir` as committed: every version of every key, with
    * provenance, no MVCC resolve — the "ever committed" history the dedup
    * ingest sinks gate each batch against. One protocol listing plus one
    * [[graft.core.Scan.raw]] file scan: no `MatDb.open`, so no recovery
    * sweep runs per micro-batch. It stays raw because a media table keyed
    * by `doc_id` alone stores several frame rows under one key. */
  private[graft] def committedRows(spark: SparkSession, dir: String): DataFrame = {
    val root = Storage.rootPath(dir)
    Scan.raw(spark, Storage.readSchema(root), Protocol.at(root).committedPaths(root), Nil)
  }

  /** The dedup ingest sinks' shared micro-batch loop. `prepare` derives
    * the batch's signature rows (persisted for the batch); each admitted
    * slice ([[admittedSlices]]) is gated by `fresh(slice, history)` against
    * [[committedRows]] and its survivors commit through
    * [[graft.sources.GraftInsert.append]] — one claimed txn id per slice,
    * nothing committed for an empty one, so a replayed batch that the gate
    * empties leaves the raw history untouched. Every `compactEvery`
    * micro-batches (0 = never) the table compacts ([[MatDb.compact]], the
    * same call as `CALL system.compact`): its replace publish is
    * conflict-checked, so a concurrent writer aborts it instead of being
    * overwritten. Survivors of batch N are history for batch N+1. */
  private def ingestSink(stream: DataFrame, dir: String, checkpoint: String,
      sliceKey: Column, compactEvery: Int, maxBatchRows: Long)(
      prepare: DataFrame => DataFrame)(
      fresh: (DataFrame, DataFrame) => DataFrame)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val rows = prepare(batch).persist()
        try admittedSlices(rows, sliceKey, maxBatchRows).foreach { slice =>
          GraftInsert.append(spark, dir, fresh(slice, committedRows(spark, dir)))
        } finally rows.unpersist()
        if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0)
          MatDb.open(spark, dir).compact()
        ()
      }

  /** Fails unless the table at `dir` persists every column in `cols`. */
  private def requireColumns(dir: String, cols: String*): Unit = {
    val names = Storage.readSchema(Storage.rootPath(dir)).columnNames
    require(cols.forall(names.contains),
      s"the table schema must persist ${cols.mkString("(", ", ", ")")}")
  }

  /** Default per-batch admission bound for the dedup ingest sinks' "batch
    * broadcasts, history streams" contract (~1M rows). At this size the
    * broadcast side is ~8 MB of fingerprints / ~24 MB of band rows /
    * `dim`×8 MB of embeddings — size the knob down for wide vectors, up
    * for signature-only sinks. */
  val DefaultMaxBatchRows: Long = 1L << 20

  /** Admission guard for the ingest sinks: the sink family's scale shape
    * broadcasts BATCH-derived sides only, which is the right 100 TB trade
    * for steady-state micro-batches but unguarded against a backfill
    * feeding a 10M-row "batch" — that broadcast would OOM the driver.
    * Batches over `maxBatchRows` split into ⌈n/maxBatchRows⌉ deterministic
    * hash slices on `sliceKey`, processed IN ORDER inside the same
    * foreachBatch; each slice re-reads history, so earlier slices' commits
    * gate later slices.
    *
    * Semantics under slicing: at-most-one member of every near-dup class
    * still commits (a later slice always sees earlier commits as history),
    * but the SURVIVOR of an intra-batch pair that straddles slices is the
    * earliest-committed member, not necessarily the smallest id — the
    * exact sink is unaffected (equal fingerprints hash to the same slice).
    * Atomic visibility weakens from per-batch to per-slice; a crash
    * mid-sequence replays the whole batch, whose already-committed rows
    * the sinks' replay guards drop — raw history stays exactly-once. */
  private def admittedSlices(batch: DataFrame, sliceKey: Column,
      maxBatchRows: Long): Seq[DataFrame] = {
    require(maxBatchRows > 0, s"maxBatchRows must be positive, got $maxBatchRows")
    val n = batch.count()
    if (n <= maxBatchRows) Seq(batch)
    else {
      val k = math.toIntExact((n + maxBatchRows - 1) / maxBatchRows)
      (0 until k).map(s => batch.where(pmod(hash(sliceKey), lit(k)) === s))
    }
  }

  /** Rows of `batch` whose `fpCol` value never occurs in `history` — the
    * dedup-against-corpus join, shaped for a history side many orders of
    * magnitude larger than the batch:
    *
    *   1. `hits` = history ⋉ broadcast(batch fps): the corpus streams
    *      through a broadcast-hash LEFT SEMI join, column-pruned to the
    *      8-byte fingerprint — it is NEVER shuffled, whatever its size;
    *   2. survivors = batch ∖ broadcast(hits): both joins broadcast the
    *      batch-sized side only.
    *
    * The naive `batch LEFT ANTI history` would hash-exchange the whole
    * corpus per call (anti builds on its right side, which here is the
    * 100 TB one). `hits` is distinct'd before broadcast; for a history
    * that is itself fp-deduped (anything ingested through
    * [[dedupedIngest]]) its pre-distinct size is ≤ the batch's. */
  def noveltyFilter(batch: DataFrame, history: DataFrame, fpCol: String): DataFrame = {
    val fps = batch.select(col(fpCol)).distinct()
    val hits = history.select(col(fpCol))
      .join(broadcast(fps), Seq(fpCol), "left_semi").distinct()
    batch.join(broadcast(hits), Seq(fpCol), "left_anti")
  }

  /** [[noveltyFilter]] with a [[graft.operators.BloomDigest]] prefilter:
    * even the per-batch history SCAN disappears for the definitely-novel
    * majority — only the digest's ~fpp maybes touch history. Still exact.
    * The digest is a parquet table maintained alongside the history (see
    * BloomDigest scaladoc for the incremental `bit_or` union). */
  def noveltyFilterDigest(batch: DataFrame, history: DataFrame,
      digest: DataFrame, fpCol: String): DataFrame =
    graft.operators.BloomDigest.noveltyFilter(batch, history, digest, fpCol)

  /** Incremental corpus ingestion with exact dedup against all history:
    * each micro-batch keeps only documents whose text fingerprint
    * ([[graft.functions.Fingerprint64]], codegen FNV-1a) has never been
    * seen — neither in any committed transaction of the table at `dir` nor
    * earlier in the same batch — and commits the survivors as ONE
    * transaction ([[ingestSink]]).
    *
    * Membership is tested against the RAW committed rows
    * ([[committedRows]]), not the resolved snapshot: "ever committed" is
    * the question, so the scan needs no MVCC aggregate — just a
    * column-pruned pass over `fpCol`.
    *
    * Replay: a batch re-run after a crash between append and checkpoint
    * commit finds all its fingerprints already in history, so the
    * novelty filter drops every row and the empty append claims no txn —
    * unlike [[matDbSink]], the RAW history is exactly-once too, because
    * the dedup join IS the idempotence check. The spec asserts this.
    *
    * `fpCol` must be a column of the table so the fingerprint persists —
    * future batches (and batch backfills via [[noveltyFilter]]) read 8
    * bytes per doc instead of re-hashing the corpus. Two distinct texts
    * colliding on the 64-bit fp drop one of them, the standard exact-dedup
    * trade (~n²/2⁶⁵ corpus-wide; negligible below ~10⁹ docs). */
  def dedupedIngest(stream: DataFrame, dir: String, textCol: String,
      fpCol: String, checkpoint: String, compactEvery: Int = 0,
      maxBatchRows: Long = DefaultMaxBatchRows)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    requireColumns(dir, fpCol)
    ingestSink(stream, dir, checkpoint, col(fpCol), compactEvery, maxBatchRows) { batch =>
      graft.functions.Fingerprint64.register(batch.sparkSession) // idempotent
      batch.withColumn(fpCol, graft.functions.Fingerprint64.fingerprint64(col(textCol)))
        .dropDuplicates(fpCol)
    } { (slice, history) => noveltyFilter(slice, history, fpCol) }
  }

  /** Rows of `batch` with no SimHash NEAR-duplicate — Hamming ≤ `maxDist`
    * on the 56-bit `simhash` column — in `history`, and no smaller-id
    * near-dup in the batch itself: the near-dup analog of
    * [[noveltyFilter]]. Candidates come from the exact 3-band pigeonhole
    * split ([[graft.operators.SimHashBands]]): the corpus explodes to its
    * band rows (a per-row map, NO shuffle) and streams through a
    * broadcast-hash join against the batch's ~3·|batch| band rows; the
    * exact Hamming check, the hit-id distinct, and the final anti join all
    * operate on batch-derived sides only.
    *
    * Intra-batch survivorship is judged against the FULL batch, not
    * against survivors: a row drops iff it has a smaller-id near-dup,
    * whether or not that near-dup itself survives — order-free and
    * deterministic, and it can only over-drop within one micro-batch
    * (history-vs-batch status never depends on it). */
  def nearDupFilter(batch: DataFrame, history: DataFrame, idCol: String,
      maxDist: Int = graft.operators.SimHashBands.MaxHamming): DataFrame = {
    import graft.operators.SimHashBands
    require(maxDist <= SimHashBands.MaxHamming,
      s"3-band split is exhaustive only up to Hamming ${SimHashBands.MaxHamming}")
    val sigs = batch.select(col(idCol), col("simhash"))
    val bb = SimHashBands.bands(sigs, idCol)
      .select(col("band"), col("band_val"), col(idCol), col("simhash").as("_bsim"))
    val hb = SimHashBands.bands(
      history.select(col("simhash").as("_hid"), col("simhash")), "_hid")
    val histHits = hb.join(broadcast(bb), Seq("band", "band_val"))
      .where(bit_count(col("simhash").bitwiseXOR(col("_bsim"))) <= maxDist)
      .select(col(idCol))
    val intraHits = SimHashBands.hammingPairs(sigs, idCol, maxDist)
      .select(col("doc_b").as(idCol))
    batch.join(broadcast(histHits.union(intraHits).distinct()), Seq(idCol), "left_anti")
  }

  /** Rows of `batch` with no committed SEMANTIC near-duplicate — cosine ≥
    * `tau` against any history vector sharing a probed IVF bucket — and no
    * smaller-id batch near-dup found under the SAME probe rule (candidate
    * probes its nprobe buckets, incumbent sits at its primary bucket):
    * streaming SemDeDup (Abbas et al. 2023, the q96 batch operator)
    * against all committed history.
    *
    * `history` must carry its IVF `bucket` from ingest (an 8-byte column;
    * [[semanticIngest]] persists it); the batch assigns itself and
    * probes its `nprobe` nearest buckets via the driver-sized centroid
    * table riding the closure. Scale shape: the history side is NEVER
    * shuffled — it streams through one broadcast-hash join against the
    * batch's probe rows; per-bucket all-pairs happens only INSIDE the
    * batch (SemDeDup's own bounded-cluster trade). Partition the history
    * table by `bucket` to turn the probe into partition pruning on top.
    *
    * Exact within its candidate set: cosine is the same IEEE left-fold
    * both engines run (VectorOps), so the q100 oracle replays the full
    * decision from persisted fixtures. */
  def semanticNoveltyFilter(batch: DataFrame, history: DataFrame,
      idCol: String, vecCol: String, centroids: Seq[Seq[Double]], tau: Double,
      nprobe: Int = 2): DataFrame = {
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    graft.functions.VectorOps.register(batch.sparkSession)
    import graft.functions.VectorOps.dotCol
    def emb(c: Column) = c.cast("array<double>")
    def cosine(a: Column, b: Column) =
      dotCol(a, b) / sqrt(dotCol(a, a) * dotCol(b, b))
    val dl = array(centroids.map(c => dotCol(emb(col(vecCol)), typedlit(c))): _*)
    val assigned = batch.withColumn("_dl", dl)
      .withColumn("_bucket", expr("array_position(_dl, array_max(_dl)) - 1"))
    // nprobe 1/2 keep their original closed forms (their exact tie
    // behavior is fixture-replayed by the q100 oracle); nprobe >= 3 ranks
    // all k buckets by (dot desc, index asc) and probes the top n — the
    // recall knob a SemDeDup deployment turns when drop-recall at 2
    // probes is not enough (RecallProbe measures the curve).
    val probed =
      if (nprobe == 1) assigned.withColumn("bucket", col("_bucket"))
      else if (nprobe == 2) assigned.withColumn("_b2", coalesce(
          expr("array_position(_dl, array_max(filter(_dl, x -> x != array_max(_dl)))) - 1"),
          col("_bucket")))
        .withColumn("bucket",
          explode(array_distinct(array(col("_bucket"), col("_b2")))))
      else assigned.withColumn("bucket", explode(expr(
        s"""transform(
           |  slice(
           |    array_sort(
           |      transform(_dl, (x, i) -> struct(x as d, i as i)),
           |      (a, b) -> case when a.d > b.d then -1
           |                     when a.d < b.d then 1
           |                     else a.i - b.i end),
           |    1, ${math.min(nprobe, centroids.size)}),
           |  s -> cast(s.i as bigint))""".stripMargin)))
    val q = probed.select(col(idCol).as("_qid"), emb(col(vecCol)).as("_qv"),
      col("bucket"))
    // no same-id exclusion on the history side: anything committed IS
    // history, including a batch row's own copy — that identity is what
    // makes a crash-replayed batch drop to empty (exactly-once raw
    // history), same as the exact and SimHash novelty filters
    val histHits = history.join(broadcast(q), Seq("bucket"))
      .where(cosine(emb(col(vecCol)), col("_qv")) >= tau)
      .select(col("_qid").as(idCol))
    // intra-batch check mirrors the history check's probe rule exactly:
    // the candidate (larger-id) side probes its nprobe nearest buckets,
    // the incumbent side sits at its PRIMARY (= stored-at-ingest) bucket —
    // so a batch pair is compared whenever the committed pair would be
    val a = assigned.select(col(idCol).as("_ia"), emb(col(vecCol)).as("_va"),
      col("_bucket").as("bucket"))
    val b = probed.select(col(idCol).as("_ib"), emb(col(vecCol)).as("_vb"),
      col("bucket"))
    val intraHits = a.join(b, Seq("bucket"))
      .where(col("_ia") < col("_ib") && cosine(col("_va"), col("_vb")) >= tau)
      .select(col("_ib").as(idCol))
    batch.join(broadcast(histHits.union(intraHits).distinct()), Seq(idCol), "left_anti")
  }

  /** Incremental SEMANTIC dedup ingest — the embedding-space member of the
    * sink family (exact [[dedupedIngest]], SimHash [[nearDupIngest]],
    * media [[mediaNearDupIngest]]): each micro-batch keeps only vectors
    * with no committed cosine-near-dup ([[semanticNoveltyFilter]]) and
    * commits survivors as one transaction WITH their IVF bucket, so every
    * future batch's candidate join reads history buckets instead of
    * re-assigning the corpus. The centroid table is trained offline
    * (IvfIndex.train) and rides the closure, k×dim doubles.
    *
    * Replay: a re-run batch meets its own committed vectors at cosine
    * exactly 1.0 ≥ tau (identical operands, identical fold), so every row
    * drops and no txn is claimed — raw history exactly-once. */
  def semanticIngest(stream: DataFrame, dir: String, idCol: String,
      vecCol: String, centroids: Seq[Seq[Double]], tau: Double,
      checkpoint: String, nprobe: Int = 2, compactEvery: Int = 0,
      maxBatchRows: Long = DefaultMaxBatchRows)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    requireColumns(dir, "bucket", vecCol)
    import graft.functions.VectorOps.dotCol
    ingestSink(stream, dir, checkpoint, col(idCol), compactEvery, maxBatchRows)(identity) {
      (slice, history) =>
        val fresh = semanticNoveltyFilter(slice, history, idCol, vecCol, centroids, tau, nprobe)
        val dl = array(centroids.map(c =>
          dotCol(col(vecCol).cast("array<double>"), typedlit(c))): _*)
        fresh.withColumn("_dl", dl)
          .withColumn("bucket", expr("array_position(_dl, array_max(_dl)) - 1"))
          .withColumn(vecCol, col(vecCol).cast("array<double>"))
          .drop("_dl")
    }
  }

  /** Surviving SIGNATURE rows of a media micro-batch: a document drops
    * when at least `minFrames` DISTINCT frames of it near-match — Hamming
    * ≤ `maxDist` on the 63-bit pHash — committed frames in `history`, or
    * frames of a smaller-id document in the same batch. Both inputs are
    * (doc_id, frame_idx, phash); an image is the 1-frame case (frame_idx
    * 0), so one gate covers images and videos.
    *
    * Join shape is [[nearDupFilter]]'s with a `bands`-way even split of
    * the 63 pHash bits ([[graft.operators.SimHashBands.splitW]]; 3 bands
    * = the Split63 default): the history side explodes to its band
    * rows (a per-row map, NO shuffle) and streams through a broadcast-hash
    * join against the batch's band rows; the Hamming check, the
    * distinct-frame count, and the doc-level anti join all operate on
    * batch-derived sides only. Frame keys pack (doc_id, frame_idx)
    * doc-major into one long (frame_idx < 2^20), so intra-batch pair
    * orientation `a < b` never splits a document pair.
    *
    * `bands` is the recall dial: the pigeonhole is exhaustive for maxDist
    * ≤ bands-1, and the RecallProbe jitter distribution centers near
    * Hamming 2.7 — 5 bands + maxDist 4 roughly doubles jitter recall over
    * the 3-band default at ~(bands/3)× the band rows and a shorter-band
    * candidate-collision increase the exact Hamming post-filter absorbs. */
  def mediaNearDupFilter(batchSigs: DataFrame, history: DataFrame,
      minFrames: Int = 1, maxDist: Int = graft.operators.SimHashBands.MaxHamming,
      bands: Int = 3): DataFrame = {
    import graft.operators.SimHashBands
    require(maxDist <= bands - 1,
      s"$bands-band split is exhaustive only up to Hamming ${bands - 1}")
    val widths = SimHashBands.splitW(63, bands)
    val sigs = batchSigs.select(
      (col("doc_id") * lit(1048576L) + col("frame_idx")).as("fid"),
      col("phash").as("simhash"))
    val bb = SimHashBands.bandsW(sigs, "fid", widths)
      .select(col("band"), col("band_val"), col("fid"), col("simhash").as("_bsim"))
    val hb = SimHashBands.bandsW(
      history.select(col("phash").as("_hid"), col("phash").as("simhash")),
      "_hid", widths)
    val histMatched = hb.join(broadcast(bb), Seq("band", "band_val"))
      .where(bit_count(col("simhash").bitwiseXOR(col("_bsim"))) <= maxDist)
      .select(col("fid"))
    val intraMatched = SimHashBands
      .hammingPairsW(sigs, "fid", maxDist, widths)
      .where(expr("doc_a div 1048576") =!= expr("doc_b div 1048576"))
      .select(col("doc_b").as("fid"))
    val dropDocs = histMatched.union(intraMatched).distinct()
      .groupBy(expr("fid div 1048576").as("doc_id"))
      .agg(countDistinct(col("fid")).as("_nf"))
      .where(col("_nf") >= minFrames)
      .select(col("doc_id"))
    batchSigs.join(broadcast(dropDocs), Seq("doc_id"), "left_anti")
  }

  /** Incremental near-dup ingest for IMAGE/VIDEO streams — the multimodal
    * sibling of [[nearDupIngest]]: each micro-batch of media rows
    * (doc_id, kind, media) is decoded and pHashed partition-parallel
    * ([[graft.multimodal.Multimodal.mediaPhashes]]: images one signature,
    * videos one per `stride`-sampled frame), gated by
    * [[mediaNearDupFilter]] against every committed signature, and the
    * surviving documents' signature rows commit as ONE transaction. Only
    * 24-byte signatures are ever persisted or joined — the media bytes
    * never leave the batch scan. Slices split on doc_id, so a document's
    * frames stay in one slice — minFrames counts distinct frames per doc
    * within the gate call.
    *
    * Replay: exactly-once raw history holds by DOC IDENTITY, not by the
    * near-dup gate alone — survivors are additionally anti-joined against
    * every committed `doc_id` ([[noveltyFilter]]'s shape: history streams
    * through a broadcast semi join, batch ids broadcast). The Hamming-0
    * argument covers docs with ≥ `minFrames` frames, but a replayed doc
    * with FEWER frames than `minFrames` (an image doc under minFrames=2)
    * matches too few committed frames to drop at the gate and would
    * re-commit duplicate signature rows; the identity guard is
    * minFrames-independent. It also makes re-sending a previously
    * committed doc_id a no-op, which is what "incremental ingest by id"
    * should mean.
    *
    * Compaction (`compactEvery > 0`) keeps one row per key, so it needs
    * `frame_idx` in the key: on a table keyed by `doc_id` alone it would
    * silently drop all but one frame of every video, and the sink refuses
    * it. `frame_idx` is cast to the table's column type (a dimension is a
    * long). */
  def mediaNearDupIngest(stream: DataFrame, dir: String, checkpoint: String,
      stride: Int = 1, minFrames: Int = 1,
      maxDist: Int = graft.operators.SimHashBands.MaxHamming, bands: Int = 3,
      compactEvery: Int = 0, maxBatchRows: Long = DefaultMaxBatchRows)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    requireColumns(dir, "doc_id", "frame_idx", "phash")
    val schema = Storage.readSchema(Storage.rootPath(dir))
    require(compactEvery <= 0 || schema.dimNames.contains("frame_idx"),
      s"compactEvery = $compactEvery on a media table keyed by " +
        s"(${schema.dimNames.mkString(", ")}) would keep one frame row per key; " +
        "key the table by (doc_id, frame_idx)")
    val frameType = schema.toStructType("frame_idx").dataType
    // the batch's SIGNATURES are what persists, not the media: slicing must
    // not re-decode the batch, and admission counts signature rows (what
    // broadcasts)
    ingestSink(stream, dir, checkpoint, col("doc_id"), compactEvery, maxBatchRows) { batch =>
      import batch.sparkSession.implicits._
      graft.multimodal.Multimodal.mediaPhashes(
        batch.select(col("doc_id"), col("kind"), col("media"))
          .as[graft.multimodal.Multimodal.MediaRow], stride)
        .withColumn("frame_idx", col("frame_idx").cast(frameType))
    } { (slice, history) =>
      val gated = mediaNearDupFilter(slice, history, minFrames, maxDist, bands)
      // exact doc-identity replay guard (independent of minFrames): a
      // doc_id ever committed never commits again, whatever its frame
      // count — history streams, only batch-derived ids broadcast
      val ids = gated.select(col("doc_id")).distinct()
      val committed = history.select(col("doc_id"))
        .join(broadcast(ids), Seq("doc_id"), "left_semi").distinct()
      gated.join(broadcast(committed), Seq("doc_id"), "left_anti")
    }
  }

  /** [[dedupedIngest]]'s near-dup sibling: each micro-batch keeps only
    * documents NOT within Hamming `maxDist` of any committed doc's SimHash
    * (nor of a smaller-id doc in the same batch) and commits the survivors
    * as one transaction. The signature is the [[graft.functions.Simhash56]]
    * codegen kernel over whitespace tokens (identical to the q48 battery
    * query), persisted in `simhash` so the history side of every future
    * batch is an 8-byte column scan.
    *
    * Replay: a re-run batch finds each of its docs within distance 0 of
    * its own committed copy, so every row drops and no txn is claimed —
    * raw history is exactly-once, same argument as the exact sink. */
  def nearDupIngest(stream: DataFrame, dir: String, textCol: String,
      idCol: String, checkpoint: String,
      maxDist: Int = graft.operators.SimHashBands.MaxHamming,
      compactEvery: Int = 0, maxBatchRows: Long = DefaultMaxBatchRows)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    requireColumns(dir, "simhash")
    ingestSink(stream, dir, checkpoint, col(idCol), compactEvery, maxBatchRows) { batch =>
      graft.functions.TextOps.register(batch.sparkSession) // idempotent
      batch.withColumn("simhash",
        graft.functions.TextOps.simhash56Col(split(lower(col(textCol)), "\\s+")))
        .where(col("simhash").isNotNull)
    } { (slice, history) => nearDupFilter(slice, history, idCol, maxDist) }
  }

  /** Shared driver-side pool for grouped view maintenance: a handful of
    * daemon threads is plenty (each just ORCHESTRATES Spark jobs — the
    * actual work runs on executors), and a bounded pool keeps a
    * many-view sink from flooding the scheduler. */
  private object MaintPool {
    lazy val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(
        java.util.concurrent.Executors.newFixedThreadPool(8,
          new java.util.concurrent.ThreadFactory {
            private val n = new java.util.concurrent.atomic.AtomicInteger(0)
            def newThread(r: Runnable): Thread = {
              val t = new Thread(r, s"graft-view-maint-${n.getAndIncrement()}")
              t.setDaemon(true); t
            }
          }))
  }
}
