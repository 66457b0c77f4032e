package graft.core

import java.nio.file.Path
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.{DataFrame, SparkSession}

/** A graft table: a directory of immutable parquet segments plus a schema
  * document — the reference's `Database` (database.rs:20-27) re-imagined as a
  * mini table format (structurally a proto-Delta; SURVEY.md §7.0).
  *
  * Concurrency model matches the reference: single writer process, txn ids
  * allocated in-process (database.rs:74-79). Readers are snapshot-isolated:
  * a transaction sees only segments with `txnId < horizon` taken at open
  * (database.rs:68-72, 85-89), which doubles as time travel via [[asOf]].
  *
  * Commits publish through the `_log` manifest ([[Protocol]]): object-store
  * safe, optimistic multi-writer, and [[overwrite]]/[[compact]] are a single
  * atomic swap. A directory committed by the reference's segment renames is
  * upgraded to manifest version 0 when opened.
  */
final class MatDb private (
    val spark: SparkSession,
    val root: Path,
    val schema: MatSchema,
    initialCommitted: Seq[SegmentId],
    firstTxnId: Long) {

  // Committed-segment set + next txn id; guarded by `this` (driver-side only).
  private var committed: Vector[SegmentId] = initialCommitted.toVector.sorted
  private val nextTxnId = new AtomicLong(firstTxnId)

  def committedSegments: Seq[SegmentId] = synchronized(committed)

  private[core] def allocateTxnId(): Long = nextTxnId.getAndIncrement()

  /** Publish a transaction's flushed segments (append). The protocol
    * returns the ACTUAL post-commit set (a concurrent writer's segments
    * merge in), which becomes this instance's view. */
  private[core] def commitTransaction(ids: Seq[SegmentId]): Unit = synchronized {
    committed = Protocol.commit(root, ids).toVector.sorted
  }

  /** Publish a transaction's flushed segments as the ENTIRE table — the
    * replace commit behind [[overwrite]] and [[compact]] ([[Protocol.replace]];
    * superseded directories stay until [[vacuum]]). `expectedBase` = the committed
    * set the replacement data was computed from (the replacing
    * transaction's snapshot). If anything committed since — in-process
    * (checked under this lock) or cross-process (checked against the
    * on-disk manifest by the protocol) — the replace ABORTS with
    * `ConcurrentModificationException` rather than silently dropping the
    * interleaved transaction; the caller re-derives and retries. */
  private[core] def commitReplace(ids: Seq[SegmentId], expectedBase: Seq[SegmentId],
      prodTxn: Long): Unit = synchronized {
    if (committed != expectedBase.toVector.sorted)
      throw new java.util.ConcurrentModificationException(
        "table changed since the replace commit's snapshot (overwrite/compact); retry")
    committed = Protocol.replace(root, ids, ids.sorted, expectedBase, prodTxn)
      .toVector.sorted
  }

  // Segments flushed by THIS process's open transactions but not yet
  // committed — vacuum must never sweep them (they already sit at their
  // final names).
  private var inFlight: Set[SegmentId] = Set.empty
  private[core] def registerInFlight(id: SegmentId): Unit =
    synchronized { inFlight += id }
  private[core] def resolveInFlight(ids: Seq[SegmentId]): Unit =
    synchronized { inFlight --= ids }

  /** Physically delete segment directories that are no longer referenced
    * (superseded by compact/overwrite, or left by crashed transactions,
    * including the segment-0-less txns of an upgraded rename-committed
    * directory). This process's in-flight transactions are excluded;
    * do NOT run vacuum while OTHER processes may be writing this table,
    * and only when no in-flight snapshot may still be reading pre-replace
    * files. Returns the number of directories removed. */
  def vacuum(): Int = synchronized {
    val swept = Protocol.sweepUnreferenced(root, committed ++ inFlight)
    // with the superseded directories gone, manifest versions referencing
    // them can serve no read — drop them so table metadata stays O(live
    // history), not O(commits ever) (Protocol.pruneManifestHistory)
    Protocol.pruneManifestHistory(root)
    swept
  }

  /** Open a new snapshot-isolated transaction. Horizon = all txns committed
    * so far (reference: database.rs:68-72). */
  def newTransaction(): Transaction = synchronized {
    new Transaction(this, committed, nextTxnId.get())
  }

  /** Highest transaction id this table has ever committed (on-disk read —
    * pair with [[refresh]] for a fresh observation of a table other
    * processes write). */
  def txnWatermark: Long = Protocol.txnWatermark(root)

  /** Open a transaction whose id is PINNED to `id` instead of allocated.
    *
    * The deterministic-commit primitive: streaming view maintenance pins
    * each maintenance commit to the BASE range's end txn, so (a) a replayed
    * range is detectable by one watermark read — committed-or-not, never
    * half — and (b) `view.asOf(baseTxn)` is the view aligned to the base's
    * own transaction clock. Caller contract: single writer, ids presented
    * in increasing order (`id` must be above the current watermark), and
    * any crashed prior attempt's orphan segments cleared first
    * ([[discardOrphanTxn]]) or flush aborts on the claimed directory. */
  def newPinnedTransaction(id: Long): Transaction = synchronized {
    require(id > Protocol.txnWatermark(root),
      s"pinned txn id $id is not above the table's watermark — already committed")
    // raise the allocator floor past the pin so later UNPINNED allocations
    // stay unique and monotone
    var cur = nextTxnId.get()
    while (cur <= id && !nextTxnId.compareAndSet(cur, id + 1L)) cur = nextTxnId.get()
    new Transaction(this, committed, nextTxnId.get(), Some(id))
  }

  /** Delete UNCOMMITTED on-disk segments of txn `tid` — a crashed
    * deterministic writer's leftovers — so a pinned re-run can reclaim the
    * id (flush atomically claims segment directories and aborts if one is
    * taken). Caller must [[refresh]] first and hold the single-writer
    * contract: `tid` must not be committed. */
  private[graft] def discardOrphanTxn(tid: Long): Unit = synchronized {
    require(!committed.exists(_.txnId == tid),
      s"txn $tid is committed — refusing to discard its segments")
    var sn = 0
    while (java.nio.file.Files.exists(Storage.segmentPath(root, SegmentId(tid, sn)))) {
      Protocol.discardInFlight(root, SegmentId(tid, sn))
      sn += 1
    }
  }

  /** Re-pin this handle's committed-segment snapshot to the table's CURRENT
    * on-disk state — the read-only listing, NO recovery sweep (safe while
    * other processes are mid-write, unlike a fresh [[MatDb.open]], which
    * also re-reads the schema and grace-sweeps orphans). A long-lived
    * handle chasing other writers' commits (streaming view maintenance —
    * [[graft.streaming.Streams.viewMaintSink]]) refreshes once per batch:
    * one manifest read under the `_last` pointer, O(1). The txn-id floor
    * advances past everything observed so later allocations stay unique. */
  def refresh(): Unit = synchronized {
    committed = Protocol.listCommitted(root).toVector.sorted
    val floor = Protocol.txnWatermark(root) + 1L
    var cur = nextTxnId.get()
    while (cur < floor && !nextTxnId.compareAndSet(cur, floor)) cur = nextTxnId.get()
  }

  private[core] def segmentReadPaths(segments: Seq[SegmentId]): Seq[String] =
    segments.map(s => Storage.segmentPath(root, s).toString)

  /** Read-only snapshot of the table: newest version of each key point, in
    * no particular order (add `.orderBy` for the reference's key-ordered
    * scan). `asOfTxn` gives time travel: only segments with txnId <= asOfTxn.
    * `pred` (optional) is applied BELOW the version-resolution aggregate —
    * only sound for dimension/chunk predicates (see [[Scan.resolve]]); it is
    * what lets partition pruning + parquet pushdown skip IO before dedup. */
  def snapshot(asOfTxn: Option[Long] = None,
      pred: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    val segs = visibleAt(asOfTxn)
    // READ-OPTIMIZED fast path: a visible set that is exactly ONE
    // checkpoint/optimize baseline (Storage.UniqueFile invariant: one live
    // row per key, no tombstones) needs no MVCC resolution — the scan is a
    // plain parquet read, zero exchanges, and value predicates push into
    // the files because post-resolve == pre-resolve when every key has one
    // version. Any later commit makes the set larger and falls back to the
    // full resolve automatically. Two marked segments of DIFFERENT txns can
    // overlap keys, so the fast path requires exactly one.
    val unique = segs.map(_.txnId).distinct.size == 1 &&
      segs.forall(s => Storage.isUnique(Storage.segmentPath(root, s)))
    val df =
      if (unique && segs.nonEmpty) {
        val raw = Scan.raw(spark, schema, segmentReadPaths(segs), extra = Nil)
        val live = pred.fold(raw)(raw.filter)
        live.select((schema.dimNames ++ schema.valueNames)
          .map(org.apache.spark.sql.functions.col): _*)
      } else Scan.resolve(spark, schema, segmentReadPaths(segs), extra = Nil, pred)
    // predicate-free snapshots of a table with declared materialized views
    // register with the MV auto-rewrite rule: an Aggregate whose child
    // canonicalizes equal to this plan may be answered from a maintained
    // view ([[graft.plans.MvRewriteRule]]). Time-travel snapshots register
    // too, keyed by their own state txn — maintenance commits are PINNED
    // to base txn ids, so a view version aligned exactly at that txn is as
    // sound as the current-state case (`VERSION AS OF` dashboards rewrite;
    // the rule's per-query alignment witness decides, a missing aligned
    // version just falls through to the base). Predicate-pushed snapshots
    // never register (the view holds aggregates, not base rows).
    if (pred.isEmpty) {
      val mv = materializedViews
      if (mv.nonEmpty)
        graft.plans.MvRegistry.register(
          df.queryExecution.analyzed.canonicalized,
          graft.plans.MvRegistry.Entry(root.toAbsolutePath.toString,
            segs.map(_.txnId).foldLeft(0L)(math.max), mv))
    }
    df
  }

  /** Segment set visible at `asOfTxn`. Time travel resolves through the
    * protocol ([[Protocol.listCommittedAsOf]]) so that states replaced
    * away by overwrite/truncate/compact stay
    * readable from their ORIGINAL manifest version until vacuumed; the
    * current snapshot stays on the in-memory committed set (no listing). */
  private def visibleAt(asOfTxn: Option[Long]): Seq[SegmentId] = asOfTxn match {
    case None    => synchronized(committed)
    case Some(t) => Protocol.listCommittedAsOf(root, t)
  }

  def asOf(txnId: Long): DataFrame = snapshot(Some(txnId))

  /** True iff the state visible AS OF `txn` ends in a commit pinned EXACTLY
    * at `txn` — i.e. this table has a version whose producing transaction
    * is `txn` itself, still resolvable from history. For a maintained view
    * (whose maintenance commits are pinned to base txn ids) this is the
    * alignment witness [[graft.plans.MvRewriteRule]] uses to serve
    * `VERSION AS OF` rewrites: `view.asOf(t)` equals the aggregate of
    * `base.asOf(t)` precisely when such a pinned commit exists. History
    * checkpointed or vacuumed below `txn` resolves through the fallback's
    * filtered set, whose max txn then differs — the witness fails closed
    * (metadata-only: one manifest-lineage read, no data IO). */
  def hasCommitExactlyAt(txn: Long): Boolean =
    txn > 0L &&
      Protocol.listCommittedAsOf(root, txn).map(_.txnId).foldLeft(0L)(math.max) == txn

  /** Total on-disk bytes of the segments visible at `asOfTxn` (driver-side
    * listing, no data IO). [[graft.sources.GraftRelation]] reports this as
    * `sizeInBytes`, so Catalyst's join planning sees real table sizes —
    * without it a small graft dimension table inherits
    * `spark.sql.defaultSizeInBytes` (effectively infinite) and is NEVER
    * auto-broadcast, forcing a sort-merge shuffle of the big side that AQE
    * can only partially claw back at runtime. Raw parquet bytes
    * (compressed, pre-dedup) are the same basis Spark's own file sources
    * report, and an over-estimate of the post-resolve size — the safe
    * direction for broadcast decisions. */
  def visibleBytes(asOfTxn: Option[Long] = None): Long = {
    val visible = visibleAt(asOfTxn)
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(walk).sum
      else f.length()
    val bytes = segmentReadPaths(visible).map(p => walk(new java.io.File(p))).sum
    // a NON-EMPTY visible set whose walk found zero bytes means the listing
    // raced a vacuum (or the store is not walkable) — report "unknown" (-1)
    // so the caller falls back to defaultSizeInBytes rather than advertising
    // a huge table as broadcastable (driver-OOM direction)
    if (visible.nonEmpty && bytes == 0L) -1L else bytes
  }

  /** `TIMESTAMP AS OF`: the snapshot of the newest transaction whose
    * commit wall-clock is <= `tsMillis` (timestamps made monotone by txn
    * order — see [[Storage.commitTimestamps]]). A timestamp before the
    * first commit yields the empty table, same as `asOf(0)`. */
  def asOfTimestamp(tsMillis: Long): DataFrame =
    asOf(resolveTimestamp(tsMillis).getOrElse(0L))

  /** Newest committed txn id with commit wall-clock <= `tsMillis`. Resolved
    * over the manifest LINEAGE (directories still on disk) so timestamps
    * below a replace commit keep resolving until vacuum. */
  def resolveTimestamp(tsMillis: Long): Option[Long] =
    Storage.commitTimestamps(root, historySegments)
      .filter(_._2 <= tsMillis).lastOption.map(_._1)

  private def historySegments: Seq[SegmentId] =
    Storage.historySegments(root, synchronized(committed))

  /** Key-ordered full scan — the reference's one query operator
    * (scan.rs:183-238): newest version per key, ordered by dimensions.
    *
    * One shuffle, not two: `snapshot().orderBy(dims)` would hash-exchange
    * for the MVCC dedup aggregate and then range-exchange again for the
    * global sort — the whole table moved twice. Range partitioning on the
    * dimensions ALSO clusters equal keys (every version of a key lands in
    * one partition), so a single `repartitionByRange(dims)` below feeds
    * the dedup aggregate in place AND satisfies the final sort's ordered
    * distribution partition-locally. PlanSpec pins the single-Exchange
    * shape. At 100 TB this halves the engine's flagship-operator shuffle. */
  def orderedScan(asOfTxn: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.col
    val dims = schema.dimNames.map(col)
    val base = Scan.raw(spark, schema, segmentReadPaths(visibleAt(asOfTxn)), extra = Nil)
    Scan.dedup(base.repartitionByRange(dims: _*), schema).orderBy(dims: _*)
  }

  /** CDC read side (the inverse of
    * [[graft.streaming.Streams.cdcApplySink]]): the NET row-level change
    * between two committed horizons as (op, dims..., values...) — `"I"`
    * key absent at `fromTxn`, present at `toTxn`; `"U"` present at both
    * with any value changed (null-safe compare); `"D"` present at `from`,
    * absent (tombstoned) at `to`. Values are the `toTxn` row; `"D"` rows
    * carry nulls. Keys rewritten to an identical value emit nothing — the
    * feed is the minimal delta, so applying it to a replica of the
    * `fromTxn` snapshot (upserts + deletes — exactly what `cdcApplySink`
    * consumes) reproduces the `toTxn` snapshot (ChangesSpec round-trips
    * it).
    *
    * Scale shape: only keys TOUCHED by transactions in `(from, to]` can
    * appear, so both snapshot reads are semi-joined down to the touched
    * key set before the resolve aggregate — the historical table streams
    * through one join against the (typically small, broadcastable) touched
    * keys; nothing else is resolved, and the final diff joins two
    * touched-sized sides. Cost is O(versions of touched keys), not
    * O(table), plus the unavoidable scan-side pruning Spark applies. */
  def changesBetween(fromTxn: Long, toTxn: Long): DataFrame =
    changesBetween(fromTxn, toTxn, includeOld = false)

  /** As [[changesBetween]]; with `includeOld = true` every row also carries
    * the PRE-image value columns as `_old_<name>` (null for I rows, the
    * replaced values for U, the deleted values for D) — what an
    * incremental consumer needs to RETRACT the old contribution before
    * applying the new one ([[graft.operators.IncrementalAgg]]). Dimensions
    * need no pre-image: they are the key, identical on both sides.
    *
    * REPLACE-kind commits (TRUNCATE / INSERT OVERWRITE / [[compact]]) in
    * `(fromTxn, toTxn]` break the touched-keys formulation: the keys they
    * wiped exist in NO range segment (a truncate is segment-less, an
    * overwrite's removals are manifest-shaped), so the O(delta) path would
    * silently emit no D rows for them and a replica would diverge. This is
    * handled soundly: a metadata walk detects
    * any replace above `fromTxn` (a checkpoint fold whose recorded boundary
    * is <= `fromTxn` is exonerated — it reshaped only state the range never
    * reads); both horizons then resolve EXACTLY through the manifest
    * lineage (replaced-away segments stay readable until vacuum) and the
    * delta comes from a full two-snapshot diff — O(state), the unavoidable
    * price of a replace in range. If the pre-replace state was already
    * vacuumed/pruned, this REFUSES with `IllegalStateException` rather than
    * answer wrong — rebuild the consumer from a full snapshot. History
    * below an upgraded directory's version 0 is the append-only legacy
    * listing, which that version records as exactly resolvable. */
  def changesBetween(fromTxn: Long, toTxn: Long, includeOld: Boolean): DataFrame = {
    import org.apache.spark.sql.functions._
    require(fromTxn <= toTxn, s"changesBetween: from $fromTxn > to $toTxn")
    val dims = schema.dimNames
    val safe = Protocol.commitsAfter(root, fromTxn) match {
      case Some(metas) =>
        metas.forall(m => !m.isReplace || m.foldTxn.exists(_ <= fromTxn))
      case None => false // metadata holes / manifests predating commit metadata
    }
    val segs: Seq[SegmentId] =
      if (safe) synchronized(committed)
      else {
        def strict(t: Long, side: String): Seq[SegmentId] =
          Protocol.listCommittedAsOfStrict(root, t).getOrElse(
            throw new IllegalStateException(
              s"changesBetween($fromTxn, $toTxn): a replace-kind commit " +
                "(TRUNCATE / INSERT OVERWRITE / compact) landed after txn " +
                s"$fromTxn and the $side state at txn $t is no longer " +
                "exactly reconstructible (history vacuumed or pruned) — " +
                "the delta would be incomplete; rebuild the consumer " +
                "from a full snapshot instead"))
        val fromSet = strict(fromTxn, "old")
        val toSet = strict(toTxn, "new")
        // replaces only ABOVE toTxn leave the range itself append-only
        // (fromSet survives into toSet verbatim): the O(delta) path still
        // applies, just over the lineage-resolved sets
        if (fromSet.forall(toSet.contains)) toSet
        else return replaceRangeDiff(fromSet, toSet, includeOld)
      }
    // no .distinct(): the only consumer is the left-semi join below, whose
    // hash build dedups keys inherently — the distinct added a two-phase
    // HashAggregate + Exchange per CDC call for nothing. Duplicate factor
    // of the raw key set is bounded by versions-per-key within the range
    // (the batch's own rewrites), so the undeduped side stays O(delta).
    val touched = Scan.raw(spark, schema,
        segmentReadPaths(segs.filter(s => s.txnId > fromTxn && s.txnId <= toTxn)), Nil)
      .select(dims.map(col): _*)
    // SINGLE-PASS delta: one scan of the touched keys' history (≤ toTxn)
    // and ONE aggregate resolving BOTH states — the new winner over all
    // versions and the old winner over versions ≤ fromTxn (its max_by
    // ordering key is null above the horizon, so absent-before keys
    // resolve to null buffers, which doubles as the presence bit). The
    // previous shape ran two restricted resolves + a full-outer join:
    // touched history was READ twice and shuffled three times; this reads
    // it once and shuffles once — at 100 TB the delta's read
    // amplification halves, and per micro-batch it is ~3 fewer stages of
    // fixed latency. All buffers stay primitive (per-column max_by, like
    // Scan.dedup), so the aggregate remains a HashAggregate.
    val all = Scan.raw(spark, schema,
        segmentReadPaths(segs.filter(_.txnId <= toTxn)), Nil)
      .join(touched, dims, "left_semi")
    val ver = Scan.version(col(Scan.TxnCol), col(Scan.SeqCol)).as("_ver")
    val withVer = all.withColumn("_ver", ver)
      .withColumn("_over", when(col(Scan.TxnCol) <= fromTxn, col("_ver")))
    val delRow = coalesce(col(Scan.DelCol), lit(false))
    val aggs =
      schema.valueNames.map(v => max_by(col(v), col("_ver")).as(v)) ++
        schema.valueNames.map(v => max_by(col(v), col("_over")).as(s"_o_$v")) ++
        Seq(max_by(delRow, col("_ver")).as("_dn"),
          max_by(delRow, col("_over")).as("_do"))
    val grouped = withVer.groupBy(dims.map(col): _*).agg(aggs.head, aggs.tail: _*)
    // liveness: a key is present in a state iff it has a version there AND
    // the winning version is not a tombstone. The new side always has a
    // version (touched keys come from the range's own segments); the old
    // side's _do is null exactly when no version ≤ fromTxn exists.
    val oldLive = col("_do").isNotNull && !col("_do")
    val newLive = !col("_dn")
    val anyDiff = schema.valueNames
      .map(v => !(col(v) <=> col(s"_o_$v")))
      .reduceOption(_ || _).getOrElse(lit(false))
    val op = when(!oldLive && newLive, "I")
      .when(oldLive && !newLive, "D")
      .when(oldLive && newLive && anyDiff, "U")
    // D rows carry null value columns (the winner is the tombstone) and
    // their pre-image in _old_*, exactly as the join formulation did
    val outCols = (col("op") +: (dims ++ schema.valueNames).map(col)) ++
      (if (includeOld)
        schema.valueNames.map(v =>
          when(oldLive, col(s"_o_$v")).as(s"_old_$v"))
      else Nil)
    grouped.withColumn("op", op)
      .where(col("op").isNotNull)
      .select(outCols: _*)
  }

  // the one driver-side delta this handle keeps ([[collectedChanges]]):
  // (fromTxn, toTxn, schema, rows); the lock serializes its computation
  private val deltaLock = new Object
  @volatile private var lastDelta: Option[(Long, Long, org.apache.spark.sql.types.StructType,
    java.util.List[org.apache.spark.sql.Row])] = None

  /** The `includeOld` [[changesBetween]] delta of `(fromTxn, toTxn]`, collected
    * to the driver once and handed out as a frame over a `LocalRelation` —
    * the input of the driver-scale view folds
    * ([[graft.operators.IncrementalAgg]]). `delta` is that range's
    * `changesBetween(fromTxn, toTxn, includeOld = true)` frame; it is
    * evaluated (one collect, planned inside [[FastPlan.scoped]]) only when
    * the handle does not already hold the range. The delta between two
    * committed states never changes, so the handle keeps the most recent
    * range (one entry): the second view folded for the same batch runs no
    * delta job, and concurrent folds of one batch compute it once. The
    * caller gates on size: the rows live in driver memory. */
  private[graft] def collectedChanges(fromTxn: Long, toTxn: Long,
      delta: => DataFrame): DataFrame = {
    val (schema, rows) = deltaLock.synchronized {
      lastDelta match {
        case Some((`fromTxn`, `toTxn`, s, rs)) => (s, rs)
        case _ =>
          val d = delta
          val rs = FastPlan.scoped(spark, small = true)(d.collect())
          val entry = (d.schema, java.util.Arrays.asList(rs: _*))
          lastDelta = Some((fromTxn, toTxn, entry._1, entry._2))
          entry
      }
    }
    spark.createDataFrame(rows, schema)
  }

  /** The replace-in-range CDC fallback: full-outer diff of the two exactly
    * resolved snapshots. O(old state + new state) — the unavoidable price
    * of a replace inside the range (its wiped keys exist in NO range
    * segment, so only a state comparison can find them); everywhere else
    * [[changesBetween]] stays O(touched keys). Emits the same minimal
    * I/U/D contract: unchanged keys (null-safe value compare) emit
    * nothing, D rows carry null values (and the deleted pre-image under
    * `includeOld`). */
  private def replaceRangeDiff(fromSet: Seq[SegmentId], toSet: Seq[SegmentId],
      includeOld: Boolean): DataFrame = {
    import org.apache.spark.sql.functions._
    val dims = schema.dimNames
    val oldSnap = Scan.resolve(spark, schema, segmentReadPaths(fromSet), Nil, None)
      .select(dims.map(col) ++
        schema.valueNames.map(v => col(v).as(s"_o_$v")) :+
        lit(true).as("_ol"): _*)
    val newSnap = Scan.resolve(spark, schema, segmentReadPaths(toSet), Nil, None)
      .select(dims.map(col) ++ schema.valueNames.map(col) :+
        lit(true).as("_nl"): _*)
    val joined = oldSnap.join(newSnap, dims, "full_outer")
    val oldLive = col("_ol").isNotNull
    val newLive = col("_nl").isNotNull
    val anyDiff = schema.valueNames.map(v => !(col(v) <=> col(s"_o_$v")))
      .reduceOption(_ || _).getOrElse(lit(false))
    val op = when(!oldLive && newLive, "I")
      .when(oldLive && !newLive, "D")
      .when(oldLive && newLive && anyDiff, "U")
    val outCols = (col("op") +: (dims ++ schema.valueNames).map(col)) ++
      (if (includeOld)
        schema.valueNames.map(v => when(oldLive, col(s"_o_$v")).as(s"_old_$v"))
      else Nil)
    joined.withColumn("op", op)
      .where(col("op").isNotNull)
      .select(outCols: _*)
  }

  /** Commit history of this table: one row per committed segment with its
    * transaction id, segment number, path, and commit wall-clock — the
    * discovery API for time travel (`asOf(txn_id)` /
    * `asOfTimestamp(millis)`). Driver-side metadata, like the listing. */
  def history(): DataFrame = {
    import spark.implicits._
    val segs = historySegments
    val ts = Storage.commitTimestamps(root, segs).toMap
    segs
      .map(s => (s.txnId, s.segNum, Storage.segmentPath(root, s).toString,
        new java.sql.Timestamp(ts(s.txnId))))
      .toDF("txn_id", "seg_num", "path", "commit_ts")
  }

  /** `ANALYZE TABLE ... COMPUTE STATISTICS`: compute RESOLVED-snapshot
    * statistics — post-MVCC row count, estimated logical size, per-
    * dimension min/max — and persist them as `graft.stats.*` table
    * properties, stamped with the txn watermark they describe.
    *
    * Why this matters at 100 TB: raw on-disk bytes (what `sizeInBytes`
    * reports without stats) count EVERY VERSION of every key — a
    * hot-update dimension table with 20 versions per key looks 20× its
    * resolved size, so Catalyst refuses to broadcast it and the fact side
    * eats a sort-merge shuffle. The analyzed row count prices the
    * post-resolve relation instead ([[graft.sources.GraftRelation]] uses
    * it while the watermark still matches; any later commit invalidates —
    * stale statistics must never UNDER-estimate a grown table into a
    * driver-OOM broadcast). One resolve + one tiny aggregate; run it like
    * any other maintenance (`CALL <cat>.system.analyze('t')`). Returns
    * (rowCount, sizeBytes). */
  def analyze(): (Long, Long) = {
    import org.apache.spark.sql.functions.{approx_count_distinct, coalesce, col, count, lit, max, min, octet_length, size => asize, sum}
    import org.apache.spark.sql.types.{ArrayType, BinaryType, StringType}
    // watermark BEFORE the refresh, refresh BEFORE the snapshot: the
    // refreshed committed set then covers every commit the stamp claims
    // (this handle may have been opened long ago — without the refresh a
    // commit between open and the watermark read would be stamped as
    // covered without its rows being counted, the exact under-estimate /
    // mis-broadcast direction the stamp exists to prevent). A commit
    // landing AFTER the watermark read is caught by the re-check below
    // (watermark is monotone, so end-equality proves nothing landed in
    // between) and the persist is skipped.
    val watermark = Protocol.txnWatermark(root)
    refresh()
    val snap = snapshot()
    // actual logical size, not n * defaultSize: StructType.defaultSize
    // prices every string at 20 bytes, so a document-text table would be
    // under-priced by orders of magnitude and auto-broadcast itself.
    // Variable-width columns (string/binary/array) are measured in the
    // same aggregate; fixed-width columns cost n * their width.
    val struct = schema.toStructType
    val (varCols, fixedCols) = struct.fields.partition(f => f.dataType match {
      case StringType | BinaryType | _: ArrayType => true
      case _ => false
    })
    val fixedRowBytes = fixedCols.map(_.dataType.defaultSize.toLong).sum
    val varAggs = varCols.toSeq.map { f =>
      val measured = f.dataType match {
        case _: ArrayType =>
          // element payload; defaultSize of the element prices fixed-width
          // elements exactly and nested variable-width conservatively
          asize(col(f.name)).cast("long") *
            lit(f.dataType.asInstanceOf[ArrayType].elementType.defaultSize.toLong)
        case _ => octet_length(col(f.name)).cast("long")
      }
      sum(coalesce(measured, lit(0L))).as(s"_sz_${f.name}")
    }
    val aggs = (count(lit(1)).as("_n") +:
      schema.dimNames.flatMap(d => Seq(min(col(d)).as(s"_min_$d"),
        max(col(d)).as(s"_max_$d"),
        approx_count_distinct(col(d)).as(s"_ndv_$d")))) ++ varAggs
    val row = snap.agg(aggs.head, aggs.tail: _*).collect()(0)
    val n = row.getLong(0)
    val varBase = 1 + 3 * schema.dimNames.size
    val varBytes = varCols.indices.map(i =>
      if (row.isNullAt(varBase + i)) 0L else row.getLong(varBase + i)).sum
    val bytes = n * fixedRowBytes + varBytes
    val dimStats = schema.dimNames.zipWithIndex.flatMap { case (d, i) =>
      if (row.isNullAt(1 + 3 * i)) Nil // empty table: no min/max/ndv
      else Seq(s"graft.stats.dim.$d.min" -> row.getLong(1 + 3 * i).toString,
        s"graft.stats.dim.$d.max" -> row.getLong(2 + 3 * i).toString,
        s"graft.stats.dim.$d.ndv" -> row.getLong(3 + 3 * i).toString)
    }
    // re-read after the aggregate: any commit that landed mid-aggregate
    // makes these numbers unverifiable — skip the persist (the next
    // ANALYZE recomputes) instead of stamping stale stats as fresh
    if (Protocol.txnWatermark(root) == watermark)
      Storage.writeProps(root, Storage.readProps(root) ++ dimStats ++ Map(
        "graft.stats.rowcount" -> n.toString,
        "graft.stats.bytes" -> bytes.toString,
        "graft.stats.txn" -> watermark.toString))
    (n, bytes)
  }

  /** Analyzed resolved size (`graft.stats.bytes`) if statistics exist AND
    * still describe the current watermark; None otherwise (caller falls
    * back to raw on-disk bytes — the safe over-estimate). */
  private[graft] def analyzedSizeBytes: Option[Long] = {
    val props = Storage.readProps(root)
    for {
      txn <- props.get("graft.stats.txn")
      if txn.toLong == Protocol.txnWatermark(root)
      bytes <- props.get("graft.stats.bytes")
    } yield bytes.toLong
  }

  /** Expose the resolved snapshot to Spark SQL as a temp view — the §7.1
    * "sql" module: the entire SQL surface (joins, windows, CTEs, …) then
    * applies to graft tables for free. */
  def registerView(name: String, asOfTxn: Option[Long] = None): Unit =
    snapshot(asOfTxn).createOrReplaceTempView(name)

  // ---- materialized-view auto-rewrite declarations -----------------------
  //
  // `graft.mviews` (table property, tab-separated roots) lists tables that
  // are incrementally-maintained aggregate views OF THIS TABLE
  // ([[graft.operators.IncrementalAgg.maintainAbsoluteMulti]] — the pinned,
  // stamped maintenance mode; `maintain` is unpinned and never qualifies).
  // Declaring them lets [[graft.plans.MvRewriteRule]] answer matching
  // GROUP BY queries from the view instead of the base — O(groups) read
  // instead of O(base). The declaration alone changes nothing: the rule
  // re-verifies per query that the view's maintenance stamp matches this
  // table's snapshot txn exactly, so a stale/foreign declaration only
  // costs the missed rewrite.

  private val MviewsProp = "graft.mviews"

  /** Declare `viewPath` (a table maintained by `maintainAbsoluteMulti` /
    * `viewMaintSink`) as a materialized view of this table. Idempotent. */
  def registerMaterializedView(viewPath: String): Unit = {
    val p = Storage.rootPath(viewPath).toAbsolutePath.toString
    val cur = materializedViews
    if (!cur.contains(p))
      Storage.writeProps(root,
        Storage.readProps(root) + (MviewsProp -> (cur :+ p).mkString("\t")))
  }

  /** Remove a materialized-view declaration (and its cached rewrite
    * registrations). */
  def unregisterMaterializedView(viewPath: String): Unit = {
    val p = Storage.rootPath(viewPath).toAbsolutePath.toString
    val rest = materializedViews.filterNot(_ == p)
    val props = Storage.readProps(root)
    Storage.writeProps(root,
      if (rest.isEmpty) props - MviewsProp
      else props + (MviewsProp -> rest.mkString("\t")))
    graft.plans.MvRegistry.dropRoot(root.toAbsolutePath.toString)
    graft.plans.MvRegistry.dropViewHandle(p)
  }

  /** Declared materialized-view roots (absolute paths). */
  def materializedViews: Seq[String] =
    Storage.readProps(root).get(MviewsProp).toSeq
      .flatMap(_.split('\t')).filter(_.nonEmpty)

  /** Replace the table's contents with `df` in one transaction — the
    * SaveMode.Overwrite semantics: keys absent from `df` are GONE afterward
    * (not upserted around). An empty `df` still commits (truncating the
    * table). Returns the replace transaction's id. Aborts with
    * `ConcurrentModificationException` if another transaction commits
    * concurrently (see [[Transaction.commitReplacing]]). */
  def overwrite(df: DataFrame): Long = {
    val txn = newTransaction()
    txn.addRows(df)
    txn.commitReplacing()
    txn.id.getOrElse(-1L)
  }

  /** Compact the table: rewrite the resolved snapshot as one new
    * transaction that REPLACES the old segment set in one atomic swap; the
    * superseded directories stay readable for time travel until [[vacuum]].
    * Counterpart of Delta's OPTIMIZE+VACUUM; the reference accumulates
    * segments forever. Caveat (documented): time travel to transactions
    * older than the compaction is gone.
    *
    * Returns the compaction transaction id. Aborts with
    * `ConcurrentModificationException` if a commit lands concurrently. */
  def compact(): Long = {
    // a MAINTAINED VIEW's txn clock is pinned to its base's txn ids
    // (IncrementalAgg.maintainAbsoluteMulti): compact() self-allocates
    // watermark+1 — exactly lastMaintainedBaseTxn+1 — which would both
    // corrupt the pinned-id maintenance protocol (the next genuine
    // maintenance commit's pin collides) and FORGE the MV-rewrite
    // alignment witness at the base's next txn. Use checkpoint()/optimize()
    // for file maintenance on a view: their baseline reuses the folded
    // horizon's own txn id, which stays a true alignment point.
    require(!Storage.readProps(root).contains("graft.mview.base"),
      "compact() on a maintained view would hijack its pinned txn clock " +
        "(graft.mview.base stamp present); use optimize()/checkpoint() instead")
    val txn = newTransaction()
    // read through the TXN's snapshot (visible-at-open), not a fresh
    // db.snapshot(): the replace supersedes exactly what the txn saw, which
    // is also the expectedBase its commit is conflict-checked against
    txn.addRows(txn.query())
    txn.commitReplacing()
    clearPurgedTombstones()
    txn.id.getOrElse(-1L)
  }

  /** Checkpoint compaction WITH time-travel retention: fold every segment
    * of transactions `<= horizon` into ONE baseline segment set, leaving
    * newer transactions untouched — the middle ground between the
    * reference's accumulate-forever and [[compact]]'s flatten-everything.
    * Afterward the current snapshot and `asOf(t)` for every `t >= horizon`
    * are IDENTICAL (CheckpointSpec pins it); time travel below the horizon
    * is gone (that history is what was reclaimed).
    *
    * Why it composes with MVCC "newest wins": the baseline is the resolved
    * LIVE state at the horizon, written under the horizon's own max txn id
    * (with a fresh segment number and `_seq` saturated), so every retained
    * transaction still outranks it and every tombstone or upsert above the
    * horizon keeps meaning exactly what it meant. Tombstones at or below
    * the horizon have finished their work (their keys are simply absent
    * from the baseline) and are physically discarded.
    *
    * Atomicity: the same replace publish as [[compact]] —
    * `visibleAfter = baseline ++ retained`, conflict-checked against the
    * snapshot. Concurrency: a checkpoint NEVER conflicts with concurrent
    * APPENDS — their txn ids are above the horizon, so they land in the
    * retained class the fold never read, and the publish simply REBASES
    * onto them (re-list, verify the folded prefix intact, retry the O(1)
    * CAS — the fold's write is never redone). Only a concurrent REPLACE
    * (overwrite/truncate/another fold) aborts with
    * `ConcurrentModificationException` — its output superseded the
    * baseline. Returns the baseline's txn id, or -1 if nothing is old
    * enough to fold. Scale shape: one resolve (the flagship aggregate)
    * over the folded prefix + one chunk-partitioned write; retained
    * segments are not read at all. */
  def checkpoint(horizon: Long): Long = checkpoint(horizon, None, Nil)

  private[graft] def checkpoint(horizon: Long, maxRecordsPerFile: Option[Long],
      zorderDims: Seq[String]): Long = {
    val base = synchronized(committed)
    val replaced = base.filter(_.txnId <= horizon)
    if (replaced.isEmpty) return -1L
    val tid = replaced.map(_.txnId).max
    val bid = SegmentId(tid, replaced.filter(_.txnId == tid).map(_.segNum).max + 1)
    // the fold's provenance: the horizon txn's id (stamped by the write)
    // and a saturated _seq, "the final word" of that txn
    val decorated = Segment.decorate(schema,
      Scan.resolve(spark, schema, segmentReadPaths(replaced), Nil, None),
      del = false, seq = Scan.MaxSeq)
    registerInFlight(bid) // shield from THIS process's vacuum while writing
    // bid is deterministic, so a CRASHED earlier checkpoint may have left a
    // half-written dir here — clear it before appending (a concurrent live
    // checkpoint with the same bid loses either here or at the CAS below)
    Protocol.discardInFlight(root, bid)
    Storage.stampClaim(Storage.segmentPath(root, bid)) // shield from other processes' GC grace
    try {
      // layout knobs (OPTIMIZE path): z-order clustering, file size bound
      Segment.write(schema, decorated, tid, Storage.segmentPath(root, bid), root,
        zorderDims, maxRecordsPerFile)
      // the baseline holds the RESOLVED snapshot: one live row per key, no
      // tombstones — record it so reads whose visible set is exactly this
      // segment skip MVCC resolution (Storage.UniqueFile; see snapshot())
      Storage.markUnique(Storage.segmentPath(root, bid))
      // preserve the horizon txn's ORIGINAL commit wall-clock on the folded
      // baseline (stampCommitTs won't overwrite an existing stamp), so
      // TIMESTAMP AS OF keeps resolving exactly like before the fold for
      // every t >= the horizon commit
      Storage.commitTimestamps(root, replaced).lastOption.foreach {
        case (_, ts) =>
          java.nio.file.Files.write(
            Storage.segmentPath(root, bid).resolve(Storage.CommitTsFile),
            String.valueOf(ts).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
      // REBASE publish (Protocol.publishRebasing): a checkpoint is pure
      // maintenance — its baseline folds exactly the segments <= horizon,
      // and any CONCURRENT APPEND commits txn ids above the watermark
      // (hence above the horizon), landing in the retained class the fold
      // never read. So an append racing the publish must not abort the
      // (expensive, already-written) fold: each try verifies the FOLDED
      // PREFIX of the on-disk committed set is unchanged and publishes with
      // the newcomers retained — only the O(1) CAS retries, never the
      // write. A concurrent REPLACE (overwrite/truncate/another fold)
      // changes the prefix and still aborts: its output superseded ours.
      // This is the Delta/Iceberg "compaction does not conflict with
      // appends" rule; OVERWRITE keeps strict abort semantics because its
      // output semantically replaces the concurrent append too — rebasing
      // there would silently drop committed rows. The fold boundary
      // recorded is the max FOLDED txn — tighter than the requested
      // horizon, since nothing exists in (tid, horizon] — so a CDC reader
      // whose range starts at-or-above it keeps its O(delta) path across
      // this fold (changesBetween).
      synchronized {
        committed = Protocol.publishRebasing(root, Seq(bid), tid, foldTxn = Some(tid)) { cur =>
          if (cur.filter(_.txnId <= horizon) != replaced) {
            Protocol.discardInFlight(root, bid)
            throw new java.util.ConcurrentModificationException(
              "folded prefix changed under the checkpoint (concurrent " +
                "overwrite/truncate/fold); the baseline is stale — retry from scratch")
          }
          (bid +: cur.filterNot(_.txnId <= horizon)).sorted
        }.toVector.sorted
      }
    } finally resolveInFlight(Seq(bid))
    tid
  }

  /** `OPTIMIZE`-style file maintenance: rewrite the ENTIRE table into one
    * freshly-laid-out baseline — compaction (many small commits' files
    * merge to one file per chunk), optional file-size bounding, optional
    * two-dimension z-order clustering — in one atomic replace commit
    * ([[checkpoint]] at the current watermark, which this wraps).
    *
    *   - `targetFileBytes`: approximate LOGICAL bytes per output file,
    *     converted to a `maxRecordsPerFile` bound via the ANALYZEd
    *     resolved row width when statistics are fresh, else the schema's
    *     fixed-width estimate. Parquet compression lands files below the
    *     target — it bounds, not pads.
    *   - `zorderDims`: exactly two dimension names; rows within each chunk
    *     are clustered by bit-interleaved z-value instead of plain dim
    *     order, tightening parquet row-group min/max for multi-dim range
    *     scans (the intra-file counterpart of [[graft.sources.ZOrderLayout]]).
    *
    * Returns (baselineTxn, filesBefore, filesAfter). Same crash/concurrency
    * contract as checkpoint: conflict-checked replace, time travel below
    * the fold is reclaimed. Scale shape: one resolve + one
    * chunk-partitioned write — O(live data), no driver materialization. */
  def optimize(targetFileBytes: Option[Long] = None,
      zorderDims: Seq[String] = Nil): (Long, Long, Long) = {
    zorderDims.foreach(d => require(schema.dimNames.contains(d),
      s"zorder names '$d' which is not a dimension (${schema.dimNames.mkString(",")})"))
    val before = synchronized(committed)
    if (before.isEmpty) return (-1L, 0L, 0L)
    val filesBefore = before.map(s => Storage.countDataFiles(
      Storage.segmentPath(root, s))).sum
    val maxRecords = targetFileBytes.map { bytes =>
      require(bytes > 0, s"target_file_size must be positive, got $bytes")
      val props = Storage.readProps(root)
      val rowBytes = (for {
        txn <- props.get("graft.stats.txn") if txn.toLong == Protocol.txnWatermark(root)
        b <- props.get("graft.stats.bytes")
        n <- props.get("graft.stats.rowcount") if n.toLong > 0
      } yield math.max(1L, b.toLong / n.toLong))
        .getOrElse(schema.toStructType.defaultSize.toLong)
      math.max(1L, bytes / rowBytes)
    }
    val horizon = before.map(_.txnId).max
    val tid = checkpoint(horizon, maxRecords, zorderDims)
    val filesAfter = synchronized(committed).map(s => Storage.countDataFiles(
      Storage.segmentPath(root, s))).sum
    (tid, filesBefore, filesAfter)
  }

  /** Policy convenience over [[checkpoint]]: fold history once the table
    * has accumulated more than `maxSegments` committed segment sets,
    * keeping the newest `retainTxns` transactions time-travelable. Call it
    * after commits on a long-lived table (e.g. every N micro-batches —
    * the retention-keeping counterpart of the ingest sinks' `compactEvery`);
    * it is a no-op until the threshold trips, so calling often is cheap.
    * Returns the baseline txn id when a fold ran. */
  def checkpointIfNeeded(maxSegments: Int, retainTxns: Int): Option[Long] = {
    require(maxSegments >= 1 && retainTxns >= 0,
      s"need maxSegments >= 1 and retainTxns >= 0: $maxSegments, $retainTxns")
    val segs = synchronized(committed)
    if (segs.size <= maxSegments) None
    else {
      val txns = segs.map(_.txnId).distinct.sorted
      if (txns.size <= retainTxns + 1) None // nothing old enough to fold
      else {
        val horizon = txns(txns.size - retainTxns - 1)
        val tid = checkpoint(horizon)
        if (tid >= 0) Some(tid) else None
      }
    }
  }

  /** After a compact, every live segment holds exactly THIS handle's
    * columns — so any ALTER-dropped name absent from this handle's schema
    * has no bytes left on disk and its tombstone can be lifted (re-ADDing
    * the name becomes legal, reading null for pre-add rows). A name still
    * present in this handle's (stale) schema was rewritten WITH its bytes,
    * so its tombstone stays. CAS loop: a concurrent ALTER just means
    * re-reading and re-filtering. */
  private def clearPurgedTombstones(): Unit = {
    var tries = 0
    while (tries < 16) {
      val (cur, version) = Storage.readSchemaVersioned(root)
      val keep = cur.dropped.filter(schema.columnNames.contains)
      if (keep == cur.dropped) return
      if (Storage.casSchema(root, version, cur.copy(dropped = keep))) return
      tries += 1
    }
    throw new IllegalStateException("compact: too many schema publish races")
  }
}

object MatDb {
  /** Create a new table directory (reference: database.rs:35-50) in
    * `store` ([[CasStore.forName]]). `protocol` must be "manifest", the one
    * commit protocol; any other value (or an unknown store) is refused
    * before anything is written. */
  def create(spark: SparkSession, schema: MatSchema, path: String,
      protocol: String = Protocol.name, store: String = PosixCasStore.name): MatDb = {
    requireManifest(protocol, "MatDb.create")
    val cas = CasStore.forName(store)
    graft.plans.GraftPlans.enable(spark)
    val root = Storage.rootPath(path)
    // store marker FIRST: every subsequent write (schema, manifests,
    // claims) must already route through the chosen CasStore
    Storage.writeStoreMarker(root, cas)
    Storage.writeSchema(root, schema)
    val (committed, nextTxn) = Protocol.create(root)
    new MatDb(spark, root, schema, committed, nextTxn)
  }

  /** Refuse a commit-protocol choice other than "manifest", naming `what`
    * asked for it. */
  private[graft] def requireManifest(protocol: String, what: String): Unit =
    if (protocol != Protocol.name) throw new IllegalArgumentException(
      s"$what: unknown commit protocol '$protocol' (the only protocol is '${Protocol.name}')")

  /** Open an existing table: load the schema, upgrade a rename-committed
    * directory to manifest version 0, sweep leftovers, rebuild the
    * committed set and next txn id (reference: database.rs:52-66,
    * 100-127). */
  def open(spark: SparkSession, path: String): MatDb = {
    graft.plans.GraftPlans.enable(spark)
    val root = Storage.rootPath(path)
    val schema = Storage.readSchema(root)
    val (committed, nextTxn) = Protocol.recover(root)
    new MatDb(spark, root, schema, committed, nextTxn)
  }

  def createOrOpen(spark: SparkSession, schema: MatSchema, path: String,
      store: String = PosixCasStore.name): MatDb = {
    val root = Storage.rootPath(path)
    if (java.nio.file.Files.exists(Storage.schemaPath(root))) open(spark, path)
    else create(spark, schema, path, store = store)
  }

  /** Does a graft table exist at `path`? */
  def exists(path: String): Boolean =
    java.nio.file.Files.exists(Storage.schemaPath(Storage.rootPath(path)))

  /** SHALLOW CLONE: fork the table at `srcPath` into a new independent
    * table at `dstPath` without copying data — a 100 TB curation
    * experiment forks in O(metadata). Mechanism: every metadata document
    * (schema versions, `_log` manifests incl. the lineage below replace
    * commits, props) and every segment data file is HARD-LINKED into the
    * new root (same inode, zero bytes moved; cross-device falls back to a
    * copy). Hard links make cross-root GC safety a FILESYSTEM invariant
    * rather than a reference-counting protocol: writes, compaction, or
    * vacuum on either side only ever unlink their OWN directory entries —
    * the shared bytes live until both sides drop them, so neither table
    * can break the other (GraftCatalogSpec pins all three directions).
    * Parquet segments are immutable by construction, so shared inodes are
    * never written in place. Txn ids in the clone continue from the
    * source's watermark (the cloned manifests carry it), and time travel
    * in the clone sees the source's full history as of the fork. This is
    * the POSIX analog of a manifest-reference clone (Delta/Iceberg
    * `SHALLOW CLONE`); an object-store port would swap the links for
    * absolute-path manifest entries. Returns the opened clone. */
  def shallowClone(spark: SparkSession, srcPath: String, dstPath: String): MatDb = {
    import java.nio.file.Files
    val src = Storage.rootPath(srcPath)
    val dst = Storage.rootPath(dstPath)
    require(exists(srcPath), s"no graft table at $srcPath")
    require(!Files.exists(dst) || Storage.listDir(dst).isEmpty,
      s"clone target $dstPath already exists and is not empty")
    val proto = Protocol.at(src)
    Files.createDirectories(dst)
    // share through the SOURCE's store: hard links on posix (zero-copy),
    // byte/server-side copies on an object store — and the `_store`
    // marker itself is carried so the clone keeps the same commit
    // primitives
    val store = Storage.casStore(src)
    // metadata: schema mirror + versioned docs + props + the FULL manifest
    // log (lineage included, so VERSION AS OF parity carries over)
    Storage.linkOrCopyTree(store, src.resolve("_schema"), dst.resolve("_schema"))
    Storage.linkOrCopyTree(store, src.resolve("_log"), dst.resolve("_log"))
    Seq("schema.json", "_props.json", "_store").foreach { f =>
      val p = src.resolve(f)
      if (Files.exists(p)) Storage.linkOrCopyFile(store, p, dst.resolve(f))
    }
    // data: every segment directory still on disk — committed, plus
    // lineage history awaiting vacuum (claim stamps are NOT carried: the
    // clone's copies are committed data, not an in-flight claim)
    Storage.historySegments(src, proto.listCommitted(src)).foreach { id =>
      val from = Storage.segmentPath(src, id)
      if (Files.isDirectory(from))
        Storage.linkOrCopyTree(store, from, Storage.segmentPath(dst, id),
          skip = Set(Storage.ClaimFile))
    }
    open(spark, dstPath)
  }
}
