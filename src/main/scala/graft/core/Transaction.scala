package graft.core

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** MERGE clause actions ([[Transaction.mergeRows]]): what happens to a
  * source row whose key is (not) present in the target snapshot. */
object MergeAction {
  sealed trait Matched
  sealed trait NotMatched
  /** Matched: upsert the source row as the key's new version. */
  case object Update extends Matched
  /** Matched: tombstone the key. */
  case object Delete extends Matched
  /** Not matched: insert the source row. */
  case object Insert extends NotMatched
  /** Leave the key/source row alone. */
  case object Ignore extends Matched with NotMatched
}

/** A snapshot-isolated read-write transaction (reference: transaction.rs).
  *
  * Write path (reference semantics, Spark execution):
  *   - [[addRows]] buffers a DataFrame batch tagged with a monotonically
  *     increasing `_seq` — the append-only analog of the reference's
  *     overwrite-in-place within a block (block.rs:47-49): on read, higher
  *     `_seq` wins among equal keys in the same txn (SURVEY.md §7.4).
  *   - [[flush]] spills all buffered batches to ONE new segment, claimed
  *     and written at its final name but invisible until commit, through
  *     the shared segment writer ([[Segment.write]]: chunk-keyed layout,
  *     dims-sorted within each chunk). Multiple flushes ⇒ multiple segments
  *     per txn (transaction.rs:90-119).
  *   - [[commit]] does a final flush then publishes every flushed segment
  *     in one manifest version ([[Protocol.commit]]) — the atomic
  *     visibility flip the reference gets from renaming segment 0 last
  *     (transaction.rs:127-136).
  *   - [[rollback]] (or abandonment) deletes the flushed segments
  *     (transaction.rs:50-53, 141-150).
  */
private[core] object Transaction {
  // diagnostic gate shared with IncrementalAgg.ph / tools.MaintProfile
  private[core] val debug: Boolean =
    sys.env.get("SPARK_GRAFT_MAINT_DEBUG").contains("1")
}

final class Transaction private[core] (
    db: MatDb,
    visibleAtOpen: Seq[SegmentId],
    horizon: Long,
    pinned: Option[Long] = None) {

  private val spark: SparkSession = db.spark
  private val schema: MatSchema = db.schema

  private var txnId: Option[Long] = None // allocated lazily at first flush (transaction.rs:93)

  // schema version at txn open: the commit-time drift guard walks every
  // version published after this one, so a DROP + re-ADD of the same name
  // cannot slip past a name-existence check (see commit())
  private val schemaVersionAtOpen: Long = Storage.readSchemaVersioned(db.root)._2

  /** The transaction id, once allocated by the first flush. */
  def id: Option[Long] = txnId
  private var nextSegNum: Int = 0
  private var nextSeq: Long = 0L
  private var buffered: Vector[DataFrame] = Vector.empty
  private var flushed: Vector[SegmentId] = Vector.empty
  private var closed: Boolean = false

  private def requireOpen(): Unit =
    require(!closed, "transaction already committed or rolled back")

  // diagnostic phase timing for tools.MaintProfile (same env gate as
  // IncrementalAgg's): attributes commit latency to claim / write / publish
  private def ph[A](label: String)(f: => A): A =
    if (!Transaction.debug) f
    else {
      val s = System.nanoTime(); val r = f
      println(f"[txnph] $label%-20s ${(System.nanoTime() - s) / 1e9}%.2f s")
      r
    }

  /** Buffer a batch of rows. Columns must include every schema column (extra
    * columns are dropped). Within one batch, duplicate keys are resolved
    * arbitrarily; across batches, later batches win. */
  def addRows(df: DataFrame): Unit = {
    requireOpen()
    val projected = conform(df, schema.columnNames)
    val seq = nextSeq; nextSeq += 1
    buffered = buffered :+ Segment.decorate(schema, projected, del = false, seq)
  }

  /** `df` projected onto `names` in their declared types. A column whose
    * type safely widens to the declared one (`Cast.canUpCast`, e.g. INT →
    * LONG) is cast; any other type is refused before anything is buffered —
    * a segment file with a foreign column type would fail every later read
    * of the table. */
  private def conform(df: DataFrame, names: Seq[String]): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.Cast
    val declared = schema.toStructType
    val projected = df.select(names.map(col): _*)
    projected.select(projected.schema.fields.toSeq.zip(names).map { case (f, n) =>
      val want = declared(n).dataType
      if (org.apache.spark.sql.types.DataType.equalsIgnoreNullability(f.dataType, want)) col(n)
      else if (Cast.canUpCast(f.dataType, want)) col(n).cast(want).as(n)
      else throw new IllegalArgumentException(
        s"column $n has type ${f.dataType.simpleString}, which does not widen to its " +
          s"declared type ${want.simpleString}; cast it explicitly")
    }: _*)
  }

  /** Buffer TOMBSTONES for the key points in `df` (needs the dimension
    * columns; anything else is dropped). A tombstone is an ordinary MVCC
    * version — all value columns null, `_del = true` — so it routes to its
    * chunk, shuffles and commits exactly like an insert, and "newest wins"
    * is the whole delete semantic: the resolve aggregate picks it as the
    * winning version and the post-resolve tombstone filter drops the key
    * ([[Scan.dedup]]). A later insert of the same key outranks the
    * tombstone and resurrects it; time travel before the deleting txn
    * still sees the old row. The reference has no delete (its only write
    * is `add_values`, transaction.rs:67-85) — this is the missing half of
    * upsert, built from the same machinery. */
  def deleteRows(df: DataFrame): Unit = {
    requireOpen()
    val keys = conform(df, schema.dimNames)
    val seq = nextSeq; nextSeq += 1
    buffered = buffered :+ Segment.decorate(schema, keys, del = true, seq)
  }

  /** Tombstone every key whose CURRENT resolved row (own uncommitted writes
    * included) matches `pred` — the `DELETE FROM ... WHERE` semantic. Value
    * predicates apply post-resolve (a superseded version matching the
    * predicate does not doom the key); dimension predicates prune the scan
    * as usual. */
  def deleteWhere(pred: Column): Unit =
    deleteRows(query().filter(pred))

  /** UPDATE ... SET ... WHERE: rewrite the value columns of every key whose
    * CURRENT resolved row matches `pred`. In an MVCC table an update is
    * just an upsert of the recomputed row — one new version per matched
    * key, no read-modify-write of segments. `set` expressions may
    * reference the row's current columns; dimension columns are the key
    * identity and cannot be assigned. */
  def updateWhere(pred: Column, set: Map[String, Column]): Unit = {
    val bad = set.keySet.intersect(schema.dimNames.toSet)
    require(bad.isEmpty, s"cannot assign dimension column(s) ${bad.mkString(", ")} " +
      "(dimensions are the row identity; delete + insert to move a row)")
    require(set.keySet.subsetOf(schema.valueNames.toSet),
      s"unknown column(s) in SET: ${(set.keySet -- schema.valueNames).mkString(", ")}")
    val cur = query().filter(pred)
    addRows(set.foldLeft(cur) { case (d, (c, e)) => d.withColumn(c, e) })
  }

  /** MERGE INTO with the classic clause algebra, on the natural key (the
    * dimensions — `source` must carry them plus, for inserts/updates, the
    * value columns):
    *
    *   - `(Update, Insert)` — plain upsert: ZERO joins, `source` commits
    *     as new versions (MVCC newest-wins IS this merge; the fast path a
    *     copy-on-write format cannot take).
    *   - `(Update, Ignore)` — update-only: one semi-join against the
    *     snapshot's KEY columns.
    *   - `(Ignore, Insert)` — insert-if-absent: one anti-join.
    *   - `(Delete, Insert|Ignore)` — matched keys tombstone; unmatched
    *     insert or drop.
    *
    * Only the target's key columns ever stream through the join; the
    * snapshot's values stay on disk. For updates that COMBINE target and
    * source values, see [[mergeUpdate]]. */
  def mergeRows(source: DataFrame,
      whenMatched: MergeAction.Matched,
      whenNotMatched: MergeAction.NotMatched): Unit = {
    requireOpen()
    import MergeAction._
    (whenMatched, whenNotMatched) match {
      case (Update, Insert) => addRows(source) // upsert: the zero-join fast path
      case (Ignore, Ignore) => ()
      case _ =>
        val keys = query().select(schema.dimNames.map(col): _*)
        def matched = source.join(keys, schema.dimNames, "left_semi")
        def unmatched = source.join(keys, schema.dimNames, "left_anti")
        whenMatched match {
          case Update => addRows(matched)
          case Delete => deleteRows(matched)
          case Ignore => ()
        }
        whenNotMatched match {
          case Insert => addRows(unmatched)
          case Ignore => ()
        }
    }
  }

  /** MERGE's matched-UPDATE with expressions over BOTH sides: inner-join
    * the resolved snapshot (alias `t`) with `source` (alias `s`) on the
    * dimensions and upsert the recomputed rows — e.g.
    * `set = Map("v" -> (col("t.v") + col("s.bonus")))`. Unmatched source
    * rows are ignored (compose with [[mergeRows]]`(Ignore, Insert)` for
    * the full upsert-with-arithmetic). */
  def mergeUpdate(source: DataFrame, set: Map[String, Column]): Unit = {
    val bad = set.keySet.intersect(schema.dimNames.toSet)
    require(bad.isEmpty, s"cannot assign dimension column(s) ${bad.mkString(", ")}")
    val joined = query().alias("t").join(source.alias("s"), schema.dimNames, "inner")
    val updated = set.foldLeft(joined) { case (d, (c, e)) => d.withColumn(c, e) }
    addRows(updated.select(schema.columnNames.map(col): _*))
  }

  /** Convenience: add rows given as tuples of longs in schema order. */
  def addRowsSeq(rows: Seq[Seq[Any]]): Unit = {
    val st = schema.toStructType
    val rdd = spark.sparkContext.parallelize(rows.map(Row.fromSeq), math.max(1, math.min(rows.size / 10000 + 1, 32)))
    addRows(spark.createDataFrame(rdd, st))
  }

  private def ensureTxnId(): Long = txnId.getOrElse {
    val id = pinned.getOrElse(db.allocateTxnId()); txnId = Some(id); id
  }

  /** Spill buffered batches to a new uncommitted segment (a
    * manifest-unreferenced final-name dir). No-op if empty. */
  def flush(): Unit = {
    requireOpen()
    if (buffered.nonEmpty) {
      val id = SegmentId(ensureTxnId(), nextSegNum)
      nextSegNum += 1
      val target = Storage.segmentPath(db.root, id)
      // ATOMIC claim of the target directory: segments write at their
      // FINAL names, so a taken name means another
      // process committed (or is writing) this txn id — abort rather than
      // append into someone else's segment. Then stamp the claim
      // wall-clock so a concurrent open/vacuum never mistakes the
      // in-flight segment for an expired orphan during a write that
      // outlasts the mtime grace (Storage.stampClaim scaladoc).
      ph("flush:claim") {
        if (!Storage.casStore(db.root).claimDirectory(target))
          throw new java.util.ConcurrentModificationException(
            s"transaction id ${id.txnId} already exists on disk — a concurrent " +
              "writer claimed or committed it; reopen the table and retry")
        Storage.stampClaim(target)
      }
      ph("flush:write")(Segment.write(schema, buffered.reduce(_ unionByName _),
        id.txnId, target, db.root))
      flushed = flushed :+ id
      db.registerInFlight(id) // shields it from vacuum() until commit/rollback
      buffered = Vector.empty
    }
  }

  /** Snapshot query: committed segments visible at txn open + own flushed
    * segments + own buffered batches, newest version per key
    * (reference transaction.rs:67-85 + scan.rs). Own uncommitted rows outrank
    * everything (tagged Long.MaxValue). */
  def query(pred: Option[Column] = None): DataFrame = {
    val paths = db.segmentReadPaths(visibleAtOpen) ++
      flushed.map(id => Storage.segmentPath(db.root, id).toString)
    Scan.resolve(spark, schema, paths, buffered, pred)
  }

  /** Key-ordered query — the reference's scan output order (scan.rs:183-238). */
  def queryOrdered(): DataFrame = query().orderBy(schema.dimNames.map(col): _*)

  /** Final flush + atomic visibility flip.
    *
    * Schema-drift guard: append commits are not conflict-checked against
    * replaces, so a writer holding a pre-DROP handle could otherwise land
    * segments carrying a dropped column's bytes AFTER compact() lifted its
    * tombstone — and a later re-ADD of the name would resurrect the stale
    * values. One cheap on-disk schema read at commit closes that window:
    * every value column this transaction wrote must still exist in the
    * CURRENT schema (a handle missing newly-ADDed columns is fine — those
    * read as null). */
  def commit(): Unit = {
    requireOpen()
    flush()
    if (flushed.nonEmpty) {
      val (cur, curVer) = ph("commit:schemaGuard")(Storage.readSchemaVersioned(db.root))
      val gone = schema.valueNames.filterNot(cur.valueNames.contains)
      // name existence alone is check-then-act: a DROP + re-ADD of the same
      // name completed between open and commit would pass it and land the
      // stale pre-DROP bytes under the re-added column. Schema versions are
      // immutable and retained, so walk every version published since this
      // transaction opened: a written column that was dropped (or absent)
      // at ANY intermediate version has changed identity — abort. A
      // version that only ADDED unrelated columns walks clean (no false
      // abort). A DROP landing after this read but before the publish
      // below is the residual window; the ALTER side's CAS retention means
      // the next reader of the dropped column still sees the tombstone, so
      // the re-ADD (which this guard protects) remains blocked until a
      // compact that would itself conflict-check.
      val reborn =
        if (gone.nonEmpty || curVer == schemaVersionAtOpen) Nil
        else (schemaVersionAtOpen + 1L to curVer).flatMap(v =>
          Storage.schemaAt(db.root, v).toSeq.flatMap(s =>
            schema.valueNames.filter(n =>
              s.dropped.contains(n) || !s.valueNames.contains(n)))).distinct
      val bad = (gone ++ reborn).distinct
      if (bad.nonEmpty) {
        flushed.foreach(id => Protocol.discardInFlight(db.root, id))
        db.resolveInFlight(flushed)
        closed = true
        throw new java.util.ConcurrentModificationException(
          s"columns ${bad.mkString(", ")} were dropped, renamed, or re-added " +
            "since this transaction opened; committing its segments would " +
            "resurrect stale bytes — reopen against the current schema and retry")
      }
      ph("commit:publish")(db.commitTransaction(flushed))
    }
    db.resolveInFlight(flushed)
    closed = true
  }

  /** Final flush + commit that REPLACES the table's previous contents —
    * the overwrite/compact path ([[MatDb.commitReplace]]). An empty
    * replacement still commits (it truncates the table). Aborts with
    * `ConcurrentModificationException` if any transaction committed since
    * this one opened (its snapshot is what the replacement supersedes). */
  def commitReplacing(): Unit = {
    requireOpen()
    flush()
    // an empty replacement (truncate) still claims and burns an id — the
    // manifest records it as the producing txn so the state boundary is
    // time-travelable and stream offsets/ids never rewind
    db.commitReplace(flushed, expectedBase = visibleAtOpen, prodTxn = ensureTxnId())
    db.resolveInFlight(flushed)
    closed = true
  }

  /** Delete all uncommitted work (reference transaction.rs:141-150). */
  def rollback(): Unit = {
    requireOpen()
    flushed.foreach(id => Protocol.discardInFlight(db.root, id))
    db.resolveInFlight(flushed)
    flushed = Vector.empty
    buffered = Vector.empty
    closed = true
  }
}
