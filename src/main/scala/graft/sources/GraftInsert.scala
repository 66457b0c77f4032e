package graft.sources

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{MatSchema, Protocol, Segment, SegmentId, Storage}

/** Cross-process-safe append for the SQL write path ([[GraftCatalog]]'s
  * `INSERT INTO` / CTAS): commits `df` as ONE transaction without an open
  * [[graft.core.MatDb]] handle.
  *
  * Why not `MatDb.open(...).newTransaction()`: `open` allocates txn ids
  * from an in-process counter seeded at open time — two PROCESSES that
  * opened at the same version allocate the SAME id and write part files
  * into the SAME final-name directory before
  * either commit can detect the collision. `open` also runs the recovery
  * sweep, which would delete another live writer's in-flight directories.
  * A SQL endpoint must assume concurrent INSERTs, so this path:
  *
  *   1. CLAIMS the txn id by atomically creating its segment-0 directory —
  *      `Files.createDirectory` is put-if-absent at the filesystem, the
  *      same optimistic shape as the manifest's put-if-absent publish
  *      ([[graft.core.Protocol]]). A taken name (live writer, or a crash
  *      orphan awaiting sweep) just advances the candidate; a claimed-
  *      then-crashed insert leaves an unreferenced directory that the next
  *      `MatDb.open` recovery sweeps, its id burned — identical to a
  *      crashed transaction.
  *   2. Writes the batch INTO the claimed directory through the shared
  *      segment writer ([[graft.core.Segment]]).
  *   3. Publishes through the optimistic multi-writer manifest commit
  *      ([[graft.core.Protocol.commit]]).
  *
  * Two concurrent catalog INSERTs therefore commit distinct, sequential
  * transactions with both data sets visible — GraftCatalogSpec races them.
  * The reference allocates ids in-process with no guard (database.rs:74-79);
  * this is the multi-writer counterpart its single-process model never
  * needed. Empty batches claim, detect emptiness from the written files,
  * drop the claim, and commit nothing (no burned id) — which is what keeps
  * the streaming ingest sinks' raw history exactly-once under replay
  * ([[graft.streaming.Streams.dedupedIngest]]). */
object GraftInsert {

  /** Append `df` to the graft table at `dir` as one transaction; returns
    * the committed txn id, or None when `df` was empty. */
  def append(spark: SparkSession, dir: String, df: DataFrame): Option[Long] =
    commitBatch(spark, dir, df, tombstone = false)

  /** Commit TOMBSTONES for the key points in `df` as one transaction — the
    * cross-process `DELETE FROM` write path ([[GraftCatalog]]'s
    * `SupportsDelete`). Same claim + chunk-routed write + protocol publish
    * as [[append]]; the rows just carry null values and `_del = true`, so
    * the MVCC resolve retires the keys ([[graft.core.Scan.dedup]]).
    *
    * `serializableSince`: when the table runs
    * `graft.isolation = serializable`, the snapshot watermark the doomed
    * keys were RESOLVED against — the publish then conflict-checks
    * against transactions committed above it ([[publishConflictChecked]])
    * so a filter-DELETE gets the same no-lost-update guarantee as the
    * row-level paths. None = newest-wins (default). */
  def tombstone(spark: SparkSession, dir: String, keys: DataFrame,
      serializableSince: Option[Long] = None): Option[Long] =
    commitBatch(spark, dir, keys, tombstone = true, serializableSince)

  /** `INSERT OVERWRITE` / `TRUNCATE`: replace the table contents in ONE
    * transaction at O(new data), not O(old table): the new rows are
    * written to one claimed segment and the visible set flips to exactly
    * that segment, the same replace publish [[graft.core.MatDb.overwrite]]
    * and `checkpoint()` use. The old state is never read and never
    * tombstoned, and stays readable for `VERSION AS OF` until vacuum. The
    * publish rebases over concurrent commits
    * ([[graft.core.Protocol.publishRebasing]]), RETAINING segments with a
    * txn id above the overwrite's own — newest-txn-wins, enforced at
    * publish time.
    *
    * Readers see the old state until the publish flips, and txn ids stay
    * monotone (a TRUNCATE's id is recorded as the producing
    * txn even though no segment carries it) — so stream offsets never
    * rewind. TRUNCATE is the degenerate empty-source case. Returns the
    * claimed txn id — an overwrite commits even when `df` is empty. */
  def overwrite(spark: SparkSession, dir: String, df: DataFrame): Option[Long] = {
    val root = Storage.rootPath(dir)
    val schema = Storage.readSchema(root)
    val (segId, segPath) = claimSegment(root)
    Segment.write(schema, Segment.decorate(schema, df, del = false, seq = 0L),
      segId.txnId, segPath, root)
    val newIds = if (Storage.hasDataFiles(segPath)) Seq(segId) else Seq.empty[SegmentId]
    try Protocol.publishRebasing(root, newIds, segId.txnId)(base =>
      (newIds ++ base.filter(_.txnId > segId.txnId)).sorted)
    catch {
      case _: java.util.ConcurrentModificationException =>
        // never-published claim: reclaim it now instead of leaving an
        // orphan until the 24h claim retention expires
        Storage.deleteRecursively(segPath)
        throw new IllegalStateException(
          "INSERT OVERWRITE: too many concurrent commits; giving up after 16 retries")
    }
    // an empty claim dir (TRUNCATE) is not referenced by the manifest —
    // drop it now that the producing txn is durably recorded
    if (newIds.isEmpty) Storage.deleteRecursively(segPath)
    Some(segId.txnId)
  }

  /** CLAIM a fresh transaction's segment-0 directory put-if-absent — the
    * cross-process id allocation shared by the SQL INSERT/DELETE path and
    * the row-level delta write ([[GraftDeltaBatchWrite]]). The candidate id
    * outranks everything committed OR on disk (orphans burn their id
    * exactly like MatDb recovery treats them); `Files.createDirectory` is
    * atomic at the filesystem, so concurrent claimants get distinct ids.
    * A rename-committed directory is upgraded first ([[Protocol.at]]), so
    * its crashed ids are burned by version 0's producing txn. */
  private[sources] def claimSegment(root: Path): (SegmentId, Path) = {
    // the watermark covers the committed set AND the manifest's producing
    // txn — a replace-truncate leaves no segments, yet its id stays burned
    val onDisk = Storage.listEntries(root).map(_._2.txnId)
    var txn = (onDisk :+ Protocol.at(root).txnWatermark(root)).max + 1L
    while (true) {
      val id = SegmentId(txn, 0)
      val p = Storage.segmentPath(root, id)
      if (Storage.casStore(root).claimDirectory(p)) {
        // claim wall-clock stamp: keeps GC's grace honest for writes that
        // outlast the mtime grace (Storage.stampClaim scaladoc)
        Storage.stampClaim(p)
        return (id, p)
      } else txn += 1L
    }
    throw new IllegalStateException("unreachable")
  }

  /** Claim a txn id, write `df` as one segment into the claimed
    * directory, publish it — one transaction. */
  private def commitBatch(spark: SparkSession, dir: String, df: DataFrame,
      tombstone: Boolean, serializableSince: Option[Long] = None): Option[Long] = {
    val root = Storage.rootPath(dir)
    val schema = Storage.readSchema(root)
    val frame = Segment.decorate(schema, df, del = tombstone, seq = 0L)
    val (segId, segPath) = claimSegment(root)
    Segment.write(schema, frame, segId.txnId, segPath, root)
    if (Storage.hasDataFiles(segPath)) {
      publishClaimed(spark, root, schema, segId, segPath, serializableSince)
      Some(segId.txnId)
    } else {
      Storage.deleteRecursively(segPath)
      None
    }
  }

  /** Publish a claimed, fully-written segment — the one publish of every
    * claimed write (INSERT, DELETE, the row-level delta). Without
    * `serializableSince` it appends against the CURRENT committed set:
    * concurrent writers may have committed while the batch was writing,
    * and newest-wins resolves their keys. With it, the publish is
    * conflict-checked against transactions committed above that snapshot
    * watermark ([[publishConflictChecked]]). */
  private[sources] def publishClaimed(spark: SparkSession, root: Path,
      schema: MatSchema, segId: SegmentId, segPath: Path,
      serializableSince: Option[Long]): Unit =
    serializableSince match {
      case Some(h) =>
        // granularity = 'key': record this delta's exact touched keys first
        // (readable the instant the manifest lists us), then check/publish
        val ours = maybeWriteKeyDigest(spark, schema, root, segPath)
        publishConflictChecked(root, segId, segPath, h, ours)
      case None =>
        Protocol.commit(root, Seq(segId))
        ()
    }

  /** Under `graft.isolation.granularity = 'key'`: compute the delta's
    * touched-key digest (xxhash64 of the dim tuple, read back from the
    * just-written segment — one scan of our OWN small delta) and persist it
    * as `<segdir>/_keys` BEFORE publish, so concurrent checkers can
    * exonerate us. Up to [[graft.core.Storage.KeyDigestCap]] keys the
    * digest is EXACT; above it a fixed-rate bloom filter (fpp 0.1%) keeps
    * key-precision for large deltas — disjointness proofs against a bloom
    * stay sound (negatives are certain), a false positive only produces a
    * spurious abort. Returns the digest for OUR side of the check; None
    * when the granularity is chunk. */
  private def maybeWriteKeyDigest(spark: SparkSession, schema: MatSchema,
      root: Path, segPath: Path): Option[Storage.KeyDigest] =
    if (!Storage.readProps(root).get(GraftCatalog.GranularityProp).contains("key")) None
    else {
      val hashes = spark.read.parquet(segPath.toString)
        .select(xxhash64(schema.dimNames.map(col): _*).as("h"))
        .distinct()
      val rows = hashes.limit(Storage.KeyDigestCap + 1).collect()
      if (rows.length <= Storage.KeyDigestCap) {
        val keys = rows.map(_.getLong(0)).toSet
        Storage.writeKeyDigest(segPath, keys)
        Some(Storage.ExactKeys(keys))
      } else {
        // over the cap: one distributed count + one bloom aggregate over
        // our own delta — never collected to the driver
        val n = hashes.count()
        val bloom = hashes.stat.bloomFilter("h", math.max(n, 1L), 0.001)
        Storage.writeBloomDigest(segPath, bloom)
        Some(Storage.BloomKeys(bloom))
      }
    }

  /** Publish a claimed, fully-written segment under SERIALIZABLE conflict
    * detection: any transaction committed after `readHorizon` whose
    * segment touches the same CHUNK keys aborts this commit with
    * `ConcurrentModificationException` (the claim directory is deleted —
    * the statement can simply be retried against the current state). The
    * check runs inside [[graft.core.Protocol.publishRebasing]] on every
    * try, against the base that try publishes onto — a CAS `replace` on
    * that exact base, so no window remains between check and publish.
    * Chunk granularity is conservative (a
    * same-chunk different-key writer also aborts) — the same shape as
    * Delta's file-level conflict detection, one level coarser. */
  private def publishConflictChecked(root: Path, segId: SegmentId, segPath: Path,
      readHorizon: Long, ourKeys: Option[Storage.KeyDigest]): Unit = {
    lazy val ours = Storage.chunkDirsOf(segPath).toSet // our OWN delta — one walk
    // conflicting txn ids committed above the horizon, or empty
    def conflictTxns(base: Seq[SegmentId]): Seq[Long] = {
      // metadata path: each manifest version
      // records its commit's txns + touched chunks + replace flag, so the
      // check is O(commits since horizon) single-file reads — no segment
      // file-tree walks, flat in table file count. A replace
      // (overwrite/TRUNCATE/compact) removes rows in arbitrary chunks, so
      // it conflicts with EVERY row-level write — the dir-walk fallback
      // cannot see a truncate (it leaves no segments) and silently missed
      // this case before chunk recording existed.
      val meta = Protocol.commitsAfter(root, readHorizon).map(_.flatMap { c =>
        val chunkOverlap = c.chunks.forall(_.exists(ours.contains))
        // key exoneration (granularity = 'key'): a same-chunk commit
        // whose recorded key digest is PROVABLY disjoint from ours is
        // write-serializable after all — no abort. Digests are exact
        // up to the cap and bloom above it ([[Storage.KeyDigest]]);
        // any side without a digest (bulk append,
        // pre-key-granularity) stays chunk-granular, the conservative
        // direction — as do two over-cap bloom sides (no sound
        // emptiness test between blooms).
        val keyDisjoint = !c.isReplace && chunkOverlap && (ourKeys match {
          case Some(mine) if c.newSegs.nonEmpty =>
            val theirs = c.newSegs.map(id =>
              Storage.readKeyDigest(Storage.segmentPath(root, id)))
            theirs.forall(_.isDefined) &&
              theirs.flatten.forall(_.provablyDisjoint(mine))
          case _ => false
        })
        val overlap = c.isReplace || (chunkOverlap && !keyDisjoint)
        if (overlap && (c.newTxns.nonEmpty || c.isReplace))
          if (c.newTxns.nonEmpty) c.newTxns else Seq(c.prodTxn)
        else Seq.empty
      })
      meta.getOrElse {
        // fallback (manifests predating commit metadata): walk each later
        // segment's directory tree
        base.filter(_.txnId > readHorizon).filter(s =>
          Storage.chunkDirsOf(Storage.segmentPath(root, s)).exists(ours.contains)).map(_.txnId)
      }
    }
    try Protocol.publishRebasing(root, Seq(segId), segId.txnId) { base =>
      if (Protocol.txnWatermark(root) > readHorizon) {
        val conflicts = conflictTxns(base)
        if (conflicts.nonEmpty) throw new java.util.ConcurrentModificationException(
          s"serializable row-level conflict: transaction(s) " +
            s"${conflicts.distinct.sorted.mkString(", ")} committed " +
            s"after this statement's snapshot (txn $readHorizon) and touched the " +
            "same chunks; re-run the statement against the current state")
      }
      (base :+ segId).sorted
    } catch {
      case e: java.util.ConcurrentModificationException =>
        Storage.deleteRecursively(segPath)
        throw e
    }
    ()
  }
}
