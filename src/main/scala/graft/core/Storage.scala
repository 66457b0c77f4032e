package graft.core

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.charset.StandardCharsets
import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

/** Segment identity: one parquet directory written by one flush of one
  * transaction. Reference: `SegmentId = (TransactionId, SegmentNum)`
  * (lib.rs:29-34). */
final case class SegmentId(txnId: Long, segNum: Int) extends Ordered[SegmentId] {
  def compare(that: SegmentId): Int = {
    val c = java.lang.Long.compare(txnId, that.txnId)
    if (c != 0) c else Integer.compare(segNum, that.segNum)
  }
}

/** The commit protocol: how segment visibility is committed, time-traveled
  * and recovered. Lakehouse-style: segments are written directly under
  * their final names but are invisible until a manifest file
  * `_log/<version>.json` (listing the FULL visible segment set) lands via a
  * single-file put-if-absent ([[CasStore.putIfAbsent]]). Object-store safe,
  * supports atomic REPLACE (overwrite/compact swap the whole set in one
  * manifest), and is optimistic multi-writer (a concurrent commit loses the
  * publish race and retries). Segment publishes that rebase onto
  * concurrent commits (INSERT OVERWRITE, serializable DML, checkpoint)
  * share one loop, [[publishRebasing]].
  *
  * The reference commits by renaming `.tmp` segment directories visible,
  * segment 0 last (transaction.rs:127-136). That rule survives only as the
  * UPGRADE READER behind [[at]]: a table directory without `_log/` gets
  * manifest version 0 published from it the first time it is touched.
  */
object Protocol {
  import Storage._

  val name = "manifest"

  /** The protocol for the table at `root`, upgrading a directory without
    * `_log/` first — the one accessor every reader and writer that holds no
    * open [[MatDb]] goes through. With `_log/` present this is one stat. */
  def at(root: Path): Protocol.type = {
    if (!Files.isDirectory(logDir(root))) upgrade(root)
    this
  }

  /** Make `newIds` visible on top of whatever is committed NOW; returns the
    * ACTUAL post-commit visible set. The target set is recomputed from the
    * ON-DISK manifest (not the caller's possibly-stale view) so a
    * concurrent writer's segments survive; a lost publish race re-reads and
    * retries. Txn-id collisions (two writers allocated the same id —
    * possible when both opened the table at the same version) abort: the
    * colliding directory on disk belongs to the OTHER writer. */
  def commit(root: Path, newIds: Seq[SegmentId]): Seq[SegmentId] =
    publish(root, newIds, replaceAll = false, Seq.empty)

  /** Set the visible set to exactly `visibleAfter` (for overwrite/compact)
    * in one atomic swap; returns it. `expectedBase` is the committed set
    * the replacement was computed FROM: the replace aborts with
    * `ConcurrentModificationException` if the on-disk manifest no longer
    * equals it (any commit that landed since would be silently dropped by
    * a blind swap), and likewise if the publish race is lost. Superseded
    * directories stay on disk, invisible, until vacuum: a reader whose
    * snapshot captured the old file list can still finish its scan.
    *
    * `prodTxn` is the transaction id that PRODUCED this state change (the
    * overwriting/compacting txn) — recorded so time travel can resolve
    * `asOf(t)` for `t < prodTxn` against an OLDER manifest version
    * ([[listCommittedAsOf]]). It matters precisely when no segment carries
    * the id (a TRUNCATE publishes an empty set, yet its txn must stay
    * burned and its state boundary findable).
    *
    * `foldTxn` marks a CHECKPOINT FOLD: the replace only RESHAPED the state
    * at-or-below that txn equivalently (resolved baseline, erased
    * tombstones all <= foldTxn) and removed nothing above it. The manifest
    * records it, so a CDC reader whose `fromTxn >= foldTxn` keeps its
    * O(delta) path across the fold ([[graft.core.MatDb.changesBetween]]). */
  def replace(root: Path, newIds: Seq[SegmentId], visibleAfter: Seq[SegmentId],
      expectedBase: Seq[SegmentId], prodTxn: Long,
      foldTxn: Option[Long] = None): Seq[SegmentId] =
    publish(root, newIds, replaceAll = true, visibleAfter, expectedBase, prodTxn, foldTxn)

  /** Publish `newIds` onto whatever is committed NOW, rebasing over
    * concurrent commits — the one loop behind INSERT OVERWRITE,
    * serializable row-level DML and checkpoint folds. Each try lists the
    * committed base once and asks `target` for the visible set to publish
    * onto it; `target` may throw to abort (a conflict, a changed fold
    * prefix). The publish is a CAS [[replace]] against that base. A lost
    * race (`ConcurrentModificationException` from the publish) re-lists
    * and retries, up to 16 times; the 17th loss propagates. Returns the
    * published visible set. */
  def publishRebasing(root: Path, newIds: Seq[SegmentId], prodTxn: Long,
      foldTxn: Option[Long] = None)(
      target: Seq[SegmentId] => Seq[SegmentId]): Seq[SegmentId] = {
    @annotation.tailrec def attempt(tries: Int): Seq[SegmentId] = {
      val base = listCommitted(root)
      val after = target(base)
      val published =
        try Some(replace(root, newIds, after, base, prodTxn, foldTxn))
        catch { case _: java.util.ConcurrentModificationException if tries < 16 => None }
      published match {
        case Some(visible) => visible
        case None          => attempt(tries + 1)
      }
    }
    attempt(0)
  }

  private def publish(root: Path, newIds: Seq[SegmentId], replaceAll: Boolean,
      intended: Seq[SegmentId], expectedBase: Seq[SegmentId] = Seq.empty,
      prodTxn: Long = 0L, foldTxn: Option[Long] = None): Seq[SegmentId] = {
    stampCommitTs(root, newIds) // dirs are final-named, still invisible
    // this commit's touched chunk keys, recorded in the manifest so
    // serializable conflict detection is a METADATA read (walk the new
    // manifests, not the new segments' file trees). One walk of our OWN
    // just-written directories, outside the retry loop.
    val newChunks = newIds.flatMap(id =>
      chunkDirsOf(segmentPath(root, id))).distinct.sorted
    var tries = 0
    while (tries < 16) {
      val latest = latestManifest(root)
      val current = latest.map(readManifest).getOrElse(Seq.empty)
      val clash = newIds.filter(current.contains)
      if (clash.nonEmpty) throw new java.util.ConcurrentModificationException(
        s"transaction-id collision with an already-committed segment: ${clash.mkString(",")}")
      if (replaceAll && current.sorted != expectedBase.sorted)
        throw new java.util.ConcurrentModificationException(
          "table changed since the replace commit's snapshot (overwrite/compact): " +
            s"expected ${expectedBase.sorted.mkString(",")}, found ${current.sorted.mkString(",")}")
      val version = latest.map(manifestVersion).getOrElse(-1L) + 1L
      val target = if (replaceAll) intended.sorted else (current ++ newIds).sorted
      // the producing txn is MONOTONE across versions: a new append's id,
      // an explicit replace's id, or carried forward — never backward
      // (listCommittedAsOf depends on it to pick "newest state <= t")
      val prod = (Seq(prodTxn) ++ latest.map(readProdTxn) ++
        newIds.map(_.txnId) ++ target.map(_.txnId)).max
      // the recorded `replace` flag means rows may have been REMOVED
      // (truncate/overwrite/compact drop segments from the visible set) —
      // NOT that the publish used the CAS-replace primitive: a row-level
      // delta publishes via `replace` on its exact base purely for
      // linearization, and is a semantic APPEND (conflict detection by
      // its chunks, not conflict-with-everything)
      val semanticReplace = replaceAll && target != (current ++ newIds).sorted
      if (tryWriteManifest(root, version, target, prod,
          newIds, newChunks, semanticReplace, foldTxn)) {
        writeLastPointer(root, version) // best-effort O(1)-open hint
        return target
      }
      // lost the publish race: someone committed between read and write
      if (replaceAll) throw new java.util.ConcurrentModificationException(
        "table changed under a replace commit (overwrite/compact); recompute and retry")
      tries += 1
    }
    throw new IllegalStateException("manifest commit: too many publish races")
  }

  /** Delete a flushed-but-uncommitted segment (rollback). */
  def discardInFlight(root: Path, id: SegmentId): Unit =
    deleteRecursively(segmentPath(root, id))

  /** Physically delete a committed segment directory (GC after compact /
    * replace — only call once no live snapshot can reference it). */
  def deleteSegment(root: Path, id: SegmentId): Unit =
    deleteRecursively(segmentPath(root, id))

  /** A fresh table's initial state: lay out `_log/` (a new table has no
    * manifest until its first commit) and return what [[recover]] would. */
  def create(root: Path): (Seq[SegmentId], Long) = {
    Files.createDirectories(logDir(root))
    recovered(root)
  }

  /** Recover table state on open — upgrading a `_log/`-less directory first
    * ([[at]]), so the sweep below never runs before version 0 exists — and
    * return (committed segment ids, next transaction id). Visible set =
    * latest manifest. Never-referenced segment directories past the claim
    * grace are leftovers of crashed or rolled-back transactions — swept
    * here. Directories REFERENCED by some older manifest version are
    * retained: they are time-travel history below a replace commit
    * (overwrite/truncate/compact/checkpoint), readable via `VERSION AS OF`
    * until an explicit vacuum reclaims them — the lakehouse
    * open-never-deletes-data rule. Next txn id must outrank every id ever
    * seen on disk or recorded as a producing txn (a TRUNCATE leaves no
    * segments but its id stays burned), so ids never rewind. */
  def recover(root: Path): (Seq[SegmentId], Long) = { at(root); recovered(root) }

  private def recovered(root: Path): (Seq[SegmentId], Long) = {
    val committed = latestManifest(root).map(readManifest).getOrElse(Seq.empty)
    val onDisk = listEntries(root)
    val maxTxn = ((onDisk.map(_._2.txnId) ++ committed.map(_.txnId)) :+
      latestManifest(root).map(readProdTxn).getOrElse(0L)).max
    // sweep candidates: not in the live set AND past every grace window.
    // Never-referenced candidates are crashed claims (swept);
    // ever-referenced ones are time-travel history (kept until vacuum).
    // everReferenced reads EVERY manifest version — O(commit count) — so
    // it is only computed when candidates actually exist; a healthy
    // table's open stays O(1) manifest reads (the _last pointer) plus
    // one directory listing.
    val live = committed.toSet
    val candidates = onDisk.filterNot(e => live.contains(e._2))
      .filterNot(e => withinGrace(e._1))
    if (candidates.nonEmpty) {
      val refEver = everReferenced(root)
      candidates.filterNot(e => refEver.contains(e._2))
        .foreach(e => deleteRecursively(e._1))
    }
    (committed.sorted, maxTxn + 1)
  }

  /** Committed segment ids WITHOUT any recovery sweep — the read-only
    * listing for observers (e.g. the streaming source): a reader must never
    * delete a concurrent writer's in-flight unreferenced segments. */
  def listCommitted(root: Path): Seq[SegmentId] =
    latestManifest(root).map(readManifest).getOrElse(Seq.empty).sorted

  /** [[listCommitted]] as sorted read paths — the file list of the current
    * committed state, for readers without a table handle. */
  def committedPaths(root: Path): Seq[String] =
    listCommitted(root).map(s => segmentPath(root, s).toString)

  /** The visible segment set AS OF transaction `txn` — time travel through
    * the manifest LINEAGE: the newest manifest whose producing txn is <= `t`
    * captures the table state as of `t` (producing txns are monotone across
    * versions), filtered by segment txn for the within-manifest append
    * case. States replaced away by overwrite/truncate/compact resolve to
    * their ORIGINAL manifest, whose directories survive until vacuum — so
    * `VERSION AS OF` below a replace keeps reading. When no version's
    * producing txn is <= `t`, the oldest surviving version still answers
    * if it is a fold whose boundary is <= `t` (an upgraded directory's
    * version 0 holds the whole append-only legacy history). Otherwise, or
    * if any directory of the resolved state was already vacuumed, falls
    * back to filtering the LATEST manifest (typically the empty table
    * below a replace — never a torn read of half-vacuumed history). */
  def listCommittedAsOf(root: Path, txn: Long): Seq[SegmentId] = {
    def fallback = listCommitted(root).filter(_.txnId <= txn).sorted
    val lineage = manifestLineage(root)
    lineage.filter(_._1 <= txn).lastOption
      .orElse(lineage.headOption.filter(_._2.exists(_ <= txn))) match {
      case Some((_, _, state)) =>
        val visible = state.filter(_.txnId <= txn).sorted
        if (visible.forall(id => Files.isDirectory(segmentPath(root, id)))) visible
        else fallback
      // no version at or below `txn` remains: either a pre-first-commit
      // time (fallback filters to empty as well) or PRUNED history
      // (vacuum's manifest GC) — fall back, exactly as an unreadable
      // version would, so pruning a version never changes an answer
      case None => fallback
    }
  }

  /** [[listCommittedAsOf]] WITHOUT the silent fallback: Some(state) only
    * when the resolution is provably exact; None means the true state at
    * `txn` is NOT reconstructible (history vacuumed/pruned) — callers
    * that would silently compute a WRONG answer from the fallback (the
    * CDC delta across a replace) must refuse instead.
    *
    * Newest-first walk. A version can serve `txn` exactly when either
    * its producing txn is <= `txn` (the state boundary itself), or it is
    * a fold whose recorded boundary is <= `txn` ([[replace]]'s `foldTxn`;
    * an upgraded directory's version 0 records boundary 0): the fold
    * reshaped only the <= boundary prefix EQUIVALENTLY and removed nothing
    * above it, so filtering its state by segment txn resolves `txn`
    * exactly — this is what keeps CDC across a below-range fold working
    * even after vacuum pruned the pre-fold manifests. Any other version
    * only layers effects above `txn` (appends allocate above the
    * watermark) or replaces state we must look below
    * (overwrite/truncate/compact) — walk to its predecessor; a pruned
    * predecessor is an unprovable hole → None. Walking past version 0
    * means `txn` predates the first commit. */
  private[graft] def listCommittedAsOfStrict(root: Path, txn: Long)
      : Option[Seq[SegmentId]] = {
    var v = latestManifest(root) match {
      case None    => return Some(Seq.empty) // never committed
      case Some(p) => manifestVersion(p)
    }
    while (v >= 0) {
      val p = manifestPath(root, v)
      if (!Files.exists(p)) return None // pruned below an unresolved replace
      val text = readText(p)
      if (prodIn(text) <= txn || foldIn(text).exists(_ <= txn)) {
        val visible = segmentsIn(text).filter(_.txnId <= txn).sorted
        return if (visible.forall(id => Files.isDirectory(segmentPath(root, id))))
          Some(visible)
        else None
      }
      v -= 1
    }
    Some(Seq.empty) // every version produced above txn: pre-first-commit
  }

  /** Highest transaction id this table has ever committed — the floor for
    * new id claims and stream offsets. Consults the recorded producing txn
    * too, so a TRUNCATE (which leaves no segments) still advances the
    * watermark and offsets/ids never rewind. */
  def txnWatermark(root: Path): Long =
    ((listCommitted(root).map(_.txnId) :+ 0L) ++
      latestManifest(root).map(readProdTxn)).max

  /** Every segment id any manifest version ever referenced, EXCLUDING ids
    * whose directories are gone (vacuumed) — history that time travel and
    * timestamp resolution can reach beyond the live set. */
  private[graft] def lineageSegments(root: Path): Seq[SegmentId] =
    everReferenced(root).toSeq.sorted
      .filter(id => Files.isDirectory(segmentPath(root, id)))

  /** (producing txn, fold boundary, segment set) per manifest version,
    * version order — one read per version. */
  private def manifestLineage(root: Path): Seq[(Long, Option[Long], Seq[SegmentId])] =
    manifestFiles(root).sortBy(_.getFileName.toString).map { p =>
      val text = readText(p)
      (prodIn(text), foldIn(text), segmentsIn(text))
    }

  private def manifestFiles(root: Path): Seq[Path] =
    listDir(logDir(root)).filter(p => ManifestName.matches(p.getFileName.toString))

  /** Delete final-name segment directories not in `keep` (GC for
    * superseded/orphaned segments). Returns directories removed. */
  def sweepUnreferenced(root: Path, keep: Seq[SegmentId]): Int = {
    val keepSet = keep.toSet
    val candidates = listEntries(root).filterNot(e => keepSet.contains(e._2))
    if (candidates.isEmpty) return 0 // skip the O(commit-count) manifest scan
    val refEver = everReferenced(root)
    val stale = candidates
      .filter(e => refEver.contains(e._2) || !withinGrace(e._1))
    stale.foreach(e => deleteRecursively(e._1))
    stale.size
  }

  /** Delete manifest versions that can no longer serve ANY read (some
    * referenced segment directory is gone — i.e. history a segment sweep
    * already reclaimed, whose time-travel reads fall back to the latest
    * manifest either way). Bounds metadata growth over a table's
    * lifetime: without it `_log/` accumulates one version per commit
    * forever, and every lineage walk (time travel across replaces,
    * recovery's ever-referenced scan, conflict metadata) pays O(all
    * commits ever). Same caller contract as the segment sweep (no
    * concurrent writers).
    *
    * Prunes a contiguous PREFIX of versions: find the newest version
    * (below the latest) whose state is no longer readable and delete every
    * version at or below it. Unreadable versions are dead metadata
    * ([[listCommittedAsOf]] already falls back to filtering the latest
    * manifest for them); fully-readable versions BELOW the newest dead one
    * must go too, or they become stale survivors that lineage resolution
    * picks over the fallback, silently changing `VERSION AS OF` answers
    * (e.g. an empty truncate version is vacuously "readable" — keeping it
    * below a pruned hole makes `VERSION AS OF` of a later pruned txn
    * answer EMPTY instead of the latest-filtered baseline). Prefix-prune
    * is behavior-preserving: a readable version below the hole references
    * only still-live directories, so its state is a subset of the live
    * set, and producing txns are monotone — filtering the latest manifest
    * by txn resolves it identically. The latest version is never a
    * candidate (its directories are the live set; a missing one there is
    * corruption this GC must not paper over). A crash mid-prune just
    * leaves more dead versions for the next run — [[commitsAfter]] treats
    * any missing version as a hole and turns conservative, and
    * [[latestManifest]] probes forward from `_last`, so partial deletion
    * is harmless. */
  def pruneManifestHistory(root: Path): Int = {
    val latest = latestManifest(root).getOrElse(return 0)
    val old = manifestFiles(root)
      .filterNot(_.getFileName == latest.getFileName)
      .sortBy(_.getFileName.toString)
    val newestDead = old.lastIndexWhere(p =>
      !readManifest(p).forall(id => Files.isDirectory(segmentPath(root, id))))
    if (newestDead < 0) return 0
    val dead = old.take(newestDead + 1)
    dead.foreach(p => Files.deleteIfExists(p))
    dead.size
  }

  /** Every segment id any manifest version has EVER referenced — the
    * provably-not-a-live-claim set (O(manifest versions), metadata). */
  private def everReferenced(root: Path): Set[SegmentId] =
    manifestFiles(root).flatMap(readManifest).toSet

  // ---- O(1) open: the _log/_last pointer ----------------------------------
  //
  // latestManifest used to LIST _log/ — O(commit count) names per open,
  // snapshot read, or stream-progress poll; a 1M-commit table paid a
  // large listing to read one manifest (the Delta `_last_checkpoint`
  // problem). `_last` holds the latest version number, written
  // BEST-EFFORT after each successful publish (atomic replace, never
  // part of the commit itself — the conditional-put manifest IS the
  // commit). Readers take the pointer, verify the version exists, and
  // probe FORWARD to absorb staleness (a crash between manifest and
  // pointer write, or a concurrent writer's fresher publish); anything
  // unreadable falls back to the listing. ManifestCrashSpec pins the
  // crash points.

  private def logDir(root: Path): Path = root.resolve("_log")
  private val ManifestName: Regex = """^([0-9a-f]{8})\.json$""".r
  private def lastPointer(root: Path): Path = logDir(root).resolve("_last")
  private def manifestFile(version: Long): String = f"$version%08x.json"
  private def manifestPath(root: Path, version: Long): Path =
    logDir(root).resolve(manifestFile(version))

  private def writeLastPointer(root: Path, version: Long): Unit =
    try casStore(root).putReplace(lastPointer(root), String.valueOf(version))
    catch { case _: Exception => () } // best-effort: readers self-heal

  private def latestManifest(root: Path): Option[Path] = {
    val hinted =
      try {
        val p = lastPointer(root)
        if (!Files.exists(p)) None
        else {
          val v = readText(p).trim.toLong
          if (!Files.exists(manifestPath(root, v))) None // corrupt/ahead: fall back
          else {
            var cur = v // stale-by-k pointer: probe forward to the true latest
            while (Files.exists(manifestPath(root, cur + 1))) cur += 1
            Some(manifestPath(root, cur))
          }
        }
      } catch { case _: Exception => None }
    hinted.orElse(manifestFiles(root).sortBy(_.getFileName.toString).lastOption)
  }

  private def manifestVersion(p: Path): Long = p.getFileName.toString match {
    case ManifestName(v) => java.lang.Long.parseLong(v, 16)
    case _               => 0L
  }

  private def readText(p: Path): String =
    new String(Files.readAllBytes(p), StandardCharsets.UTF_8)

  /** One JSON line per segment keeps parsing dependency-free (the schema
    * document already uses the same hand-rolled style). Pairs are parsed
    * from the `"segments"` array ONWARD — `"new_txns": [1, 2]` (commit
    * metadata) would otherwise read as a phantom SegmentId(1, 2). */
  private def segmentsIn(text: String): Seq[SegmentId] = {
    val from = text.indexOf("\"segments\"")
    val body = if (from >= 0) text.substring(from) else text
    """\[\s*(\d+)\s*,\s*(\d+)\s*\]""".r.findAllMatchIn(body)
      .map(m => SegmentId(m.group(1).toLong, m.group(2).toInt)).toSeq
  }

  /** The manifest's recorded producing txn; manifests written before the
    * field existed derive it as the max referenced txn — exact for their
    * append-only histories. */
  private def prodIn(text: String): Long =
    """"txn"\s*:\s*(\d+)""".r.findFirstMatchIn(text).map(_.group(1).toLong)
      .getOrElse((segmentsIn(text).map(_.txnId) :+ 0L).max)

  private def foldIn(text: String): Option[Long] =
    """"fold"\s*:\s*(\d+)""".r.findFirstMatchIn(text).map(_.group(1).toLong)

  private def readManifest(p: Path): Seq[SegmentId] = segmentsIn(readText(p))
  private def readProdTxn(p: Path): Long = prodIn(readText(p))

  /** Single-file atomic PUT-IF-ABSENT of manifest `<version>.json` through
    * the table's [[CasStore]] (posix: temp file + `Files.createLink`, whose
    * creation fails atomically if the target exists — the
    * optimistic-concurrency check a second writer must lose). Returns
    * false when the version was already taken. */
  private[core] def tryWriteManifest(root: Path, version: Long,
      visible: Seq[SegmentId], prodTxn: Long = 0L,
      newIds: Seq[SegmentId] = Seq.empty, newChunks: Seq[String] = Seq.empty,
      isReplace: Boolean = false, foldTxn: Option[Long] = None): Boolean =
    // the conditional put IS the commit — one winner per version name
    casStore(root).putIfAbsent(manifestPath(root, version),
      manifestBody(visible, prodTxn, newIds, Some(newChunks), isReplace, foldTxn))

  /** Commit-scoped fields first ("new_txns"/"chunks"/"replace" — what
    * THIS version added, for metadata-only conflict detection; "fold" — a
    * fold boundary, see [[replace]]), then the full visible set. Without
    * `chunks` the conflict check treats the version as touching every
    * chunk. Chunk dir names are [-_=a-zA-Z0-9/] only — no JSON escaping
    * needed. */
  private def manifestBody(visible: Seq[SegmentId], prodTxn: Long,
      newIds: Seq[SegmentId], chunks: Option[Seq[String]], isReplace: Boolean,
      foldTxn: Option[Long]): String = {
    val prod = (prodTxn +: visible.map(_.txnId)).max
    val newTxns = newIds.map(_.txnId).distinct.sorted.mkString(", ")
    val chunkField = chunks.fold("")(cs =>
      cs.map(c => s""""$c"""").mkString(""""chunks": [""", ", ", "], "))
    val fold = foldTxn.fold("")(h => s""""fold": $h, """)
    visible.sorted.map(s => s"  [${s.txnId}, ${s.segNum}]").mkString(
      s"""{"txn": $prod, "replace": $isReplace, $fold"new_txns": [$newTxns], """ +
        s"""$chunkField"segments": [\n""", ",\n", "\n]}\n")
  }

  /** Commit metadata for every manifest version whose producing txn is
    * above `horizon`, newest first — the serializable conflict check's
    * metadata-only read path. Walks BACKWARD from the latest version
    * (O(commits since horizon) single-file reads; no directory listing,
    * no segment file-tree walks). Returns None when any covered version
    * predates commit metadata — the caller falls back to walking segment
    * directories. */
  private[graft] def commitsAfter(root: Path, horizon: Long): Option[Seq[CommitMeta]] = {
    val latest = latestManifest(root).getOrElse(return Some(Seq.empty))
    var v = manifestVersion(latest)
    val out = Seq.newBuilder[CommitMeta]
    var complete = true
    while (v >= 0 && complete) {
      val p = manifestPath(root, v)
      if (!Files.exists(p)) complete = false // hole: be conservative
      else {
        val text = readText(p)
        val prod = prodIn(text)
        if (prod <= horizon) return if (complete) Some(out.result()) else None
        val isReplace = """"replace"\s*:\s*(true|false)""".r
          .findFirstMatchIn(text).map(_.group(1) == "true")
        val newTxns = """"new_txns"\s*:\s*\[([^\]]*)\]""".r
          .findFirstMatchIn(text)
          .map(m => """\d+""".r.findAllIn(m.group(1)).map(_.toLong).toSeq)
        val chunks = """"chunks"\s*:\s*\[([^\]]*)\]""".r
          .findFirstMatchIn(text)
          .map(m => """"([^"]*)"""".r.findAllMatchIn(m.group(1)).map(_.group(1)).toSet)
        (isReplace, newTxns) match {
          case (Some(r), Some(ts)) =>
            val segs = segmentsIn(text).filter(s => ts.contains(s.txnId))
            out += CommitMeta(v, prod, ts, segs, chunks, r, foldIn(text))
          case _ => complete = false // manifest predating commit metadata
        }
        v -= 1
      }
    }
    if (complete) Some(out.result()) else None
  }

  // ---- upgrade reader: directories committed by renames ---------------------
  //
  // A table directory without `_log/` was committed by the reference's
  // rename protocol: flushes wrote `<txn>.<seg>.tmp` directories and a
  // commit renamed them to their final names in reverse order, segment 0
  // last — so a txn is committed iff its segment 0 exists under its final
  // name (transaction.rs:127-136, database.rs:100-127). [[at]] publishes
  // exactly those txns as manifest version 0; from then on the directory is
  // an ordinary manifest table.
  //   - Version 0's producing txn is the highest id on disk, `.tmp` and
  //     segment-0-less txns included, so the next id equals what the
  //     rename recovery handed out and crashed ids stay burned.
  //   - It records fold boundary 0: the legacy history is append-only, so
  //     its state at any txn is version 0 filtered by segment txn (time
  //     travel and CDC below the upgrade read it exactly).
  //   - It records no chunks, so a serializable check reaching below the
  //     upgrade conflicts conservatively.
  //   - `_log/` never exists without version 0: the manifest is staged in
  //     `_log.<random>/` and the whole directory renamed into place. A
  //     racer whose rename fails deletes its stage and adopts the
  //     winner's version 0 — which lists the same set, computed from the
  //     same immutable legacy directories.
  //   - Segment-0-less txns become never-referenced final-name directories
  //     that recovery and vacuum sweep under the claim grace; the winner
  //     sweeps `.tmp` leftovers past the grace itself (nothing else decodes
  //     `.tmp` names).
  //   - An object store never had an atomic rename, so a `_log/`-less
  //     directory there is corrupt, not legacy: refused.

  private val LegacyTmp: Regex = """^([0-9a-f]{8})\.([0-9a-f]{8})\.tmp$""".r

  private def upgrade(root: Path): Unit = {
    if (!Files.isRegularFile(schemaPath(root))) return // no table here
    val store = casStore(root)
    if (store == ObjectStoreSim) throw new IllegalStateException(
      s"graft table at $root has no _log/ but its store is '${store.name}': " +
        "only rename-committed posix tables lack a manifest, so this table is corrupt")
    val listing = listDir(root)
    val done = listing.flatMap(p => decode(p.getFileName.toString))
    val tmp = listing.flatMap(p => p.getFileName.toString match {
      case LegacyTmp(t, _) => Some(p -> java.lang.Long.parseLong(t, 16))
      case _               => None
    })
    val complete = done.groupBy(_.txnId).filter(_._2.exists(_.segNum == 0))
      .values.flatten.toSeq.sorted
    val prod = (done.map(_.txnId) ++ tmp.map(_._2) :+ 0L).max
    val stage = root.resolve(s"_log.${java.util.UUID.randomUUID()}")
    try {
      store.putIfAbsent(stage.resolve(manifestFile(0L)), manifestBody(complete, prod,
        complete, chunks = None, isReplace = false, foldTxn = Some(0L)))
      Files.move(stage, logDir(root), StandardCopyOption.ATOMIC_MOVE)
      tmp.map(_._1).filterNot(withinGrace).foreach(deleteRecursively)
    } catch {
      case _: java.io.IOException if Files.isDirectory(logDir(root)) => () // lost the race
    } finally deleteRecursively(stage) // no-op once moved
  }
}

/** On-disk layout and naming; the commit protocol itself is [[Protocol]].
  *
  * Layout of a table directory:
  * {{{
  *   <root>/schema.json                    table schema (MatSchema JSON)
  *   <root>/<txn%08x>.<seg%08x>/           segment (parquet dir)
  *   <root>/_log/<version%08x>.json        manifest
  * }}}
  */
object Storage {
  private val SegmentName: Regex = """^([0-9a-f]{8})\.([0-9a-f]{8})$""".r

  def segmentDirName(id: SegmentId): String = f"${id.txnId}%08x.${id.segNum}%08x"

  def decode(name: String): Option[SegmentId] = name match {
    case SegmentName(t, s) =>
      Some(SegmentId(java.lang.Long.parseLong(t, 16), Integer.parseInt(s, 16)))
    case _ => None
  }

  def schemaPath(root: Path): Path = root.resolve("schema.json")

  // ---- commit wall-clock (TIMESTAMP AS OF) -------------------------------
  //
  // Each transaction's FIRST segment directory carries a `_commit_ts` file
  // (epoch millis), written just before the manifest publish makes the
  // commit visible — so a visible transaction always has its stamp.
  // Underscore-prefixed, so parquet readers and data-file checks ignore it.
  // Readers make the series MONOTONE by running-max over txn order (wall
  // clocks of different writer processes may skew; transaction ids are the
  // authoritative order, timestamps are a resolution aid). The reference
  // has no commit clock (its ids are logical, database.rs:74-79) — this is
  // the minimal metadata TIMESTAMP AS OF needs.

  val CommitTsFile = "_commit_ts"

  /** Stamp `System.currentTimeMillis` into each new transaction's first
    * segment (no-op where a stamp already exists — checkpoint pre-seeds
    * the folded baseline with the horizon txn's ORIGINAL timestamp). */
  private[core] def stampCommitTs(root: Path, newIds: Seq[SegmentId]): Unit =
    newIds.groupBy(_.txnId).values.map(_.min).foreach { id =>
      val f = segmentPath(root, id).resolve(CommitTsFile)
      if (!Files.exists(f))
        Files.write(f, String.valueOf(System.currentTimeMillis())
          .getBytes(StandardCharsets.UTF_8))
    }

  /** Every segment discoverable for history and timestamp resolution:
    * the `live` set plus replaced-away segments whose directories survive
    * (time-travel history awaiting vacuum). */
  def historySegments(root: Path, live: Seq[SegmentId]): Seq[SegmentId] =
    (Protocol.lineageSegments(root) ++ live).distinct.sorted

  /** Per-transaction commit wall-clock (epoch millis) over the given
    * visible segments, monotone by txn order. Transactions predating the
    * stamp (or folded baselines of pre-stamp history) read as 0 — i.e.
    * visible at every timestamp, the only safe reading for old tables. */
  def commitTimestamps(root: Path, segs: Seq[SegmentId]): Seq[(Long, Long)] = {
    var run = 0L
    segs.groupBy(_.txnId).toSeq.sortBy(_._1).map { case (txn, ids) =>
      val ts = ids.sorted.iterator
        .map(id => segmentPath(root, id).resolve(CommitTsFile))
        .find(Files.exists(_))
        .map(p => new String(Files.readAllBytes(p), StandardCharsets.UTF_8).trim.toLong)
        .getOrElse(0L)
      run = math.max(run, ts)
      (txn, run)
    }
  }

  def writeSchema(root: Path, schema: MatSchema): Unit = {
    Files.createDirectories(root)
    // whole-object replace put: schema.json is also REwritten as the ALTER
    // TABLE read mirror, and a reader must never see a torn document.
    // Two CAS winners in quick succession both refresh the mirror —
    // readers prefer the versioned _schema/ file anyway, so mirror
    // refresh order is harmless.
    casStore(root).putReplace(schemaPath(root), schema.json)
  }

  def readSchema(root: Path): MatSchema = readSchemaVersioned(root)._1

  // ---- schema versioning (ALTER TABLE compare-and-set) --------------------
  //
  // `schema.json` alone cannot serialize concurrent ALTERs: an
  // unsynchronized read-modify-write silently loses one of two racing
  // changes (the atomic move only prevents torn READS). Post-alter schemas
  // therefore live as immutable `_schema/<version>.json` documents published
  // with the same put-if-absent primitive as manifest commits
  // (tryWriteManifest's hard-link conditional put): the loser of a race gets
  // `false` back, re-reads, and re-applies its change. `schema.json` stays
  // as a read mirror of the latest version — readers PREFER the versioned
  // file, so a crash between CAS and mirror rewrite is harmless.

  private def schemaVerDir(root: Path): Path = root.resolve("_schema")
  private val SchemaVer: Regex = """^([0-9a-f]{8})\.json$""".r

  private def latestSchemaFile(root: Path): Option[(Path, Long)] =
    listDir(schemaVerDir(root)).flatMap { p =>
      p.getFileName.toString match {
        case SchemaVer(v) => Some((p, java.lang.Long.parseLong(v, 16)))
        case _            => None
      }
    }.sortBy(_._2).lastOption

  /** The immutable schema document published as version `v` (>= 1; version
    * 0 is the CREATE-time schema.json, which the mirror may have
    * overwritten). Versions are retained forever, so a commit-time guard
    * can WALK the versions published since its transaction opened. */
  def schemaAt(root: Path, v: Long): Option[MatSchema] = {
    val p = schemaVerDir(root).resolve(f"$v%08x.json")
    if (Files.exists(p))
      Some(MatSchema.fromJson(new String(Files.readAllBytes(p), StandardCharsets.UTF_8)))
    else None
  }

  /** Current schema + its version (version 0 = the CREATE-time schema.json;
    * the first ALTER publishes version 1). */
  def readSchemaVersioned(root: Path): (MatSchema, Long) =
    latestSchemaFile(root) match {
      case Some((p, v)) =>
        (MatSchema.fromJson(new String(Files.readAllBytes(p), StandardCharsets.UTF_8)), v)
      case None =>
        (MatSchema.fromJson(
          new String(Files.readAllBytes(schemaPath(root)), StandardCharsets.UTF_8)), 0L)
    }

  /** Atomic compare-and-set of the table schema: succeeds iff no other
    * writer published since version `expected` was read. On success the
    * mirror `schema.json` is refreshed; on failure the caller must re-read
    * ([[readSchemaVersioned]]) and re-apply its change. */
  def casSchema(root: Path, expected: Long, next: MatSchema): Boolean = {
    val dir = schemaVerDir(root)
    val won = casStore(root).putIfAbsent(
      dir.resolve(f"${expected + 1L}%08x.json"), next.json)
    if (won) writeSchema(root, next)
    won
  }

  // ---- table properties ---------------------------------------------------
  //
  // Free-form `TBLPROPERTIES` beyond the structural ones (dims live in the
  // schema, the store in the `_store` marker): a `_props.json`
  // key/value document in the table root, written with the same
  // write-then-atomic-move as the schema mirror. Currently carries
  // `graft.isolation` (newest-wins | serializable — the row-level DML
  // conflict policy). Last-writer-wins on concurrent SET TBLPROPERTIES —
  // properties are operational knobs, not data.

  private def propsPath(root: Path): Path = root.resolve("_props.json")

  def readProps(root: Path): Map[String, String] = {
    val p = propsPath(root)
    if (!Files.exists(p)) Map.empty
    else {
      val text = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
      """"((?:[^"\\]|\\.)*)"\s*:\s*"((?:[^"\\]|\\.)*)"""".r.findAllMatchIn(text)
        .map(m => unescape(m.group(1)) -> unescape(m.group(2))).toMap
    }
  }

  def writeProps(root: Path, props: Map[String, String]): Unit = {
    val body = props.toSeq.sortBy(_._1)
      .map { case (k, v) => s"""  "${escape(k)}": "${escape(v)}"""" }
      .mkString("{\n", ",\n", "\n}\n")
    casStore(root).putReplace(propsPath(root), body)
    ()
  }

  private def escape(s: String): String =
    s.flatMap { case '"' => "\\\""; case '\\' => "\\\\"; case c => c.toString }
  private def unescape(s: String): String =
    s.replace("\\\"", "\"").replace("\\\\", "\\")

  /** Parquet writer options derived from table properties, applied by every
    * segment write path ([[Segment.write]], the row-level delta writes,
    * ranged-layout appends).
    *
    *   - Any property whose key starts with `parquet.` passes through
    *     verbatim — per-table row-group size (`parquet.block.size`), page
    *     size, and parquet's own per-column `#col`-suffixed settings.
    *   - `graft.bloom.columns = "c1,c2"` expands to per-column BLOOM FILTER
    *     enables. Blooms are the point-lookup data-skipping index for
    *     HIGH-CARDINALITY VALUE columns: dimension predicates already prune
    *     via chunk directories and row-group min/max, but a needle lookup
    *     on a value column (fingerprint, doc id) reads every row group —
    *     with a bloom, row groups that provably lack the value are skipped
    *     at the footer, so a hit touches O(1) row groups of a 100 TB table.
    *     Scan-side cost is one footer-adjacent bloom read per row group;
    *     Spark's pushed EqualTo/In filters consult it automatically.
    *   - `graft.bloom.ndv.<col> = n` sizes the bloom for n distinct values
    *     PER ROW GROUP (~1% fpp) — not per table: oversizing by the table
    *     NDV makes every row-group bloom megabytes and the bloom READS
    *     dominate the lookup (bench/bloom_probe.json). Without the hint
    *     parquet's adaptive sizing picks the smallest candidate that holds
    *     each row group's observed NDV — the right default.
    */
  def parquetWriteOptions(props: Map[String, String]): Map[String, String] = {
    val passthrough = props.filter { case (k, _) => k.startsWith("parquet.") }
    val bloom = props.get("graft.bloom.columns").toSeq.flatMap { cols =>
      cols.split(",").map(_.trim).filter(_.nonEmpty).flatMap { c =>
        Seq(s"parquet.bloom.filter.enabled#$c" -> "true") ++
          (props.get(s"graft.bloom.ndv.$c") match {
            case Some(ndv) => Seq(s"parquet.bloom.filter.expected.ndv#$c" -> ndv)
            // column-scoped, NOT the global flag: with mixed hinted/unhinted
            // bloom columns a global adaptive=true takes precedence per
            // column in parquet-mr and silently ignores the explicit ndv
            // sizing on the hinted column
            case None => Seq(s"parquet.bloom.filter.adaptive.enabled#$c" -> "true")
          })
      }
    }
    passthrough ++ bloom
  }

  // ---- the CAS seam -------------------------------------------------------
  //
  // Every ATOMICITY-bearing operation (conditional put, replace put,
  // claim, clone-share) routes through the table's [[CasStore]]; plain
  // reads/writes/deletes stay direct. A table selects its store with a
  // `_store` marker object at its root (absent = posix); the marker is
  // written once at CREATE and carried by clones, so detection is one
  // cached read. Porting to a real object store = implementing the four
  // CasStore methods; the protocol above the seam is untouched.

  private val StoreMarker = "_store"
  // cached per root WITH a marker stamp (mtime ^ size; -1 = absent): a table
  // dropped and recreated with a different store by ANOTHER process must not
  // keep committing through this JVM's stale primitives, so every lookup
  // pays one stat of the marker (noise next to the commit it guards) and
  // re-reads the marker only when the stamp moved
  private final case class StoreEntry(store: CasStore, stamp: Long)
  private val storeCache =
    new java.util.concurrent.ConcurrentHashMap[Path, StoreEntry]()

  private def markerStamp(m: Path): Long =
    if (!Files.isRegularFile(m)) -1L
    else Files.getLastModifiedTime(m).toMillis ^ (Files.size(m) << 20)

  private[graft] def casStore(root: Path): CasStore = {
    val p = root.toAbsolutePath
    val m = p.resolve(StoreMarker)
    val now = markerStamp(m)
    val cached = storeCache.get(p)
    if (cached != null && cached.stamp == now) cached.store
    else {
      val store =
        if (now == -1L) PosixCasStore
        else CasStore.forName(
          new String(Files.readAllBytes(m), StandardCharsets.UTF_8).trim)
      storeCache.put(p, StoreEntry(store, now))
      store
    }
  }

  /** Persist the table's store choice at CREATE. The posix default stays
    * marker-free on disk, but the cache is refreshed EITHER way: a root
    * deleted and recreated with a different store inside one JVM must not
    * keep pricing commits through the old store. */
  private[graft] def writeStoreMarker(root: Path, store: CasStore): Unit = {
    Files.createDirectories(root)
    if (store != PosixCasStore)
      Files.write(root.resolve(StoreMarker),
        store.name.getBytes(StandardCharsets.UTF_8))
    else
      Files.deleteIfExists(root.resolve(StoreMarker))
    storeCache.put(root.toAbsolutePath,
      StoreEntry(store, markerStamp(root.resolve(StoreMarker))))
    ()
  }

  // ---- zero-copy clone plumbing (MatDb.shallowClone) ----------------------

  /** Share `from` into `to` through the store ([[CasStore.shareFile]]:
    * hard link on posix, byte/server-side copy on object stores). */
  private[graft] def linkOrCopyFile(store: CasStore, from: Path, to: Path): Unit =
    store.shareFile(from, to)

  /** Recursively share a tree; file names in `skip` are omitted.
    * No-op when `from` does not exist. */
  private[graft] def linkOrCopyTree(store: CasStore, from: Path, to: Path,
      skip: Set[String] = Set.empty): Unit =
    if (Files.isDirectory(from)) {
      Files.createDirectories(to)
      listDir(from).foreach { p =>
        val name = p.getFileName.toString
        if (!skip.contains(name)) {
          if (Files.isDirectory(p)) linkOrCopyTree(store, p, to.resolve(name), skip)
          else linkOrCopyFile(store, p, to.resolve(name))
        }
      }
    }

  /** List a directory, CLOSING the stream (Files.list holds an fd until
    * closed — leaking it on hot paths like commit/stream-planning
    * exhausts file descriptors on long-lived drivers). */
  private[graft] def listDir(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Seq.empty
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.toSeq finally s.close()
    }

  /** Segment directories under `root` with their ids. */
  private[graft] def listEntries(root: Path): Seq[(Path, SegmentId)] =
    listDir(root).flatMap(p => decode(p.getFileName.toString).map(p -> _))

  // ---- GC grace for possibly-live claims ---------------------------------
  //
  // A segment directory that was NEVER referenced by any manifest is either
  // a crashed writer's orphan or a LIVE concurrent writer's in-flight claim
  // (GraftInsert / the delta write / a mid-flush transaction of another
  // process) — indistinguishable by name. GC paths therefore give such
  // directories a grace window (mtime within `graft.recovery.grace.ms`,
  // default 15 min — same shape as every table format's retention guard
  // against vacuuming a live writer) before sweeping. Directories that WERE
  // referenced by some manifest version are provably superseded commits,
  // never claims, and sweep immediately. Visibility is unaffected either
  // way (it comes from the manifest, never the sweep),
  // and a skipped orphan still burns its txn id. Single-writer tooling
  // (crash harnesses, offline GC) can set the property to 0 for the
  // sweep-everything behavior.
  private[core] def recoveryGraceMs: Long =
    sys.props.get("graft.recovery.grace.ms").map(_.toLong).getOrElse(15L * 60L * 1000L)

  // ---- explicit claim stamps --------------------------------------------
  //
  // The mtime grace alone is not enough for LONG writes: a directory's
  // mtime only advances when its DIRECT children change, and a parquet job
  // writing nested chunk/_temporary subdirs can leave the claim dir's mtime
  // untouched for longer than the grace — a concurrent open/vacuum would
  // then sweep a live writer's segment mid-write. Claim paths therefore
  // drop a `_claim` file stamping the claim wall-clock, honored for a much
  // longer retention (`graft.recovery.claim.retention.ms`, default 24 h —
  // the "don't vacuum while jobs may be writing" retention contract every
  // table format documents; Delta's is VACUUM's 7-day default). Crash
  // orphans carrying a stamp linger until the retention expires — bounded
  // disk, reclaimed by any later recovery/vacuum. A grace of 0 (the
  // single-writer crash-harness setting) means "sweep everything now" and
  // zeroes the claim retention too, unless the retention property is set
  // explicitly.

  val ClaimFile = "_claim"

  private[graft] def claimRetentionMs: Long =
    sys.props.get("graft.recovery.claim.retention.ms").map(_.toLong)
      .getOrElse(if (recoveryGraceMs == 0L) 0L else 24L * 60L * 60L * 1000L)

  /** Stamp the claim wall-clock into a freshly-claimed segment directory
    * (creating it if the claim protocol did not already). */
  private[graft] def stampClaim(dir: Path): Unit = {
    Files.createDirectories(dir)
    Files.write(dir.resolve(ClaimFile),
      String.valueOf(System.currentTimeMillis()).getBytes(StandardCharsets.UTF_8))
    ()
  }

  private[core] def withinGrace(p: Path): Boolean =
    try {
      val claim = p.resolve(ClaimFile)
      if (Files.exists(claim))
        System.currentTimeMillis() - new String(Files.readAllBytes(claim),
          StandardCharsets.UTF_8).trim.toLong < claimRetentionMs
      else System.currentTimeMillis() -
        Files.getLastModifiedTime(p).toMillis < recoveryGraceMs
    } catch { case _: Exception => true } // unreadable: assume live

  /** Directory of segment `id` — written there, committed in place. */
  def segmentPath(root: Path, id: SegmentId): Path = root.resolve(segmentDirName(id))

  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      if (Files.isDirectory(p)) listDir(p).foreach(deleteRecursively)
      Files.delete(p)
    }

  def rootPath(s: String): Path = Paths.get(s)

  /** One committed manifest version's commit-scoped metadata: the txns it
    * added (with their segment ids, for key-digest lookup), the chunk
    * dirs they touched (None when written before chunk recording —
    * round <= 11), whether it was a replace (overwrite/truncate/
    * compact — removes rows in arbitrary chunks, so conflict detection
    * must treat it as touching EVERYTHING), and — for checkpoint folds —
    * the fold horizon ([[Protocol.replace]]'s `foldTxn`): a replace
    * carrying `foldTxn = h` provably reshaped only the state at-or-below
    * `h`, equivalently. */
  private[graft] final case class CommitMeta(version: Long, prodTxn: Long,
      newTxns: Seq[Long], newSegs: Seq[SegmentId],
      chunks: Option[Set[String]], isReplace: Boolean,
      foldTxn: Option[Long] = None)

  // ---- key-granular serializable digests ----------------------------------
  //
  // `graft.isolation.granularity = 'key'` refines chunk-granular conflict
  // detection: each row-level commit persists its touched-key digest as
  // `<segdir>/_keys` and the checker exonerates a same-chunk commit whose
  // key set is PROVABLY disjoint. Two encodings:
  //   - up to KeyDigestCap keys: the EXACT set (one xxhash64 of the dim
  //     tuple per line, sorted). Equal keys always hash equal; a 64-bit
  //     collision only produces a spurious — safe — abort.
  //   - above the cap: a FIXED-RATE BLOOM FILTER over the same hashes
  //     (Spark's sketch, fpp 0.1%), so a large-delta writer keeps
  //     key-precision instead of degrading to chunk granularity exactly
  //     when contention hurts most. Bloom negatives are certain, so
  //     disjointness proofs stay sound; a false positive only produces a
  //     spurious abort at the configured rate. Bloom-vs-bloom cannot
  //     PROVE disjointness (no sound intersection-emptiness test), so two
  //     concurrent over-cap writers stay chunk-granular — the
  //     conservative direction.

  private[graft] val KeyDigestCap = 4096

  /** A commit's recorded write-key set, exact or bloom. `provablyDisjoint`
    * returns true ONLY when the two write sets certainly share no key —
    * the exoneration predicate; any uncertainty reads as overlap. */
  private[graft] sealed trait KeyDigest {
    def provablyDisjoint(other: KeyDigest): Boolean
  }
  private[graft] final case class ExactKeys(keys: Set[Long]) extends KeyDigest {
    def provablyDisjoint(other: KeyDigest): Boolean = other match {
      case ExactKeys(t) => !keys.exists(t.contains)
      case BloomKeys(bf) => keys.forall(k => !bf.mightContainLong(k))
    }
  }
  private[graft] final case class BloomKeys(
      bloom: org.apache.spark.util.sketch.BloomFilter) extends KeyDigest {
    def provablyDisjoint(other: KeyDigest): Boolean = other match {
      case ExactKeys(t) => t.forall(k => !bloom.mightContainLong(k))
      case _: BloomKeys => false
    }
  }

  private val BloomMagic = "GBLOOM1\n".getBytes(StandardCharsets.UTF_8)

  /** Persist `keys` as the segment's exact key digest. Must happen BEFORE
    * the segment becomes visible (checkers read it as soon as the manifest
    * lists the commit). */
  private[graft] def writeKeyDigest(segDir: Path, keys: Set[Long]): Unit =
    Files.write(segDir.resolve("_keys"),
      keys.toSeq.sorted.mkString("\n").getBytes(StandardCharsets.UTF_8))

  /** Persist an over-cap commit's bloom key digest (same visibility rule). */
  private[graft] def writeBloomDigest(segDir: Path,
      bloom: org.apache.spark.util.sketch.BloomFilter): Unit = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(BloomMagic)
    bloom.writeTo(out)
    Files.write(segDir.resolve("_keys"), out.toByteArray)
  }

  /** The segment's recorded key digest; None when the commit recorded none
    * (pre-key-granularity, or non-row-level) — the checker must then stay
    * chunk-granular for that commit. */
  private[graft] def readKeyDigest(segDir: Path): Option[KeyDigest] = {
    val p = segDir.resolve("_keys")
    if (!Files.isRegularFile(p)) None
    else {
      val bytes = Files.readAllBytes(p)
      if (bytes.length >= BloomMagic.length &&
          java.util.Arrays.equals(bytes.take(BloomMagic.length), BloomMagic))
        Some(BloomKeys(org.apache.spark.util.sketch.BloomFilter.readFrom(
          new java.io.ByteArrayInputStream(
            bytes, BloomMagic.length, bytes.length - BloomMagic.length))))
      else Some(ExactKeys(new String(bytes, StandardCharsets.UTF_8)
        .linesIterator.filter(_.nonEmpty).map(_.toLong).toSet))
    }
  }

  // ---- unique-baseline marker ---------------------------------------------
  //
  // A segment written by checkpoint/optimize holds the RESOLVED snapshot:
  // one live row per key, no tombstones, `_seq` saturated. `_unique` in the
  // segment dir records that invariant, and a read whose visible set is
  // EXACTLY one marked segment can skip MVCC resolution entirely — no
  // dedup aggregate, no exchange, and value predicates push down into
  // parquet (post-resolve == pre-resolve when every key has one version).
  // The marker is a property of the WRITE (only the fold paths create such
  // segments); any later commit adds a second visible segment and the read
  // path falls back to the full resolve automatically.

  val UniqueFile = "_unique"

  private[graft] def markUnique(segDir: Path): Unit = {
    Files.write(segDir.resolve(UniqueFile), Array.emptyByteArray)
    ()
  }

  private[graft] def isUnique(segDir: Path): Boolean =
    Files.isRegularFile(segDir.resolve(UniqueFile))

  /** The data files under a segment directory (chunk subdirectories
    * included; underscore- and dot-prefixed markers excluded), walked
    * lazily and closed after `f`. */
  private def withDataFiles[A](segDir: Path)(f: Iterator[Path] => A): A =
    if (!Files.isDirectory(segDir)) f(Iterator.empty)
    else {
      val walk = Files.walk(segDir)
      try f(walk.iterator().asScala.filter { p =>
        val name = p.getFileName.toString
        Files.isRegularFile(p) && !name.startsWith("_") && !name.startsWith(".")
      }) finally walk.close()
    }

  /** (data file count, data bytes) under a segment directory — the
    * small-file diagnostics `.history` and `optimize` report. */
  private[graft] def dataFileStats(segDir: Path): (Long, Long) =
    withDataFiles(segDir)(_.foldLeft((0L, 0L)) { case ((n, b), p) =>
      (n + 1, b + Files.size(p))
    })

  private[graft] def countDataFiles(segDir: Path): Long = dataFileStats(segDir)._1

  /** Does the segment directory hold any data file? Stops at the first —
    * how a claimed write detects an empty batch. */
  private[graft] def hasDataFiles(segDir: Path): Boolean = withDataFiles(segDir)(_.hasNext)

  /** Relative `_ck_*` chunk-key directories (like `_ck_t=3/_ck_s=1`)
    * holding data files under a segment directory — the granularity
    * recorded in manifests and used for serializable conflict detection. */
  private[graft] def chunkDirsOf(segDir: Path): Seq[String] =
    withDataFiles(segDir)(_.map(p => segDir.relativize(p.getParent).toString).toSeq.distinct)
}
