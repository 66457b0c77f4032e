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

/** How segment visibility is committed and recovered. Two interchangeable
  * implementations behind one interface (both pass the same CoreSpec suite):
  *
  *   - [[Storage.RenameProtocol]] — the reference's design
  *     (storage.rs:86-111): segments are written as `.tmp` directories and a
  *     commit renames them visible in reverse order, segment 0 last as the
  *     commit marker (transaction.rs:127-136). Visibility IS the directory
  *     listing. Requires atomic rename — true on POSIX filesystems and HDFS,
  *     false on object stores.
  *
  *   - [[Storage.ManifestProtocol]] — lakehouse-style: segments are written
  *     directly under their final names but are invisible until a manifest
  *     file `_log/<version>.json` (listing the FULL visible segment set)
  *     lands via a single-file atomic move. Object-store safe (one
  *     put-if-absent), supports atomic REPLACE (overwrite/compact swap the
  *     whole set in one manifest), and is the natural base for optimistic
  *     multi-writer (a concurrent commit loses the rename race and retries).
  *
  * Every protocol-dependent decision lives here. Members that only the
  * manifest protocol can answer (manifest lineage, commit metadata) carry
  * rename-protocol defaults, so callers never test which protocol a table
  * uses. The one capability a caller may branch on is [[atomicReplace]]:
  * operations that need an atomic swap (checkpoint folds, shallow clones,
  * the replace-publish INSERT OVERWRITE) refuse or choose by it. Segment
  * publishes that rebase onto concurrent commits (INSERT OVERWRITE,
  * serializable DML, checkpoint) share one loop, [[publishRebasing]].
  *
  * A table's protocol is self-describing: `_log/` exists ⇔ manifest.
  */
sealed trait Protocol {
  def name: String

  /** True when [[replace]] swaps the visible set in one atomic step (and
    * replaced-away states stay readable until vacuum). False under
    * renames, where a replace commits the new segments and then deletes
    * the old ones. */
  def atomicReplace: Boolean

  /** Directory a flush writes segment `id` into (uncommitted). */
  def writePath(root: Path, id: SegmentId): Path

  /** Directory of a COMMITTED segment. */
  def readPath(root: Path, id: SegmentId): Path

  /** Make `newIds` visible; returns the ACTUAL post-commit visible set.
    * `visibleAfter` is the caller's intended set — the rename protocol
    * derives visibility from the listing and returns it as-is; the manifest
    * protocol recomputes the union from the on-disk manifest (a concurrent
    * writer may have appended since the caller's snapshot) and retries lost
    * publish races, so the returned set can be a superset of the intent. */
  def commit(root: Path, newIds: Seq[SegmentId], visibleAfter: Seq[SegmentId]): Seq[SegmentId]

  /** Set the visible set to exactly `visibleAfter` (for overwrite/compact);
    * returns it. `expectedBase` is the committed set the replacement was
    * computed FROM: the manifest protocol aborts with
    * `ConcurrentModificationException` if the on-disk manifest no longer
    * equals it (any commit that landed since would be silently dropped by
    * a blind swap), and likewise if the final publish race is lost. The
    * rename protocol derives visibility from the listing and relies on the
    * caller's in-process lock for the base check; it cannot swap
    * atomically — it commits `newIds` first and then deletes the
    * `expectedBase` directories absent from `visibleAfter`, so until the
    * deletes finish old and new are both visible (MVCC still resolves
    * overlapping keys to the new rows; keys absent from the new data
    * resurface only in that window — documented rename-protocol caveat,
    * the reason the manifest protocol exists). Under the manifest
    * protocol superseded directories stay on disk, invisible, until
    * vacuum: a reader whose snapshot captured the old file list can still
    * finish its scan.
    *
    * `prodTxn` is the transaction id that PRODUCED this state change (the
    * overwriting/compacting txn) — the manifest protocol records it so time
    * travel can resolve `asOf(t)` for `t < prodTxn` against an OLDER
    * manifest version ([[listCommittedAsOf]]). It matters precisely when no
    * segment carries the id (a TRUNCATE publishes an empty set, yet its txn
    * must stay burned and its state boundary findable).
    *
    * `foldTxn` marks a CHECKPOINT FOLD: the replace only RESHAPED the state
    * at-or-below that txn equivalently (resolved baseline, erased
    * tombstones all <= foldTxn) and removed nothing above it. The manifest
    * records it, so a CDC reader whose `fromTxn >= foldTxn` keeps its
    * O(delta) path across the fold ([[graft.core.MatDb.changesBetween]]). */
  def replace(root: Path, newIds: Seq[SegmentId], visibleAfter: Seq[SegmentId],
      expectedBase: Seq[SegmentId], prodTxn: Long,
      foldTxn: Option[Long] = None): Seq[SegmentId]

  /** Publish `newIds` onto whatever is committed NOW, rebasing over
    * concurrent commits — the one loop behind INSERT OVERWRITE,
    * serializable row-level DML and checkpoint folds. Each try lists the
    * committed base once and asks `target` for the visible set to publish
    * onto it; `target` may throw to abort (a conflict, a changed fold
    * prefix). The publish is a CAS [[replace]] against that base when
    * [[atomicReplace]] holds, a [[commit]] otherwise. A lost race
    * (`ConcurrentModificationException` from the publish) re-lists and
    * retries, up to 16 times; the 17th loss propagates. Returns the
    * published visible set. */
  final def publishRebasing(root: Path, newIds: Seq[SegmentId], prodTxn: Long,
      foldTxn: Option[Long] = None)(
      target: Seq[SegmentId] => Seq[SegmentId]): Seq[SegmentId] = {
    @annotation.tailrec def attempt(tries: Int): Seq[SegmentId] = {
      val base = listCommitted(root)
      val after = target(base)
      val published =
        try Some(
          if (atomicReplace) replace(root, newIds, after, base, prodTxn, foldTxn)
          else commit(root, newIds, after))
        catch { case _: java.util.ConcurrentModificationException if tries < 16 => None }
      published match {
        case Some(visible) => visible
        case None          => attempt(tries + 1)
      }
    }
    attempt(0)
  }

  /** The visible segment set AS OF transaction `txn` — time travel. The
    * rename protocol (append-only visibility: the listing) filters the
    * committed set; the manifest protocol resolves against the manifest
    * LINEAGE so states replaced away by overwrite/truncate/compact stay
    * readable until their directories are vacuumed. */
  def listCommittedAsOf(root: Path, txn: Long): Seq[SegmentId] =
    listCommitted(root).filter(_.txnId <= txn).sorted

  /** Highest transaction id this table has ever committed — the floor for
    * new id claims and stream offsets. Derived from the listing by default;
    * the manifest protocol also consults the recorded producing txn, so a
    * TRUNCATE (which leaves no segments) still advances the watermark and
    * offsets/ids never rewind. */
  def txnWatermark(root: Path): Long =
    (listCommitted(root).map(_.txnId) :+ 0L).max

  /** Delete a flushed-but-uncommitted segment (rollback). */
  def discardInFlight(root: Path, id: SegmentId): Unit

  /** Recover table state on open: sweep leftovers of crashed transactions,
    * return (committed segment ids, next transaction id). */
  def recover(root: Path): (Seq[SegmentId], Long)

  /** Committed segment ids WITHOUT any recovery sweep — the read-only
    * listing for observers (e.g. the streaming source): a reader must never
    * delete a concurrent writer's in-flight `.tmp`/unreferenced segments. */
  def listCommitted(root: Path): Seq[SegmentId]

  /** [[listCommitted]] as sorted read paths — the file list of the current
    * committed state, for readers without a table handle. */
  def committedPaths(root: Path): Seq[String] =
    listCommitted(root).sorted.map(s => readPath(root, s).toString)

  /** Segments referenced by some EARLIER state and still on disk — history
    * that time travel and timestamp resolution can reach beyond the live
    * set. Rename protocol: none (a replace deletes what it supersedes). */
  private[graft] def lineageSegments(root: Path): Seq[SegmentId] = Nil

  /** Commit metadata of every state change produced above `horizon`,
    * newest first — the serializable conflict check's metadata-only read.
    * None when the protocol records no such metadata (rename) or some
    * covered change predates it: the caller then walks segment
    * directories. */
  private[graft] def commitsAfter(root: Path, horizon: Long): Option[Seq[Storage.CommitMeta]] =
    None

  /** [[listCommittedAsOf]] without a silent fallback: None when the state
    * at `txn` is no longer exactly reconstructible. Rename protocol: the
    * listing is append-only history, so the filtered listing is the
    * answer. */
  private[graft] def listCommittedAsOfStrict(root: Path, txn: Long): Option[Seq[SegmentId]] =
    Some(listCommittedAsOf(root, txn))

  /** Delete final-name segment directories not in `keep` (GC for
    * superseded/orphaned segments). Returns directories removed. Rename
    * protocol: no-op (committed == listed, deletion happens at replace). */
  def sweepUnreferenced(root: Path, keep: Seq[SegmentId]): Int = 0

  /** Delete manifest versions that can no longer serve ANY read (some
    * referenced segment directory is gone — i.e. history a segment sweep
    * already reclaimed, whose time-travel reads fall back to the latest
    * manifest either way). Bounds metadata growth over a table's
    * lifetime: without it `_log/` accumulates one version per commit
    * forever, and every lineage walk (time travel across replaces,
    * recovery's ever-referenced scan, conflict metadata) pays O(all
    * commits ever). Strictly behavior-preserving by construction — only
    * versions whose reads already fall back are removed, and the
    * conflict-metadata walk treats a missing version as a hole and turns
    * conservative. Same caller contract as the segment sweep (no
    * concurrent writers). Rename protocol: no manifests, no-op. */
  def pruneManifestHistory(root: Path): Int = 0

  /** Physically delete a committed segment directory (GC after compact /
    * replace — only call once no live snapshot can reference it). */
  def deleteSegment(root: Path, id: SegmentId): Unit
}

/** On-disk layout, naming, and the two commit protocols.
  *
  * Layout of a table directory:
  * {{{
  *   <root>/schema.json                    table schema (MatSchema JSON)
  *   <root>/<txn%08x>.<seg%08x>/           segment (parquet dir)
  *   <root>/<txn%08x>.<seg%08x>.tmp/       uncommitted segment (rename protocol)
  *   <root>/_log/<version%08x>.json        manifest (manifest protocol only)
  * }}}
  */
object Storage {
  private val Committed: Regex = """^([0-9a-f]{8})\.([0-9a-f]{8})$""".r
  private val Tmp: Regex = """^([0-9a-f]{8})\.([0-9a-f]{8})\.tmp$""".r

  def segmentDirName(id: SegmentId, tmp: Boolean): String =
    f"${id.txnId}%08x.${id.segNum}%08x" + (if (tmp) ".tmp" else "")

  def decode(name: String): Option[(SegmentId, Boolean)] = name match {
    case Committed(t, s) => Some((SegmentId(java.lang.Long.parseLong(t, 16), Integer.parseInt(s, 16)), false))
    case Tmp(t, s)       => Some((SegmentId(java.lang.Long.parseLong(t, 16), Integer.parseInt(s, 16)), true))
    case _               => None
  }

  def schemaPath(root: Path): Path = root.resolve("schema.json")

  // ---- commit wall-clock (TIMESTAMP AS OF) -------------------------------
  //
  // Each transaction's FIRST segment directory carries a `_commit_ts` file
  // (epoch millis), written just before the commit becomes visible — under
  // renames while the directory is still `.tmp`, under the manifest before
  // the manifest publish — so a visible transaction always has its stamp.
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
  private[core] def stampCommitTs(root: Path, proto: Protocol,
      newIds: Seq[SegmentId]): Unit =
    newIds.groupBy(_.txnId).values.map(_.min).foreach { id =>
      val f = proto.writePath(root, id).resolve(CommitTsFile)
      if (!Files.exists(f))
        Files.write(f, String.valueOf(System.currentTimeMillis())
          .getBytes(StandardCharsets.UTF_8))
    }

  /** Every segment discoverable for history and timestamp resolution:
    * the `live` set plus, under the manifest protocol, replaced-away
    * segments whose directories survive (time-travel history awaiting
    * vacuum). */
  def historySegments(root: Path, proto: Protocol, live: Seq[SegmentId]): Seq[SegmentId] =
    (proto.lineageSegments(root) ++ live).distinct.sorted

  /** Per-transaction commit wall-clock (epoch millis) over the given
    * visible segments, monotone by txn order. Transactions predating the
    * stamp (or folded baselines of pre-stamp history) read as 0 — i.e.
    * visible at every timestamp, the only safe reading for old tables. */
  def commitTimestamps(root: Path, proto: Protocol,
      segs: Seq[SegmentId]): Seq[(Long, Long)] = {
    var run = 0L
    segs.groupBy(_.txnId).toSeq.sortBy(_._1).map { case (txn, ids) =>
      val ts = ids.sorted.iterator
        .map(id => proto.readPath(root, id).resolve(CommitTsFile))
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
  // schema, the protocol is `_log/`-self-describing): a `_props.json`
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
    *     dominate the lookup (measured in BloomProbe). Without the hint
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

  private def listEntries(root: Path): Seq[(Path, SegmentId, Boolean)] =
    listDir(root).flatMap { p =>
      decode(p.getFileName.toString).map { case (id, tmp) => (p, id, tmp) }
    }

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
  // way (it comes from the manifest / the segment-0 rule, never the sweep),
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

  private def withinGrace(p: Path): Boolean =
    try {
      val claim = p.resolve(ClaimFile)
      if (Files.exists(claim))
        System.currentTimeMillis() - new String(Files.readAllBytes(claim),
          StandardCharsets.UTF_8).trim.toLong < claimRetentionMs
      else System.currentTimeMillis() -
        Files.getLastModifiedTime(p).toMillis < recoveryGraceMs
    } catch { case _: Exception => true } // unreadable: assume live

  def segmentPath(root: Path, id: SegmentId, tmp: Boolean): Path =
    root.resolve(segmentDirName(id, tmp))

  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      if (Files.isDirectory(p)) listDir(p).foreach(deleteRecursively)
      Files.delete(p)
    }

  def rootPath(s: String): Path = Paths.get(s)

  /** Pick the protocol a table on disk uses (`_log/` marks manifest), or the
    * requested one for a fresh table. */
  def detect(root: Path): Protocol =
    if (Files.isDirectory(logDir(root))) ManifestProtocol else RenameProtocol

  def forName(name: String): Protocol = name match {
    case "rename"   => RenameProtocol
    case "manifest" => ManifestProtocol
    case other => throw new IllegalArgumentException(
      s"unknown commit protocol '$other' (expected rename or manifest)")
  }

  // ---- rename protocol --------------------------------------------------

  case object RenameProtocol extends Protocol {
    val name = "rename"
    val atomicReplace = false

    def writePath(root: Path, id: SegmentId): Path = segmentPath(root, id, tmp = true)
    def readPath(root: Path, id: SegmentId): Path = segmentPath(root, id, tmp = false)

    /** Atomic visibility flip: rename in reverse order so segment 0 — the
      * commit marker — lands last (reference transaction.rs:127-136). */
    def commit(root: Path, newIds: Seq[SegmentId], visibleAfter: Seq[SegmentId]): Seq[SegmentId] = {
      stampCommitTs(root, this, newIds) // into the .tmp dirs, pre-visibility
      newIds.sorted.reverse.foreach { id =>
        Files.move(segmentPath(root, id, tmp = true), segmentPath(root, id, tmp = false))
      }
      visibleAfter
    }

    /** Not atomic under renames (see [[Protocol.replace]]): commit the new
      * segments, then delete the superseded directories — visibility IS
      * the listing, so they must go now. The base check happens under the
      * caller's in-process lock (the rename protocol is single-process by
      * design). `prodTxn` and `foldTxn` are unused — visibility is the
      * listing, which carries the ids itself. */
    def replace(root: Path, newIds: Seq[SegmentId], visibleAfter: Seq[SegmentId],
        expectedBase: Seq[SegmentId], prodTxn: Long,
        foldTxn: Option[Long]): Seq[SegmentId] = {
      commit(root, newIds, visibleAfter)
      expectedBase.filterNot(visibleAfter.contains).foreach(deleteSegment(root, _))
      visibleAfter
    }

    def discardInFlight(root: Path, id: SegmentId): Unit =
      deleteRecursively(segmentPath(root, id, tmp = true))

    /** Recovery sweep (reference: database.rs:100-127): delete uncommitted
      * `.tmp` segments; drop committed segments of transactions missing their
      * segment 0 (partial commit — the rename protocol guarantees segment 0
      * lands last, so its absence proves the commit never completed). */
    def recover(root: Path): (Seq[SegmentId], Long) = {
      val entries = listEntries(root)
      // .tmp flushes and seg-0-less partials may belong to a LIVE writer
      // mid-commit — grace-guard their deletion (visibility is unaffected:
      // both are excluded from the committed set below regardless)
      entries.filter(_._3).filterNot(e => withinGrace(e._1))
        .foreach(e => deleteRecursively(e._1))
      val committed = entries.filterNot(_._3).map(_._2)
      val complete = committed.groupBy(_.txnId).filter(_._2.exists(_.segNum == 0))
      // crashed and incomplete txns still burn their id (count .tmp too)
      val maxTxn = (entries.map(_._2.txnId) :+ 0L).max
      (complete.values.flatten.toSeq.sorted, maxTxn + 1)
    }

    def deleteSegment(root: Path, id: SegmentId): Unit =
      deleteRecursively(segmentPath(root, id, tmp = false))

    /** Same completeness rule as [[recover]] (txns missing segment 0 never
      * finished their commit), but purely observational. */
    def listCommitted(root: Path): Seq[SegmentId] = {
      val committed = listEntries(root).filterNot(_._3).map(_._2)
      committed.groupBy(_.txnId).filter(_._2.exists(_.segNum == 0))
        .values.flatten.toSeq.sorted
    }
  }

  // ---- manifest protocol --------------------------------------------------

  private def logDir(root: Path): Path = root.resolve("_log")
  private val ManifestName: Regex = """^([0-9a-f]{8})\.json$""".r

  case object ManifestProtocol extends Protocol {
    val name = "manifest"
    val atomicReplace = true

    // visibility comes from the manifest, so segments go straight to their
    // final names — no rename step to need atomicity from the data store
    def writePath(root: Path, id: SegmentId): Path = segmentPath(root, id, tmp = false)
    def readPath(root: Path, id: SegmentId): Path = segmentPath(root, id, tmp = false)

    /** Optimistic multi-writer append: the target set is recomputed from
      * the ON-DISK manifest (not the caller's possibly-stale view) so a
      * concurrent writer's segments survive; a lost publish race re-reads
      * and retries. Txn-id collisions (two writers allocated the same id —
      * possible when both opened the table at the same version) abort: the
      * colliding directory on disk belongs to the OTHER writer. */
    def commit(root: Path, newIds: Seq[SegmentId], visibleAfter: Seq[SegmentId]): Seq[SegmentId] =
      publish(root, newIds, replaceAll = false, visibleAfter)

    /** Atomic swap to exactly `visibleAfter`; aborts if ANY commit landed
      * since the caller's `expectedBase` snapshot — observed either in the
      * manifest content before publishing or as a lost publish race (see
      * [[Protocol.replace]]). */
    def replace(root: Path, newIds: Seq[SegmentId], visibleAfter: Seq[SegmentId],
        expectedBase: Seq[SegmentId], prodTxn: Long,
        foldTxn: Option[Long]): Seq[SegmentId] =
      publish(root, newIds, replaceAll = true, visibleAfter, expectedBase, prodTxn, foldTxn)

    private def publish(root: Path, newIds: Seq[SegmentId], replaceAll: Boolean,
        intended: Seq[SegmentId], expectedBase: Seq[SegmentId] = Seq.empty,
        prodTxn: Long = 0L, foldTxn: Option[Long] = None): Seq[SegmentId] = {
      stampCommitTs(root, this, newIds) // dirs are final-named, still invisible
      // this commit's touched chunk keys, recorded in the manifest so
      // serializable conflict detection is a METADATA read (walk the new
      // manifests, not the new segments' file trees). One walk of our OWN
      // just-written directories, outside the retry loop.
      val newChunks = newIds.flatMap(id =>
        chunkDirsOf(segmentPath(root, id, tmp = false))).distinct.sorted
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

    def discardInFlight(root: Path, id: SegmentId): Unit =
      deleteRecursively(segmentPath(root, id, tmp = false))

    /** Visible set = latest manifest. Never-referenced segment directories
      * past the claim grace are leftovers of crashed or rolled-back
      * transactions — swept here. Directories REFERENCED by some older
      * manifest version are retained: they are time-travel history below a
      * replace commit (overwrite/truncate/compact/checkpoint), readable via
      * `VERSION AS OF` until an explicit vacuum reclaims them — the
      * lakehouse open-never-deletes-data rule (round 11; before that,
      * superseded commits were swept on every open, which made replace
      * commits destroy history immediately). Next txn id must outrank every
      * id ever seen on disk or recorded as a producing txn (a TRUNCATE
      * leaves no segments but its id stays burned), so ids never rewind. */
    def recover(root: Path): (Seq[SegmentId], Long) = {
      Files.createDirectories(logDir(root))
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

    def deleteSegment(root: Path, id: SegmentId): Unit =
      deleteRecursively(segmentPath(root, id, tmp = false))

    def listCommitted(root: Path): Seq[SegmentId] =
      latestManifest(root).map(readManifest).getOrElse(Seq.empty).sorted

    /** Time travel through the manifest LINEAGE: the newest manifest whose
      * producing txn is <= `t` captures the table state as of `t` (producing
      * txns are monotone across versions), filtered by segment txn for the
      * within-manifest append case. States replaced away by
      * overwrite/truncate/compact resolve to their ORIGINAL manifest, whose
      * directories survive until vacuum — so `VERSION AS OF` below a replace
      * keeps reading. If any directory of the resolved state was already
      * vacuumed, falls back to filtering the LATEST manifest (the pre-round-11
      * behavior: typically the empty table below a replace — never a torn
      * read of half-vacuumed history). */
    override def listCommittedAsOf(root: Path, txn: Long): Seq[SegmentId] = {
      def fallback = listCommitted(root).filter(_.txnId <= txn).sorted
      manifestLineage(root).filter(_._1 <= txn).lastOption match {
        case Some((_, state)) =>
          val visible = state.filter(_.txnId <= txn).sorted
          if (visible.forall(id => Files.isDirectory(readPath(root, id)))) visible
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
      * a checkpoint fold whose recorded boundary is <= `txn`
      * ([[Protocol.replace]]'s `foldTxn`): the fold reshaped only the <= boundary prefix
      * EQUIVALENTLY and removed nothing above it, so filtering its state
      * by segment txn resolves `txn` exactly — this is what keeps CDC
      * across a below-range fold working even after vacuum pruned the
      * pre-fold manifests. Any other version only layers effects above
      * `txn` (appends allocate above the watermark) or replaces state we
      * must look below (overwrite/truncate/compact) — walk to its
      * predecessor; a pruned predecessor is an unprovable hole → None.
      * Walking past version 0 means `txn` predates the first commit. */
    override private[graft] def listCommittedAsOfStrict(root: Path, txn: Long)
        : Option[Seq[SegmentId]] = {
      var v = latestManifest(root) match {
        case None    => return Some(Seq.empty) // never committed
        case Some(p) => manifestVersion(p)
      }
      while (v >= 0) {
        val p = manifestPath(root, v)
        if (!Files.exists(p)) return None // pruned below an unresolved replace
        val text = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
        val prod = """"txn"\s*:\s*(\d+)""".r.findFirstMatchIn(text)
          .map(_.group(1).toLong)
          .getOrElse((readManifest(p).map(_.txnId) :+ 0L).max)
        val fold = """"fold"\s*:\s*(\d+)""".r
          .findFirstMatchIn(text).map(_.group(1).toLong)
        if (prod <= txn || fold.exists(_ <= txn)) {
          val visible = readManifest(p).filter(_.txnId <= txn).sorted
          return if (visible.forall(id => Files.isDirectory(readPath(root, id))))
            Some(visible)
          else None
        }
        v -= 1
      }
      Some(Seq.empty) // every version produced above txn: pre-first-commit
    }

    override def txnWatermark(root: Path): Long =
      ((listCommitted(root).map(_.txnId) :+ 0L) ++
        latestManifest(root).map(readProdTxn)).max

    /** Every segment id any manifest version ever referenced, EXCLUDING ids
      * whose directories are gone (vacuumed) — the discovery set for
      * history/timestamp resolution across replace commits. */
    override private[graft] def lineageSegments(root: Path): Seq[SegmentId] =
      everReferenced(root).toSeq.sorted
        .filter(id => Files.isDirectory(readPath(root, id)))

    /** (producing txn, segment set) per manifest version, version order. */
    private def manifestLineage(root: Path): Seq[(Long, Seq[SegmentId])] =
      listDir(logDir(root))
        .filter(p => ManifestName.matches(p.getFileName.toString))
        .sortBy(_.getFileName.toString)
        .map(p => (readProdTxn(p), readManifest(p)))

    override def sweepUnreferenced(root: Path, keep: Seq[SegmentId]): Int = {
      val keepSet = keep.toSet
      val candidates = listEntries(root).filter(e => !e._3 && !keepSet.contains(e._2))
      if (candidates.isEmpty) return 0 // skip the O(commit-count) manifest scan
      val refEver = everReferenced(root)
      val stale = candidates
        .filter(e => refEver.contains(e._2) || !withinGrace(e._1))
      stale.foreach(e => deleteRecursively(e._1))
      stale.size
    }

    /** Prune a contiguous PREFIX of manifest versions: find the newest
      * version (below the latest) whose state is no longer readable — some
      * referenced directory was vacuumed — and delete every version at or
      * below it. Unreadable versions are dead metadata ([[listCommittedAsOf]]
      * already falls back to filtering the latest manifest for them);
      * fully-readable versions BELOW the newest dead one must go too, or
      * they become stale survivors that lineage resolution picks over the
      * fallback, silently changing `VERSION AS OF` answers (e.g. an empty
      * truncate version is vacuously "readable" — keeping it below a
      * pruned hole makes `VERSION AS OF` of a later pruned txn answer
      * EMPTY instead of the latest-filtered baseline). Prefix-prune is
      * behavior-preserving: a readable version below the hole references
      * only still-live directories, so its state is a subset of the live
      * set, and producing txns are monotone — filtering the latest
      * manifest by txn resolves it identically. The latest version is
      * never a candidate (its directories are the live set; a missing one
      * there is corruption this GC must not paper over). A crash mid-prune
      * just leaves more dead versions for the next run — [[commitsAfter]]
      * treats any missing version as a hole and turns conservative, and
      * [[latestManifest]] probes forward from `_last`, so partial
      * deletion is harmless. */
    override def pruneManifestHistory(root: Path): Int = {
      val latest = latestManifest(root).getOrElse(return 0)
      val old = listDir(logDir(root))
        .filter(p => ManifestName.matches(p.getFileName.toString))
        .filterNot(_.getFileName == latest.getFileName)
        .sortBy(_.getFileName.toString)
      val newestDead = old.lastIndexWhere(p =>
        !readManifest(p).forall(id => Files.isDirectory(readPath(root, id))))
      if (newestDead < 0) return 0
      val dead = old.take(newestDead + 1)
      dead.foreach(p => Files.deleteIfExists(p))
      dead.size
    }

    /** Every segment id any manifest version has EVER referenced — the
      * provably-not-a-live-claim set (O(manifest versions), metadata). */
    private def everReferenced(root: Path): Set[SegmentId] =
      listDir(logDir(root))
        .filter(p => ManifestName.matches(p.getFileName.toString))
        .flatMap(readManifest).toSet

    // ---- O(1) open: the _log/_last pointer --------------------------------
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

    private def lastPointer(root: Path): Path = logDir(root).resolve("_last")
    private def manifestPath(root: Path, version: Long): Path =
      logDir(root).resolve(f"$version%08x.json")

    private def writeLastPointer(root: Path, version: Long): Unit =
      try casStore(root).putReplace(lastPointer(root), String.valueOf(version))
      catch { case _: Exception => () } // best-effort: readers self-heal

    private def latestManifest(root: Path): Option[Path] = {
      val hinted =
        try {
          val p = lastPointer(root)
          if (!Files.exists(p)) None
          else {
            val v = new String(Files.readAllBytes(p), StandardCharsets.UTF_8).trim.toLong
            if (!Files.exists(manifestPath(root, v))) None // corrupt/ahead: fall back
            else {
              var cur = v // stale-by-k pointer: probe forward to the true latest
              while (Files.exists(manifestPath(root, cur + 1))) cur += 1
              Some(manifestPath(root, cur))
            }
          }
        } catch { case _: Exception => None }
      hinted.orElse(
        listDir(logDir(root))
          .filter(p => ManifestName.matches(p.getFileName.toString))
          .sortBy(_.getFileName.toString).lastOption)
    }

    private def manifestVersion(p: Path): Long = p.getFileName.toString match {
      case ManifestName(v) => java.lang.Long.parseLong(v, 16)
      case _               => 0L
    }

    /** One JSON line per segment keeps parsing dependency-free (the schema
      * document already uses the same hand-rolled style). Pairs are parsed
      * from the `"segments"` array ONWARD — `"new_txns": [1, 2]` (round 12
      * commit metadata) would otherwise read as a phantom SegmentId(1, 2). */
    private def readManifest(p: Path): Seq[SegmentId] = {
      val text = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
      val from = text.indexOf("\"segments\"")
      val body = if (from >= 0) text.substring(from) else text
      """\[\s*(\d+)\s*,\s*(\d+)\s*\]""".r.findAllMatchIn(body)
        .map(m => SegmentId(m.group(1).toLong, m.group(2).toInt)).toSeq
    }

    /** The manifest's recorded producing txn; manifests written before the
      * field existed (round <= 10) derive it as the max referenced txn —
      * exact for their append-only histories. */
    private def readProdTxn(p: Path): Long = {
      val text = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
      """"txn"\s*:\s*(\d+)""".r.findFirstMatchIn(text).map(_.group(1).toLong)
        .getOrElse((readManifest(p).map(_.txnId) :+ 0L).max)
    }

    /** Single-file atomic PUT-IF-ABSENT of manifest `<version>.json`:
      * write a temp file, then `Files.createLink` it into place — hard-link
      * creation fails atomically if the target exists, which is the
      * optimistic-concurrency check a second writer must lose. (A
      * `Files.move(ATOMIC_MOVE)` is NOT that check: POSIX rename silently
      * REPLACES an existing target, which would drop the winner's commit.
      * On an object store the equivalent is a conditional put.) Returns
      * false when the version was already taken. */
    private[core] def tryWriteManifest(root: Path, version: Long,
        visible: Seq[SegmentId], prodTxn: Long = 0L,
        newIds: Seq[SegmentId] = Seq.empty, newChunks: Seq[String] = Seq.empty,
        isReplace: Boolean = false, foldTxn: Option[Long] = None): Boolean = {
      val dir = logDir(root)
      Files.createDirectories(dir)
      val prod = (prodTxn +: visible.map(_.txnId)).max
      // commit-scoped fields first ("new_txns"/"chunks"/"replace" — what
      // THIS version added, for metadata-only conflict detection; "fold" —
      // a checkpoint's horizon, see [[Protocol.replace]]), then the full visible
      // set. Chunk dir names are [-_=a-zA-Z0-9/] only — no JSON escaping
      // needed.
      val newTxns = newIds.map(_.txnId).distinct.sorted.mkString(", ")
      val chunks = newChunks.map(c => s""""$c"""").mkString(", ")
      val fold = foldTxn.fold("")(h => s""""fold": $h, """)
      val body = visible.sorted.map(s => s"  [${s.txnId}, ${s.segNum}]").mkString(
        s"""{"txn": $prod, "replace": $isReplace, $fold"new_txns": [$newTxns], """ +
          s""""chunks": [$chunks], "segments": [\n""", ",\n", "\n]}\n")
      // the conditional put IS the commit — one winner per version name
      casStore(root).putIfAbsent(dir.resolve(f"$version%08x.json"), body)
    }

    /** Commit metadata for every manifest version whose producing txn is
      * above `horizon`, newest first — the serializable conflict check's
      * metadata-only read path. Walks BACKWARD from the latest version
      * (O(commits since horizon) single-file reads; no directory listing,
      * no segment file-tree walks). Returns None when any covered version
      * predates chunk recording — the caller falls back to walking segment
      * directories. */
    override private[graft] def commitsAfter(root: Path, horizon: Long)
        : Option[Seq[CommitMeta]] = {
      val latest = latestManifest(root).getOrElse(return Some(Seq.empty))
      var v = manifestVersion(latest)
      val out = Seq.newBuilder[CommitMeta]
      var complete = true
      while (v >= 0 && complete) {
        val p = manifestPath(root, v)
        if (!Files.exists(p)) complete = false // hole: be conservative
        else {
          val text = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
          val prod = """"txn"\s*:\s*(\d+)""".r.findFirstMatchIn(text)
            .map(_.group(1).toLong)
            .getOrElse((readManifest(p).map(_.txnId) :+ 0L).max)
          if (prod <= horizon) return if (complete) Some(out.result()) else None
          val isReplace = """"replace"\s*:\s*(true|false)""".r
            .findFirstMatchIn(text).map(_.group(1) == "true")
          val newTxns = """"new_txns"\s*:\s*\[([^\]]*)\]""".r
            .findFirstMatchIn(text)
            .map(m => """\d+""".r.findAllIn(m.group(1)).map(_.toLong).toSeq)
          val chunks = """"chunks"\s*:\s*\[([^\]]*)\]""".r
            .findFirstMatchIn(text)
            .map(m => """"([^"]*)"""".r.findAllMatchIn(m.group(1)).map(_.group(1)).toSet)
          val fold = """"fold"\s*:\s*(\d+)""".r
            .findFirstMatchIn(text).map(_.group(1).toLong)
          (isReplace, newTxns) match {
            case (Some(r), Some(ts)) =>
              val segs = readManifest(p).filter(s => ts.contains(s.txnId))
              out += CommitMeta(v, prod, ts, segs, chunks, r, fold)
            case _ => complete = false // pre-round-12 manifest in range
          }
          v -= 1
        }
      }
      if (complete) Some(out.result()) else None
    }
  }

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
