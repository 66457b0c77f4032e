package graft.core

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}

/** The atomic primitives the commit protocol needs from a storage system —
  * everything else in [[Storage]] is plain reads, writes and deletes that
  * any store provides.
  *
  *   - `putIfAbsent` — the COMMIT primitive: publish a whole object at a
  *     name iff that name is free; exactly one of N racing writers wins.
  *     Manifests, schema CAS versions.
  *   - `putReplace` — last-writer-wins whole-object publish for things
  *     that are never themselves the commit: the `_last` pointer, the
  *     `schema.json` read mirror, `_props.json`.
  *   - `claimDirectory` — id allocation: create a directory name iff
  *     free (segment claims).
  *   - `shareFile` — materialize one table's file in another (shallow
  *     clone); zero-copy when the store supports it.
  *
  * Two implementations: [[PosixCasStore]] (hard-link conditional put,
  * atomic rename, real directories — the local default) and
  * [[ObjectStoreSim]] (conditional put + overwrite put ONLY — the two
  * calls a real S3/GCS binding has; no links, no rename-atomicity, no
  * native directories). A table selects its store with a `_store` marker
  * at its root ([[Storage.casStore]]); the protocol logic above the seam
  * is identical, which is the point: porting to a real object store means
  * implementing these four methods against the service API, not touching
  * the protocol. */
trait CasStore {
  def name: String

  /** Publish `content` at `target` iff absent. True = this writer won. */
  def putIfAbsent(target: Path, content: Array[Byte]): Boolean

  /** Publish `content` at `target`, replacing any previous object;
    * readers always see a whole object (old or new, never torn). */
  def putReplace(target: Path, content: Array[Byte]): Unit

  /** Claim `dir` iff no other writer has. True = claimed. The directory
    * exists afterwards either way. */
  def claimDirectory(dir: Path): Boolean

  /** Make `from`'s bytes available at `to` (clone plumbing). */
  def shareFile(from: Path, to: Path): Unit

  final def putIfAbsent(target: Path, content: String): Boolean =
    putIfAbsent(target, content.getBytes(StandardCharsets.UTF_8))
  final def putReplace(target: Path, content: String): Unit =
    putReplace(target, content.getBytes(StandardCharsets.UTF_8))
}

/** POSIX filesystem implementation. Conditional put = temp write +
  * `Files.createLink` (hard-link creation fails atomically if the target
  * exists — `Files.move(ATOMIC_MOVE)` is NOT that check: POSIX rename
  * silently REPLACES, which would drop the winner's commit). Replace put =
  * temp write + atomic rename. Claim = `Files.createDirectory`. Share =
  * hard link (same inode, no data copied), copy fallback across devices. */
object PosixCasStore extends CasStore {
  val name = "posix"

  def putIfAbsent(target: Path, content: Array[Byte]): Boolean = {
    Files.createDirectories(target.getParent)
    val tmp = Files.createTempFile(target.getParent, ".put-", ".tmp")
    Files.write(tmp, content)
    try { Files.createLink(target, tmp); true }
    catch { case _: java.nio.file.FileAlreadyExistsException => false }
    finally { Files.deleteIfExists(tmp); () }
  }

  def putReplace(target: Path, content: Array[Byte]): Unit = {
    Files.createDirectories(target.getParent)
    val tmp = Files.createTempFile(target.getParent, ".put-", ".tmp")
    Files.write(tmp, content)
    Files.move(tmp, target, StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
    ()
  }

  def claimDirectory(dir: Path): Boolean =
    try { Files.createDirectory(dir); true }
    catch { case _: java.nio.file.FileAlreadyExistsException => false }

  def shareFile(from: Path, to: Path): Unit = {
    Files.createDirectories(to.getParent)
    try { Files.createLink(to, from); () }
    catch {
      case _: UnsupportedOperationException | _: java.io.IOException =>
        Files.copy(from, to, StandardCopyOption.REPLACE_EXISTING); ()
    }
  }
}

/** Simulated object store: ONLY the two calls a real S3/GCS binding has —
  * conditional put (`If-None-Match: *`) and overwrite put. No hard links
  * (share = byte copy; a real binding would use server-side copy), no
  * rename, no native directories (a claim is a conditional put of a
  * `_dirclaim` marker object under the prefix; `createDirectories` is
  * idempotent prefix bookkeeping on the local simulation).
  *
  * The conditional put is linearized CROSS-PROCESS: check + move run
  * under an exclusive [[java.nio.channels.FileLock]] on a per-directory
  * `.objectsim.lock` object (dot-prefixed — invisible to Spark's file
  * listing and every graft listing). This stands in for the SERVICE's own
  * internal linearization of `If-None-Match: *` — the lock is the sim's
  * implementation detail, not part of the two-call interface the
  * protocol sees — and it means multi-process claim races exercise the
  * same winner-takes-one semantics on this store as on posix (a plain
  * JVM monitor, the round-12 sim, could only serialize in-process racers;
  * the JVM lock REMAINS because POSIX file locks are per-process —
  * overlapping in-JVM acquisitions would throw instead of queueing).
  * Everything above the seam (manifest CAS, schema CAS, claims, clone,
  * crash recovery) runs UNCHANGED over this store — the parameterized
  * core suites are the port's compatibility test. */
object ObjectStoreSim extends CasStore {
  val name = "objectsim"
  private val lock = new Object
  private[core] val ClaimMarker = "_dirclaim"
  private val LockName = ".objectsim.lock"

  private def withDirLock[A](dir: Path)(f: => A): A = {
    val ch = java.nio.channels.FileChannel.open(dir.resolve(LockName),
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.WRITE)
    try {
      val fl = ch.lock()
      try f finally { fl.release() }
    } finally ch.close()
  }

  def putIfAbsent(target: Path, content: Array[Byte]): Boolean = lock.synchronized {
    Files.createDirectories(target.getParent)
    withDirLock(target.getParent) {
      if (Files.exists(target)) false
      else {
        val tmp = Files.createTempFile(target.getParent, ".put-", ".tmp")
        Files.write(tmp, content)
        Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
        true
      }
    }
  }

  def putReplace(target: Path, content: Array[Byte]): Unit = lock.synchronized {
    Files.createDirectories(target.getParent)
    val tmp = Files.createTempFile(target.getParent, ".put-", ".tmp")
    Files.write(tmp, content)
    Files.move(tmp, target, StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
    ()
  }

  def claimDirectory(dir: Path): Boolean = {
    Files.createDirectories(dir)
    putIfAbsent(dir.resolve(ClaimMarker), Array.emptyByteArray)
  }

  def shareFile(from: Path, to: Path): Unit = {
    Files.createDirectories(to.getParent)
    Files.copy(from, to, StandardCopyOption.REPLACE_EXISTING)
    ()
  }
}

object CasStore {
  private val registry = new java.util.concurrent.ConcurrentHashMap[String, CasStore](
    java.util.Map.of(PosixCasStore.name, PosixCasStore, ObjectStoreSim.name, ObjectStoreSim))

  /** The store registered under `name` (a `_store` marker's content or a
    * requested store). An unknown name is refused: silently falling back
    * to posix would commit an object-store table through primitives its
    * store does not have. */
  def forName(name: String): CasStore = {
    val store = registry.get(name)
    if (store == null) {
      val known = registry.keySet.toArray(Array.empty[String]).sorted.mkString(", ")
      throw new IllegalArgumentException(s"unknown graft store '$name' (expected one of $known)")
    }
    store
  }

  /** Register a further store under its name — the seam tests use to
    * interpose fault-injecting decorators. */
  private[graft] def register(store: CasStore): Unit = { registry.put(store.name, store); () }
}
