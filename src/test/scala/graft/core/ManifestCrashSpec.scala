package graft.core

import java.nio.file.{Files, Path}
import java.nio.charset.StandardCharsets
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property check of the MANIFEST commit protocol under crash points
  * (VERDICT r4 #8): a writer may die at any step between flushing segment
  * data and publishing the manifest version; recovery must always converge
  * to a COMMITTED PREFIX — exactly the fully-published transactions, no
  * orphan segment directories, and a next-txn-id above every id ever used
  * (crashed transactions burn their id, database.rs:123-126 semantics).
  *
  * The commit flow's observable steps (Protocol):
  *   1. segment directories land at their FINAL names (no rename step);
  *   2. the manifest body is written to a temp file in `_log/`;
  *   3. `Files.createLink` publishes it as `<version>.json` (atomic
  *      put-if-absent — THE commit point).
  * Kill points: before 1 (nothing), after 1 (orphan segments), after 2
  * (orphan segments + stray temp manifest), after 3 (committed). Replace
  * commits (compact/overwrite) share the same publish path and kill
  * points. No Spark involved — recovery reads only names and manifests. */
abstract class ManifestCrashBehaviors(storeName: String) extends AnyFunSuite
    with org.scalatest.BeforeAndAfterAll {
  private val proto = Protocol

  /** A table root with the suite's CasStore pinned — all protocol
    * operations below route through it. */
  protected def mkRoot(prefix: String): Path = {
    val root = Files.createTempDirectory(s"$prefix-$storeName")
    Storage.writeStoreMarker(root, CasStore.forName(storeName))
    Files.createDirectories(root.resolve("_log"))
    root
  }

  // this harness models a SINGLE-writer crash/recover cycle, where a full
  // sweep is correct — disable the multi-writer claim grace so the
  // "disk == committed" invariant below stays exact (the grace behavior
  // itself is pinned in CoreSpec's live-claim test)
  private var savedGrace: Option[String] = None
  override def beforeAll(): Unit = {
    savedGrace = sys.props.get("graft.recovery.grace.ms")
    sys.props("graft.recovery.grace.ms") = "0"
  }
  override def afterAll(): Unit =
    savedGrace match {
      case Some(v) => sys.props("graft.recovery.grace.ms") = v
      case None => sys.props -= "graft.recovery.grace.ms"; ()
    }

  private sealed trait Op
  private case class Append(nSegs: Int, kill: Int) extends Op   // kill ∈ 0..3
  private case class Replace(kill: Int) extends Op              // compacts to 1 seg

  private val opGen: Gen[Op] = Gen.frequency(
    5 -> (for { n <- Gen.choose(1, 3); k <- Gen.choose(0, 3) } yield Append(n, k)),
    2 -> Gen.choose(0, 3).map(Replace(_)))

  private def mkSegDirs(root: Path, ids: Seq[SegmentId]): Unit =
    ids.foreach { id =>
      val dir = Storage.segmentPath(root, id)
      Files.createDirectories(dir)
      Files.write(dir.resolve("part-0.parquet"), Array[Byte](1, 2, 3))
    }

  /** Step 2 without step 3: the stray temp file a crash leaves behind. */
  private def mkStrayTempManifest(root: Path): Unit = {
    val dir = root.resolve("_log")
    Files.createDirectories(dir)
    val tmp = Files.createTempFile(dir, ".manifest-", ".tmp")
    Files.write(tmp, "{\"segments\": []}\n".getBytes(StandardCharsets.UTF_8))
  }

  private def onDiskSegments(root: Path): Set[SegmentId] = {
    val s = Files.list(root)
    try {
      val it = s.iterator()
      val buf = Set.newBuilder[SegmentId]
      while (it.hasNext) {
        val n = it.next().getFileName.toString
        Storage.decode(n).foreach(buf += _)
      }
      buf.result()
    } finally s.close()
  }

  private def sample[A](g: Gen[A], seed: Long): A =
    g.apply(Gen.Parameters.default, Seed(seed)).get

  test("recovery converges to a committed prefix from every kill point") {
    for (seed <- 1L to 6L) {
      val root = mkRoot(s"graft-manifest-crash-$seed")
      var committed: Vector[SegmentId] = Vector.empty // the model
      var nextTxn = 1L

      val ops = sample(Gen.listOfN(30, opGen), seed)
      ops.foreach { op =>
        val txn = nextTxn
        // an id is BURNED by the recovery that OBSERVES its on-disk trace
        // (segment dirs present at reopen): that recover must hand out a
        // higher id. After the sweep removes the trace there is nothing
        // left to resurrect, so a later reopen may legitimately reuse it
        // (publish-time id-collision checks guard the multi-writer case).
        // A crash BEFORE any write externalizes nothing — reusable at once.
        val leftTrace = op match {
          case Append(_, kill) => kill >= 1
          case Replace(kill)   => kill >= 1
        }
        op match {
          case Append(nSegs, kill) =>
            val ids = (0 until nSegs).map(SegmentId(txn, _))
            if (kill >= 1) mkSegDirs(root, ids)
            if (kill >= 2) mkStrayTempManifest(root)
            if (kill >= 3) {
              proto.commit(root, ids)
              committed = (committed ++ ids).sorted.toVector
            }
          case Replace(kill) =>
            val ids = Seq(SegmentId(txn, 0))
            if (kill >= 1) mkSegDirs(root, ids)
            if (kill >= 2) mkStrayTempManifest(root)
            if (kill >= 3) {
              proto.replace(root, ids, ids, expectedBase = committed, prodTxn = txn)
              // superseded dirs stay on disk as time-travel history
              // (round 11); the explicit vacuum below reclaims them
              committed = ids.toVector
            }
        }

        // crash + reopen: recovery must see EXACTLY the committed prefix
        val (recovered, next) = proto.recover(root)
        assert(recovered.sorted === committed.sorted,
          s"seed=$seed op=$op: recovered set must equal the committed prefix")
        // orphan segment directories (kill 1/2 — never referenced by any
        // manifest) are swept by recovery; superseded replace inputs are
        // HISTORY and survive until the explicit vacuum converges disk to
        // exactly the committed set
        proto.sweepUnreferenced(root, recovered)
        assert(onDiskSegments(root) === committed.toSet,
          s"seed=$seed op=$op: no orphan or missing segment directories")
        // the recovery that saw this txn's trace burns its id; and next
        // always outranks everything still committed
        if (leftTrace) assert(next > txn,
          s"seed=$seed op=$op: recover observing txn $txn's trace must burn it (got $next)")
        val maxCommitted = (committed.map(_.txnId) :+ 0L).max
        assert(next > maxCommitted,
          s"seed=$seed op=$op: next txn id $next must outrank committed $maxCommitted")
        nextTxn = next
      }

      // final sanity: reopening again changes nothing (recovery idempotent)
      val (again, next2) = proto.recover(root)
      assert(again.sorted === committed.sorted &&
        next2 > (committed.map(_.txnId) :+ 0L).max)
    }
  }

  test("_last pointer: stale (crash before pointer), missing, corrupt, and ahead all self-heal") {
    val root = mkRoot("graft-manifest-last")
    val last = root.resolve("_log").resolve("_last")

    // two published commits: versions 0 and 1; pointer tracks the latest
    mkSegDirs(root, Seq(SegmentId(1, 0)))
    proto.commit(root, Seq(SegmentId(1, 0)))
    mkSegDirs(root, Seq(SegmentId(2, 0)))
    proto.commit(root, Seq(SegmentId(2, 0)))
    assert(new String(Files.readAllBytes(last)).trim === "1")

    // CRASH between manifest write and pointer write: publish version 2
    // through the raw conditional put only — the pointer stays at 1
    mkSegDirs(root, Seq(SegmentId(3, 0)))
    assert(proto.tryWriteManifest(root, 2L,
      Seq(SegmentId(1, 0), SegmentId(2, 0), SegmentId(3, 0)), prodTxn = 3L))
    assert(new String(Files.readAllBytes(last)).trim === "1", "pointer is stale by one")
    // readers probe FORWARD from the stale pointer and see version 2
    assert(proto.listCommitted(root).map(_.txnId).sorted === Seq(1L, 2L, 3L))
    assert(proto.txnWatermark(root) === 3L)

    // missing pointer: fall back to the listing
    Files.delete(last)
    assert(proto.listCommitted(root).map(_.txnId).sorted === Seq(1L, 2L, 3L))

    // corrupt pointer: fall back to the listing
    Files.write(last, "not-a-number".getBytes(StandardCharsets.UTF_8))
    assert(proto.listCommitted(root).map(_.txnId).sorted === Seq(1L, 2L, 3L))

    // pointer AHEAD of reality (names a version that does not exist): fall back
    Files.write(last, "7".getBytes(StandardCharsets.UTF_8))
    assert(proto.listCommitted(root).map(_.txnId).sorted === Seq(1L, 2L, 3L))

    // the next publish repairs the pointer
    mkSegDirs(root, Seq(SegmentId(4, 0)))
    proto.commit(root, Seq(SegmentId(4, 0)))
    assert(new String(Files.readAllBytes(last)).trim === "3")
    assert(proto.listCommitted(root).map(_.txnId).sorted === Seq(1L, 2L, 3L, 4L))
  }

  test("a crashed replace never destroys the previous committed state") {
    val root = mkRoot("graft-manifest-replace-crash")
    val base = Seq(SegmentId(1, 0), SegmentId(2, 0))
    mkSegDirs(root, base)
    proto.commit(root, base)

    // compact writes its output segment, then dies before publishing
    mkSegDirs(root, Seq(SegmentId(3, 0)))
    mkStrayTempManifest(root)
    val (recovered, next) = proto.recover(root)
    assert(recovered.sorted === base.sorted, "pre-crash commits survive")
    assert(onDiskSegments(root) === base.toSet, "the half-written compaction is swept")
    assert(next === 4L, "the crashed compaction burned txn 3")

    // the retried compaction (new id) succeeds and supersedes the base
    mkSegDirs(root, Seq(SegmentId(next, 0)))
    proto.replace(root, Seq(SegmentId(next, 0)), Seq(SegmentId(next, 0)),
      expectedBase = base, prodTxn = next)
    val (after, _) = proto.recover(root)
    assert(after === Seq(SegmentId(next, 0)))
    // superseded base dirs are retained as time-travel history across
    // reopen (round 11) — VERSION AS OF below the replace keeps reading —
    // and the explicit vacuum is what reclaims them
    assert(onDiskSegments(root) === base.toSet + SegmentId(next, 0),
      "superseded base dirs retained until vacuum")
    assert(proto.listCommittedAsOf(root, 2L).sorted === base.sorted,
      "time travel below the replace resolves the original manifest")
    proto.sweepUnreferenced(root, after)
    assert(onDiskSegments(root) === Set(SegmentId(next, 0)), "vacuum reclaims history")
    assert(proto.listCommittedAsOf(root, 2L) === Seq.empty,
      "vacuumed history falls back to the latest-manifest filter (empty here)")
  }
}

/** POSIX store (hard-link conditional put) — the local default. */
class ManifestCrashSpec extends ManifestCrashBehaviors("posix")

/** Simulated object store: the same crash-point convergence with ONLY
  * conditional put + overwrite put (the CasStore seam's port proof). */
class ManifestCrashObjectStoreSpec extends ManifestCrashBehaviors("objectsim")
