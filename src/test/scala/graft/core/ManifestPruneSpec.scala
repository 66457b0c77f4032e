package graft.core

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Manifest-history pruning (Storage.pruneManifestHistory, run by
  * MatDb.vacuum): once the segment sweep reclaims replaced history, the
  * manifest versions that referenced it can serve no read — dropping them
  * keeps `_log/` O(live history) instead of O(every commit ever), without
  * changing any observable result (the pruned versions' reads already
  * fell back to latest-manifest filtering). */
class ManifestPruneSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def freshDb(): (MatDb, Path) = {
    val dir = Files.createTempDirectory("graft-mprune")
    (MatDb.create(spark,
      MatSchema(Seq(Dimension("k", 100)), Seq(ValueCol("v"))),
      dir.toString, "manifest"), dir)
  }

  private def append(db: MatDb, base: Long): Long = {
    import spark.implicits._
    val t = db.newTransaction()
    t.addRows((0L until 10L).map(k => (k, base + k)).toDF("k", "v"))
    t.commit()
    db.txnWatermark
  }

  private def manifests(root: Path): Seq[String] =
    Storage.listDir(root.resolve("_log"))
      .map(_.getFileName.toString).filter(_.matches("[0-9a-f]{8}\\.json"))
      .sorted

  test("vacuum prunes exactly the versions whose history the sweep reclaimed") {
    val (db, root) = freshDb()
    (1 to 4).foreach(i => append(db, i * 100L))
    db.compact() // replace commit: the four pre-compact states become history
    append(db, 900L)
    val before = manifests(root)
    assert(before.size == 6, s"4 appends + compact + append, got $before")

    // history is still readable pre-vacuum: time travel below the compact
    val firstTxn = 1L
    assert(db.snapshot(Some(firstTxn)).count() == 10)

    val expectedPostVacuum = {
      // what the fallback path answers once the dirs are gone: the latest
      // manifest filtered by txn — compact's baseline outranks firstTxn
      db.committedSegments.filter(_.txnId <= firstTxn)
    }
    db.vacuum()
    val after = manifests(root)
    assert(after.size == 2, s"compact + trailing append survive, got $after")
    assert(after.forall(before.contains), "prune must never invent versions")

    // observable behavior identical to unpruned-post-sweep: data intact,
    // sub-replace time travel on the fallback path
    assert(db.snapshot().count() == 10)
    assert(db.snapshot(Some(firstTxn)).count() == expectedPostVacuum.size * 10)

    // the table keeps working: new commits, reopen, recovery
    append(db, 1000L)
    val reopened = MatDb.open(spark, root.toString)
    assert(reopened.snapshot().count() == 10)
    assert(reopened.snapshot().agg(max(col("v"))).head.getLong(0) == 1009L)
  }

  test("append-only lineage is never pruned and stays exactly time-travelable") {
    val (db, root) = freshDb()
    val t1 = append(db, 100L); append(db, 200L); append(db, 300L)
    val before = manifests(root)
    db.vacuum()
    assert(manifests(root) == before, "nothing swept -> nothing prunable")
    assert(db.snapshot(Some(t1)).agg(max(col("v"))).head.getLong(0) == 109L)
  }

  test("prefix-prune removes readable survivors below the hole " +
      "(an empty truncate version must not hijack VERSION AS OF)") {
    val (db, root) = freshDb()
    import spark.implicits._
    append(db, 100L)                                    // txn 1
    db.overwrite(Seq.empty[(Long, Long)].toDF("k", "v")) // txn 2: TRUNCATE (empty manifest)
    append(db, 300L)                                    // txn 3
    append(db, 400L)                                    // txn 4
    // pre-prune observation: as-of 3 is txn 3's state
    assert(db.snapshot(Some(3L)).count() == 10)
    assert(db.snapshot(Some(3L)).agg(max(col("v"))).head.getLong(0) == 309L)

    db.checkpoint(3L) // fold txns <= 3 into one baseline; v1/v3/v4 dirs die
    db.vacuum()
    // keep-readable-survivors would retain the empty truncate version v2
    // (vacuously readable) while pruning v1/v3/v4 around it — then
    // VERSION AS OF 3 resolves to v2 and answers EMPTY. Prefix-prune
    // removes everything at or below the newest dead version.
    val survivors = manifests(root)
    assert(survivors.size == 1, s"only the checkpoint version survives, got $survivors")
    assert(db.snapshot(Some(3L)).count() == 10,
      "VERSION AS OF 3 must still answer the txn-3 baseline after vacuum")
    assert(db.snapshot(Some(3L)).agg(max(col("v"))).head.getLong(0) == 309L)
    // current state untouched: txn 4 upserted the same 10 keys, newest wins
    assert(db.snapshot().count() == 10)
    assert(db.snapshot().agg(max(col("v"))).head.getLong(0) == 409L)
  }

  test("the latest manifest is never a prune candidate") {
    val (db, root) = freshDb()
    append(db, 100L)
    // simulate manual damage: delete the live segment dir out from under
    // the manifest — prune must NOT remove the latest version (that would
    // paper over corruption as an empty table)
    val seg = db.committedSegments.head
    Storage.deleteRecursively(Storage.segmentPath(db.root, seg))
    assert(Protocol.pruneManifestHistory(Paths.get(root.toString)) == 0)
    assert(manifests(root).nonEmpty)
  }
}
