package graft.core

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** MatDb.checkpoint — horizon-retaining compaction. The contract: fold
  * every txn <= horizon into one baseline, and NOTHING observable above
  * the horizon may change — snapshot, asOf(t >= horizon), and the meaning
  * of every retained upsert/tombstone. Below the horizon, history is gone
  * (that is the reclaimed space). */
class CheckpointSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def freshDb(): MatDb = {
    val dir = Files.createTempDirectory("graft-ckpt").toString
    MatDb.create(spark,
      MatSchema(Seq(Dimension("k", 10)), Seq(ValueCol("v"))), dir, "manifest")
  }

  /** txn1: k=0..9 v=k; txn2: k<5 v=100+k; txn3: delete k=7, insert k=20;
    * txn4: k=3 v=999. */
  private def build(db: MatDb): Unit = {
    import spark.implicits._
    val t1 = db.newTransaction()
    t1.addRows((0L until 10L).map(k => (k, k)).toDF("k", "v")); t1.commit()
    val t2 = db.newTransaction()
    t2.addRows((0L until 5L).map(k => (k, 100L + k)).toDF("k", "v")); t2.commit()
    val t3 = db.newTransaction()
    t3.deleteRows(Seq(7L).toDF("k"))
    t3.addRows(Seq((20L, 20L)).toDF("k", "v")); t3.commit()
    val t4 = db.newTransaction()
    t4.addRows(Seq((3L, 999L)).toDF("k", "v")); t4.commit()
  }

  private def state(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("nothing observable at or above the horizon changes; below it folds") {
    val db = freshDb(); build(db)
    val preSnap = state(db.snapshot())
    val preAsOf1 = state(db.asOf(1L))
    val preAsOf2 = state(db.asOf(2L))
    val preAsOf3 = state(db.asOf(3L))
    val preSegs = db.committedSegments.size

    val tid = db.checkpoint(2L)
    assert(tid === 2L)
    assert(db.committedSegments.count(_.txnId <= 2L) === 1,
      "txns 1 and 2 must fold into one baseline segment")
    assert(db.committedSegments.size < preSegs)
    assert(state(db.snapshot()) === preSnap, "current snapshot must not change")
    assert(state(db.asOf(2L)) === preAsOf2, "time travel TO the horizon survives")
    assert(state(db.asOf(3L)) === preAsOf3, "time travel above the horizon survives")
    // retained tombstone still deletes; retained upsert still wins
    assert(!state(db.snapshot()).contains(7L))
    assert(state(db.snapshot())(3L) === 999L)
    // below the horizon, history resolves through the manifest LINEAGE —
    // the folded-away directories are retained until vacuum (round 11), so
    // time travel below the checkpoint keeps reading its original state
    assert(state(db.asOf(1L)) === preAsOf1,
      "below-horizon time travel reads the original manifest until vacuum")

    // vacuum reclaims the superseded directories and changes nothing
    // current; below-horizon history is now gone (falls back to the
    // latest-manifest filter — empty below the baseline's txn id)
    assert(db.vacuum() > 0)
    assert(state(db.snapshot()) === preSnap)
    assert(db.asOf(1L).count() === 0L,
      "after vacuum the below-horizon history is reclaimed")

    // a fresh open (recovery path) sees the same table
    val reopened = MatDb.open(spark, db.root.toString)
    assert(state(reopened.snapshot()) === preSnap)
    assert(state(reopened.asOf(2L)) === preAsOf2)
  }

  test("checkpoint at the max txn folds everything; a re-checkpoint is harmless") {
    val db = freshDb(); build(db)
    val pre = state(db.snapshot())
    assert(db.checkpoint(4L) === 4L)
    assert(db.committedSegments.size === 1)
    assert(state(db.snapshot()) === pre)
    assert(db.checkpoint(4L) === 4L) // folds the single baseline again
    assert(state(db.snapshot()) === pre)
  }

  test("an all-deleted prefix folds to an empty baseline that still reads") {
    import spark.implicits._
    val db = freshDb()
    val t1 = db.newTransaction()
    t1.addRows(Seq((1L, 1L), (2L, 2L)).toDF("k", "v")); t1.commit()
    val t2 = db.newTransaction()
    t2.deleteRows(Seq(1L, 2L).toDF("k")); t2.commit()
    val t3 = db.newTransaction()
    t3.addRows(Seq((5L, 5L)).toDF("k", "v")); t3.commit()
    assert(db.checkpoint(2L) === 2L)
    assert(state(db.snapshot()) === Map(5L -> 5L))
    assert(db.asOf(2L).count() === 0L)
  }

  test("a commit racing the checkpoint's publish aborts it; nothing is lost") {
    import spark.implicits._
    val db = freshDb(); build(db)
    // the base check runs under the publish lock, so the race is pinned
    // at its seam: a replace whose expectedBase is stale must abort (this
    // is the same conflict path checkpoint() takes when a commit lands
    // between its snapshot and its publish)
    val racer = db.newTransaction()
    racer.addRows(Seq((50L, 50L)).toDF("k", "v")); racer.commit()
    val ex = intercept[java.util.ConcurrentModificationException] {
      db.commitReplace(Seq(SegmentId(99L, 0)), expectedBase = Seq.empty, prodTxn = 99L)
    }
    assert(ex.getMessage.contains("changed"))
    assert(state(db.snapshot())(50L) === 50L)
  }

  test("a concurrent APPEND rebases the checkpoint's publish instead of aborting it") {
    import spark.implicits._
    val db = freshDb(); build(db)
    // a second handle (cross-process stand-in) appends; db's in-memory
    // committed set is now STALE — exactly what checkpoint() sees when an
    // append lands between its snapshot and its publish. The append's txn
    // is above the horizon (ids only move up), so the fold never read it:
    // the publish must rebase onto it, not abort the finished write.
    val other = MatDb.open(spark, db.root.toString)
    val t = other.newTransaction()
    t.addRows(Seq((60L, 60L)).toDF("k", "v")); t.commit()
    val tid = db.checkpoint(2L)
    assert(tid === 2L)
    val s = state(db.snapshot())
    assert(s(60L) === 60L, "the concurrent append's rows survive the fold")
    assert(s(3L) === 999L && !s.contains(7L),
      "retained upserts/tombstones still mean what they meant")
    assert(db.committedSegments.count(_.txnId <= 2L) === 1,
      "the fold itself still happened")
  }

  test("a concurrent REPLACE aborts the checkpoint — the baseline is stale") {
    import spark.implicits._
    val db = freshDb(); build(db)
    val other = MatDb.open(spark, db.root.toString)
    other.overwrite(Seq((1L, 1L)).toDF("k", "v"))
    // the folded prefix (txns <= 2) is GONE from the visible set — a
    // rebase would resurrect overwritten rows; this must abort
    val ex = intercept[java.util.ConcurrentModificationException] {
      db.checkpoint(2L)
    }
    assert(ex.getMessage.contains("folded prefix"))
    assert(state(other.snapshot()) === Map(1L -> 1L),
      "the overwrite's result is untouched")
  }

  test("checkpointIfNeeded folds only past the threshold, keeping retainTxns travelable") {
    val db = freshDb(); build(db) // 4 txns, 4 segment sets
    assert(db.checkpointIfNeeded(maxSegments = 4, retainTxns = 2) === None)
    val pre = state(db.snapshot())
    // threshold 3 < 4 segments: fold everything but the newest 2 txns
    assert(db.checkpointIfNeeded(maxSegments = 3, retainTxns = 2) === Some(2L))
    assert(state(db.snapshot()) === pre)
    assert(db.asOf(3L).count() > 0, "the retained window stays travelable")
    // now at 3 segment sets (baseline + 2): same call is a no-op again
    assert(db.checkpointIfNeeded(maxSegments = 3, retainTxns = 2) === None)
  }

  test("checkpoint preserves the horizon txn's commit timestamp; resolution unchanged above it") {
    val db = freshDb(); build(db)
    val preTs = db.history().collect()
      .map(r => r.getLong(0) -> r.getTimestamp(3).getTime).toMap
    val pre2 = state(db.asOfTimestamp(preTs(2L)))
    db.checkpoint(2L)
    val post = db.history().collect()
      .map(r => r.getLong(0) -> r.getTimestamp(3).getTime).toMap
    assert(post(2L) === preTs(2L),
      "the folded baseline must carry the horizon txn's ORIGINAL wall-clock")
    assert(post(3L) === preTs(3L) && post(4L) === preTs(4L))
    assert(state(db.asOfTimestamp(preTs(2L))) === pre2,
      "TIMESTAMP AS OF at the horizon commit must resolve identically after the fold")
    assert(state(db.asOfTimestamp(preTs(4L))) === state(db.snapshot()))
  }

  test("rename-layout tables upgrade on open and checkpoint like any other") {
    val db = freshDb(); build(db)
    val pre = state(db.snapshot())
    val pre2 = state(db.asOf(2L))
    // the same four commits as a rename-committed directory: no _log/
    Storage.deleteRecursively(db.root.resolve("_log"))
    val up = MatDb.open(spark, db.root.toString)
    assert(state(up.snapshot()) === pre)
    assert(state(up.asOf(2L)) === pre2, "history below version 0 stays readable")
    assert(up.checkpoint(2L) === 2L)
    assert(state(up.snapshot()) === pre)
    assert(state(up.asOf(2L)) === pre2)
    assert(state(MatDb.open(spark, db.root.toString).snapshot()) === pre)
  }
}
