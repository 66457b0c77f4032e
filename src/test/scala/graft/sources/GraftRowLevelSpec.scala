package graft.sources

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.core.TestSpark

/** SQL `UPDATE` / `MERGE INTO` / expression-`DELETE` through the DSv2
  * row-level operation path ([[GraftRowLevelOperation]]): statement
  * semantics against hand-computed expectations, MVCC history/time-travel
  * preservation, the SQL cardinality check, dimension-immutability, the
  * scan-side pruning of the row-level read, and a concurrent-writer race
  * through the shared txn claim. */
class GraftRowLevelSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private lazy val root = {
    val dir = Files.createTempDirectory("graft-rowlevel-spec")
    spark.conf.set("spark.sql.catalog.grl", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.grl.root", dir.toString)
    dir
  }

  private def fresh(name: String, n: Int = 10): Unit = {
    root
    spark.sql(s"DROP TABLE IF EXISTS grl.$name")
    spark.sql(s"CREATE TABLE grl.$name (k BIGINT, v BIGINT, w STRING) " +
      "TBLPROPERTIES('graft.dims' = 'k:100')")
    spark.sql(s"INSERT INTO grl.$name SELECT id, id * 10, concat('r', id) FROM range(0, $n)")
  }

  private def state(name: String): Seq[(Long, Long, String)] =
    spark.sql(s"SELECT k, v, w FROM grl.$name ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq

  test("UPDATE ... SET expr WHERE: one upsert transaction, history intact") {
    fresh("u1", 5)
    spark.sql("UPDATE grl.u1 SET v = v + 1, w = concat(w, '!') WHERE k >= 3")
    assert(state("u1") === Seq(
      (0L, 0L, "r0"), (1L, 10L, "r1"), (2L, 20L, "r2"),
      (3L, 31L, "r3!"), (4L, 41L, "r4!")))
    // exactly one new transaction; pre-update state still time-travelable
    assert(spark.sql("SELECT v FROM grl.u1 VERSION AS OF 1 WHERE k = 3").head().getLong(0) === 30L)
    // empty match commits NOTHING (no burned txn, no empty segment)
    spark.sql("UPDATE grl.u1 SET v = -1 WHERE k > 1000")
    val txns = graft.core.MatDb.open(spark, root.resolve("u1").toString)
      .history().collect().map(_.getLong(0)).distinct
    assert(txns.sorted.toSeq === Seq(1L, 2L))
  }

  test("MERGE INTO: all three clause kinds with per-clause conditions") {
    fresh("m1", 5) // keys 0..4
    spark.sql(
      """MERGE INTO grl.m1
        |USING (SELECT id AS k, id * 100 AS nv FROM range(3, 8)) s
        |ON grl.m1.k = s.k
        |WHEN MATCHED AND s.k = 4 THEN DELETE
        |WHEN MATCHED THEN UPDATE SET v = s.nv
        |WHEN NOT MATCHED THEN INSERT (k, v, w) VALUES (s.k, s.nv, 'new')""".stripMargin)
    assert(state("m1") === Seq(
      (0L, 0L, "r0"), (1L, 10L, "r1"), (2L, 20L, "r2"),
      (3L, 300L, "r3"), // matched update
      (5L, 500L, "new"), (6L, 600L, "new"), (7L, 700L, "new"))) // not matched
    // k=4 tombstoned, but alive before the merge txn
    assert(spark.sql("SELECT count(*) FROM grl.m1 VERSION AS OF 1 WHERE k = 4").head().getLong(0) === 1L)
  }

  test("MERGE INTO: NOT MATCHED BY SOURCE update and conditional delete") {
    fresh("m2", 5)
    spark.sql(
      """MERGE INTO grl.m2
        |USING (SELECT id AS k, CAST(0 AS BIGINT) AS nv FROM range(2, 4)) s
        |ON grl.m2.k = s.k
        |WHEN MATCHED THEN UPDATE SET v = s.nv
        |WHEN NOT MATCHED BY SOURCE AND grl.m2.k = 0 THEN DELETE
        |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET w = 'stale'""".stripMargin)
    assert(state("m2") === Seq(
      (1L, 10L, "stale"), (2L, 0L, "r2"), (3L, 0L, "r3"), (4L, 40L, "stale")))
  }

  test("MERGE UPDATE SET * / INSERT * star expansion") {
    fresh("m3", 3)
    spark.sql(
      """MERGE INTO grl.m3
        |USING (SELECT id AS k, -id AS v, 'x' AS w FROM range(2, 5)) s
        |ON grl.m3.k = s.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(state("m3") === Seq(
      (0L, 0L, "r0"), (1L, 10L, "r1"), (2L, -2L, "x"), (3L, -3L, "x"), (4L, -4L, "x")))
  }

  test("MERGE WITH SCHEMA EVOLUTION adds source-only columns; plain MERGE does not") {
    fresh("e1", 4)
    spark.sql(
      """MERGE WITH SCHEMA EVOLUTION INTO grl.e1
        |USING (SELECT id AS k, -id AS v, 'm' AS w,
        |              CAST(id * 1.5 AS DOUBLE) AS extra FROM range(2, 6)) s
        |ON grl.e1.k = s.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val rows = spark.sql("SELECT k, v, w, extra FROM grl.e1 ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        if (r.isNullAt(3)) null else r.getDouble(3)))
    assert(rows.toSeq === Seq(
      (0L, 0L, "r0", null), (1L, 10L, "r1", null), // pre-evolution rows read null
      (2L, -2L, "m", 3.0), (3L, -3L, "m", 4.5),
      (4L, -4L, "m", 6.0), (5L, -5L, "m", 7.5)))
    // WITHOUT the clause, an extra source column does not widen the table
    fresh("e2", 3)
    spark.sql(
      """MERGE INTO grl.e2
        |USING (SELECT id AS k, -id AS v, 'm' AS w, id AS sneaky FROM range(0, 3)) s
        |ON grl.e2.k = s.k
        |WHEN MATCHED THEN UPDATE SET *""".stripMargin)
    assert(spark.sql("SELECT * FROM grl.e2").columns.toSeq === Seq("k", "v", "w"))
  }

  test("SQL cardinality check: a target row matching two source rows errors") {
    fresh("c1", 3)
    val err = intercept[Exception](spark.sql(
      """MERGE INTO grl.c1
        |USING (SELECT 2 AS k, id AS nv FROM range(0, 2)) s
        |ON grl.c1.k = s.k
        |WHEN MATCHED THEN UPDATE SET v = s.nv""".stripMargin))
    assert(err.getMessage.contains("MERGE_CARDINALITY_VIOLATION"))
    assert(state("c1") === Seq((0L, 0L, "r0"), (1L, 10L, "r1"), (2L, 20L, "r2")),
      "a failed merge must commit nothing")
  }

  test("dimensions are immutable row identity: assigning them fails, nothing commits") {
    fresh("d1", 3)
    val err = intercept[Exception](spark.sql("UPDATE grl.d1 SET k = k + 100 WHERE v = 0"))
    assert(err.getMessage.contains("row identity")
      || Option(err.getCause).exists(_.getMessage.contains("row identity"))
      || err.getMessage.contains("dimension"))
    assert(state("d1") === Seq((0L, 0L, "r0"), (1L, 10L, "r1"), (2L, 20L, "r2")))
  }

  test("DELETE with a subquery predicate rides the row-level path") {
    fresh("s1", 6)
    spark.sql("DELETE FROM grl.s1 WHERE k IN (SELECT id * 2 FROM range(0, 3))")
    assert(state("s1").map(_._1) === Seq(1L, 3L, 5L))
  }

  test("row-level read prunes: dimension predicate reaches the scan and the chunk dirs") {
    fresh("p1", 1000)
    val plan = spark.sql(
      "EXPLAIN FORMATTED UPDATE grl.p1 SET v = 0 WHERE k BETWEEN 200 AND 250")
      .head().getString(0)
    assert(plan.contains("PushedFilters: [GreaterThanOrEqual(k,200), LessThanOrEqual(k,250)]"), plan)
    assert(plan.contains("(_ck_k#") && plan.contains("PartitionFilters"), plan)
    assert(plan.contains("max_by"), "row-level read must resolve MVCC before merging:\n" + plan)
  }

  test("concurrent UPDATEs on disjoint ranges both commit (distinct claimed txns)") {
    fresh("r1", 40)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    val f1 = Future(spark.sql("UPDATE grl.r1 SET v = -1 WHERE k < 20"))
    val f2 = Future(spark.sql("UPDATE grl.r1 SET v = -2 WHERE k >= 20"))
    Await.result(f1, 120.seconds); Await.result(f2, 120.seconds)
    val got = state("r1")
    assert(got.size === 40)
    assert(got.forall { case (k, v, _) => if (k < 20) v === -1L else v === -2L })
    val txns = graft.core.MatDb.open(spark, root.resolve("r1").toString)
      .history().collect().map(_.getLong(0)).distinct
    assert(txns.size === 3, s"two updates must claim two distinct txns: ${txns.sorted.toSeq}")
  }

  test("historical snapshots are read-only: UPDATE/MERGE on VERSION AS OF fails") {
    fresh("v1", 3)
    spark.sql("UPDATE grl.v1 SET v = 1 WHERE k = 0") // make version 1 historical
    val err = intercept[Exception](
      spark.sql("UPDATE grl.v1 VERSION AS OF 1 SET v = 9 WHERE k = 0"))
    assert(err.getMessage.nonEmpty)
    assert(spark.sql("SELECT v FROM grl.v1 WHERE k = 0").head().getLong(0) === 1L)
  }

  test("multi-dimension table: merge routes chunks and keys correctly") {
    root
    spark.sql("DROP TABLE IF EXISTS grl.md")
    spark.sql("CREATE TABLE grl.md (a BIGINT, b BIGINT, x DOUBLE) " +
      "TBLPROPERTIES('graft.dims' = 'a:10,b:10')")
    spark.sql("INSERT INTO grl.md SELECT id % 5, id, id * 1.5 FROM range(0, 50)")
    spark.sql(
      """MERGE INTO grl.md
        |USING (SELECT id % 5 AS a, id AS b, -1.0 AS nx FROM range(0, 60)) s
        |ON grl.md.a = s.a AND grl.md.b = s.b
        |WHEN MATCHED AND grl.md.b < 10 THEN UPDATE SET x = s.nx
        |WHEN NOT MATCHED THEN INSERT (a, b, x) VALUES (s.a, s.b, 99.0)""".stripMargin)
    val agg = spark.sql(
      """SELECT count(*),
        |       sum(CASE WHEN x = -1.0 THEN 1 ELSE 0 END),
        |       sum(CASE WHEN x = 99.0 THEN 1 ELSE 0 END) FROM grl.md""".stripMargin).head()
    assert((agg.getLong(0), agg.getLong(1), agg.getLong(2)) === ((60L, 10L, 10L)))
    spark.sql("DROP TABLE grl.md")
  }

  // ---- graft.isolation = serializable (round 11) --------------------------

  test("serializable: racing UPDATE v = v + 1 never loses an increment; the loser aborts loudly") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    root
    // parameterized over BOTH stores: the serializable publish CAS runs on
    // putIfAbsent, which objectsim linearizes with a FileLock — racing DML
    // must behave identically over the sim
    for (store <- Seq("posix", "objectsim")) {
    var sawAbort = false
    var attempts = 0
    while (!sawAbort && attempts < 3) {
      attempts += 1
      spark.sql("DROP TABLE IF EXISTS grl.ser")
      spark.sql("CREATE TABLE grl.ser (k BIGINT, v BIGINT) " +
        "TBLPROPERTIES('graft.dims' = 'k:100', 'graft.isolation' = 'serializable', " +
        s"'graft.store' = '$store')")
      spark.sql("INSERT INTO grl.ser SELECT id, 0 FROM range(0, 10)")
      def inc(): Future[Boolean] = Future {
        try { spark.sql("UPDATE grl.ser SET v = v + 1"); true }
        catch {
          case e: Throwable =>
            assert(hasConflictCause(e),
              s"an aborted serializable update must surface the conflict, " +
                s"got ${e.getClass.getName}: ${e.getMessage}")
            false
        }
      }
      val (a, b) = (inc(), inc())
      val ok = Seq(Await.result(a, 180.seconds), Await.result(b, 180.seconds))
      val successes = ok.count(identity)
      assert(successes >= 1, "at least one update must win")
      // THE invariant: observed increments == successful statements — a
      // newest-wins table would show v = 1 with both statements "succeeding"
      val vs = spark.sql("SELECT DISTINCT v FROM grl.ser").collect().map(_.getLong(0)).toSeq
      assert(vs === Seq(successes.toLong),
        s"no lost update: $successes successful increments must all be visible, got $vs")
      sawAbort = successes == 1
    }
    assert(sawAbort,
      s"[$store] in 3 racing attempts at least one run must produce a serializable abort")
    spark.sql("DROP TABLE grl.ser")
    }
  }

  test("serializable: disjoint-chunk concurrent updates both commit (no false abort)") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    root
    spark.sql("DROP TABLE IF EXISTS grl.serd")
    spark.sql("CREATE TABLE grl.serd (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES('graft.dims' = 'k:10', 'graft.isolation' = 'serializable')")
    spark.sql("INSERT INTO grl.serd SELECT id, 0 FROM range(0, 40)")
    // chunk 0 (k 0..9) vs chunk 3 (k 30..39): no shared chunk => no conflict
    val f1 = Future(spark.sql("UPDATE grl.serd SET v = 1 WHERE k < 10"))
    val f2 = Future(spark.sql("UPDATE grl.serd SET v = 2 WHERE k >= 30"))
    Await.result(f1, 180.seconds); Await.result(f2, 180.seconds)
    val got = spark.sql("SELECT k, v FROM grl.serd ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.forall { case (k, v) =>
      if (k < 10) v == 1L else if (k >= 30) v == 2L else v == 0L })
  }

  test("serializable: the filter-DELETE path conflict-checks its tombstone publish too") {
    root
    spark.sql("DROP TABLE IF EXISTS grl.serdel")
    spark.sql("CREATE TABLE grl.serdel (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES('graft.dims' = 'k:10', 'graft.isolation' = 'serializable')")
    spark.sql("INSERT INTO grl.serdel SELECT id, 0 FROM range(0, 20)") // txn 1
    val dir = root.resolve("serdel").toString
    import spark.implicits._

    // DETERMINISTIC conflict: a tombstone whose read snapshot (horizon 1)
    // predates txn 2's commit on the same chunk must abort at publish —
    // this is exactly the state a DELETE racing an UPDATE lands in
    spark.sql("UPDATE grl.serdel SET v = 7 WHERE k < 10") // txn 2, chunk 0
    val doomed = Seq((0L, 0L)).toDF("k", "v")
    val e = intercept[java.util.ConcurrentModificationException] {
      GraftInsert.tombstone(spark, dir, doomed, serializableSince = Some(1L))
    }
    assert(e.getMessage.contains("serializable"))
    assert(spark.sql("SELECT count(*) FROM grl.serdel").head().getLong(0) === 20L,
      "the aborted delete must leave nothing behind")

    // a FRESH delete (snapshot at the current watermark) commits fine
    spark.sql("DELETE FROM grl.serdel WHERE k = 0")
    assert(spark.sql("SELECT count(*) FROM grl.serdel").head().getLong(0) === 19L)

    // disjoint chunks never false-abort: txn on chunk 1 vs delete of chunk 0
    GraftInsert.append(spark, dir, Seq((15L, 1L)).toDF("k", "v")) // chunk 1
    GraftInsert.tombstone(spark, dir, Seq((1L, 0L)).toDF("k", "v"),
      serializableSince = Some(3L)) // stale horizon, but only chunk 1 moved...
    assert(spark.sql("SELECT count(*) FROM grl.serdel WHERE k = 1").head().getLong(0) === 0L)
    spark.sql("DROP TABLE grl.serdel")
  }

  test("serializable: a racing TRUNCATE aborts a stale row-level publish") {
    // a replace commit (TRUNCATE/overwrite/compact) removes rows in
    // arbitrary chunks, so it must conflict with every row-level write
    // whose snapshot predates it. The pre-round-12 dir-walk check could
    // not see a truncate at all (it leaves no segments above the horizon)
    // and silently published the stale delta on top of the empty table.
    root
    import spark.implicits._
    spark.sql("DROP TABLE IF EXISTS grl.sertr")
    spark.sql("CREATE TABLE grl.sertr (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES('graft.dims' = 'k:10', 'graft.isolation' = 'serializable')")
    spark.sql("INSERT INTO grl.sertr SELECT id, 0 FROM range(0, 20)") // txn 1
    spark.sql("TRUNCATE TABLE grl.sertr")                             // txn 2, replace
    val dir = root.resolve("sertr").toString
    val e = intercept[java.util.ConcurrentModificationException] {
      GraftInsert.tombstone(spark, dir, Seq((0L, 0L)).toDF("k", "v"),
        serializableSince = Some(1L))
    }
    assert(e.getMessage.contains("serializable"))
    assert(spark.sql("SELECT count(*) FROM grl.sertr").head().getLong(0) === 0L)
    spark.sql("DROP TABLE grl.sertr")
  }

  test("manifests record commit-scoped txns + chunks; commitsAfter reads them back") {
    root
    spark.sql("DROP TABLE IF EXISTS grl.meta")
    spark.sql("CREATE TABLE grl.meta (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES('graft.dims' = 'k:10')")
    spark.sql("INSERT INTO grl.meta SELECT id, 0 FROM range(0, 20)")  // txn 1: chunks 0,1
    spark.sql("UPDATE grl.meta SET v = 1 WHERE k < 10")               // txn 2: chunk 0
    spark.sql("TRUNCATE TABLE grl.meta")                              // txn 3: replace
    val dir = root.resolve("meta")
    val all = graft.core.Protocol.commitsAfter(dir, 0L)
      .getOrElse(fail("round-12 manifests must support the metadata conflict path"))
    assert(all.exists(c => c.isReplace && c.chunks.exists(_.isEmpty)),
      s"the truncate must be recorded as an empty replace, got $all")
    assert(all.exists(c => c.newTxns == Seq(2L) && c.chunks.exists(_ == Set("_ck_k=0"))),
      s"the update must record txn 2 touching only chunk 0, got $all")
    assert(all.exists(c => c.newTxns == Seq(1L) &&
        c.chunks.exists(_ == Set("_ck_k=0", "_ck_k=1"))),
      s"the insert must record txn 1 touching chunks 0 and 1, got $all")
    // horizon filtering: only commits above the horizon are returned
    val recent = graft.core.Protocol.commitsAfter(dir, 2L)
      .getOrElse(fail("metadata path expected"))
    assert(recent.forall(_.prodTxn > 2L) && recent.exists(_.isReplace))
    assert(!recent.exists(_.newTxns.contains(1L)))
    spark.sql("DROP TABLE grl.meta")
  }

  test("serializable granularity=key: disjoint-key same-chunk commits both land") {
    root
    import spark.implicits._
    spark.sql("DROP TABLE IF EXISTS grl.serkey")
    spark.sql("CREATE TABLE grl.serkey (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES('graft.dims' = 'k:100', 'graft.isolation' = 'serializable', " +
      "'graft.isolation.granularity' = 'key')")
    spark.sql("INSERT INTO grl.serkey SELECT id, 0 FROM range(0, 20)") // txn 1, chunk 0
    val dir = root.resolve("serkey").toString

    // same chunk (k:100 => all keys in chunk 0), DIFFERENT key: txn 2
    // updates k=1, then a tombstone of k=2 with a STALE horizon (1) —
    // chunk-granular detection would abort; the key digests prove
    // disjointness, so it commits
    spark.sql("UPDATE grl.serkey SET v = 7 WHERE k = 1") // txn 2
    GraftInsert.tombstone(spark, dir, Seq((2L, 0L)).toDF("k", "v"),
      serializableSince = Some(1L))
    assert(spark.sql("SELECT count(*) FROM grl.serkey").head().getLong(0) === 19L,
      "the disjoint-key tombstone must commit under granularity=key")
    assert(spark.sql("SELECT v FROM grl.serkey WHERE k = 1").head().getLong(0) === 7L)

    // SAME key still aborts: tombstone k=1 with a horizon below txn 2
    val e = intercept[java.util.ConcurrentModificationException] {
      GraftInsert.tombstone(spark, dir, Seq((1L, 0L)).toDF("k", "v"),
        serializableSince = Some(1L))
    }
    assert(e.getMessage.contains("serializable"))

    // and the DEFAULT chunk granularity still aborts the disjoint-key case
    spark.sql("DROP TABLE IF EXISTS grl.serchunk")
    spark.sql("CREATE TABLE grl.serchunk (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES('graft.dims' = 'k:100', 'graft.isolation' = 'serializable')")
    spark.sql("INSERT INTO grl.serchunk SELECT id, 0 FROM range(0, 20)")
    spark.sql("UPDATE grl.serchunk SET v = 7 WHERE k = 1")
    val e2 = intercept[java.util.ConcurrentModificationException] {
      GraftInsert.tombstone(spark, root.resolve("serchunk").toString,
        Seq((2L, 0L)).toDF("k", "v"), serializableSince = Some(1L))
    }
    assert(e2.getMessage.contains("serializable"))
    Seq("serkey", "serchunk").foreach(t => spark.sql(s"DROP TABLE grl.$t"))
  }

  test("granularity=key: over-cap deltas record bloom digests; disjoint writers still both commit") {
    root
    import spark.implicits._
    spark.sql("DROP TABLE IF EXISTS grl.serbloom")
    spark.sql("CREATE TABLE grl.serbloom (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES('graft.dims' = 'k:10000', 'graft.isolation' = 'serializable', " +
      "'graft.isolation.granularity' = 'key')")
    spark.sql("INSERT INTO grl.serbloom SELECT id, 0 FROM range(0, 6000)") // txn 1
    val dir = root.resolve("serbloom")
    // txn 2 writes 5000 keys — over KeyDigestCap, so the digest on disk
    // must be a BLOOM, not exact (and not absent, the old degradation)
    spark.sql("UPDATE grl.serbloom SET v = 7 WHERE k < 5000")
    val proto = graft.core.Protocol
    val txn2Segs = proto.listCommitted(dir).filter(_.txnId == 2L)
    assert(txn2Segs.nonEmpty)
    val digest = graft.core.Storage.readKeyDigest(graft.core.Storage.segmentPath(dir, txn2Segs.head))
    assert(digest.exists(_.isInstanceOf[graft.core.Storage.BloomKeys]),
      s"a 5000-key delta must record a bloom digest, got $digest")

    // exact-vs-bloom: a same-chunk tombstone of a key OUTSIDE the update's
    // write set, with a stale horizon — the bloom proves disjointness
    GraftInsert.tombstone(spark, dir.toString, Seq((5500L, 0L)).toDF("k", "v"),
      serializableSince = Some(1L)) // txn 3
    assert(spark.sql("SELECT count(*) FROM grl.serbloom").head().getLong(0) === 5999L,
      "a disjoint-key tombstone must commit against an over-cap bloom digest")
    // a key INSIDE the update's write set still aborts (bloom has no
    // false negatives)
    val e = intercept[java.util.ConcurrentModificationException] {
      GraftInsert.tombstone(spark, dir.toString, Seq((100L, 0L)).toDF("k", "v"),
        serializableSince = Some(1L))
    }
    assert(e.getMessage.contains("serializable"))

    // bloom-vs-exact: OUR side over-cap (4500-key tombstone), their side
    // the exact txn-3 digest — still provably disjoint, still commits
    GraftInsert.tombstone(spark, dir.toString,
      spark.range(500, 5000).select($"id".as("k"), org.apache.spark.sql.functions.lit(0L).as("v")),
      serializableSince = Some(2L)) // txn 4
    assert(spark.sql("SELECT count(*) FROM grl.serbloom").head().getLong(0) === 1499L)

    // bloom-vs-bloom has no sound emptiness test: two over-cap writers
    // stay chunk-granular — conservative abort even on disjoint keys
    val e2 = intercept[java.util.ConcurrentModificationException] {
      GraftInsert.tombstone(spark, dir.toString,
        spark.range(6000, 12000).select($"id".as("k"), org.apache.spark.sql.functions.lit(0L).as("v")),
        serializableSince = Some(2L))
    }
    assert(e2.getMessage.contains("serializable"))
    spark.sql("DROP TABLE grl.serbloom")
  }

  test("serializable DML over the object-store sim works end to end") {
    root
    import spark.implicits._
    spark.sql("DROP TABLE IF EXISTS grl.oser")
    spark.sql("CREATE TABLE grl.oser (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES('graft.dims' = 'k:10', 'graft.isolation' = 'serializable', " +
      "'graft.store' = 'objectsim')")
    val dir = root.resolve("oser")
    assert(java.nio.file.Files.readAllLines(dir.resolve("_store")).get(0) === "objectsim")
    spark.sql("INSERT INTO grl.oser SELECT id, 0 FROM range(0, 20)") // txn 1
    spark.sql("UPDATE grl.oser SET v = 7 WHERE k < 10")              // txn 2, chunk 0
    assert(spark.sql("SELECT sum(v) FROM grl.oser").head().getLong(0) === 70L)
    // conflict detection runs on the sim's conditional-put manifests too
    val e = intercept[java.util.ConcurrentModificationException] {
      GraftInsert.tombstone(spark, dir.toString, Seq((0L, 0L)).toDF("k", "v"),
        serializableSince = Some(1L))
    }
    assert(e.getMessage.contains("serializable"))
    // and the metadata path recorded the commits' chunks
    val meta = graft.core.Protocol.commitsAfter(dir, 1L)
      .getOrElse(fail("metadata conflict path expected over objectsim"))
    assert(meta.exists(c => c.newTxns == Seq(2L) && c.chunks.exists(_ == Set("_ck_k=0"))))
    spark.sql("DELETE FROM grl.oser WHERE k = 3") // fresh snapshot: commits
    assert(spark.sql("SELECT count(*) FROM grl.oser").head().getLong(0) === 19L)
    spark.sql("DROP TABLE grl.oser")
  }

  test("graft.isolation is persisted, alterable, and surfaced in properties") {
    root
    spark.sql("DROP TABLE IF EXISTS grl.iso")
    spark.sql("CREATE TABLE grl.iso (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES('graft.dims' = 'k:100')")
    def isolation(): Option[String] =
      spark.sql("SHOW TBLPROPERTIES grl.iso").collect()
        .find(_.getString(0) == "graft.isolation").map(_.getString(1))
    assert(isolation() === None, "default: no isolation property (newest-wins)")
    spark.sql("ALTER TABLE grl.iso SET TBLPROPERTIES('graft.isolation' = 'serializable')")
    assert(isolation() === Some("serializable"))
    spark.sql("ALTER TABLE grl.iso UNSET TBLPROPERTIES('graft.isolation')")
    assert(isolation() === None)
    // structural properties stay immutable
    val err = intercept[Exception](
      spark.sql("ALTER TABLE grl.iso SET TBLPROPERTIES('graft.dims' = 'k:5')"))
    assert(err.getMessage.contains("structural"))
    spark.sql("DROP TABLE grl.iso")
  }

  /** The serializable abort may surface wrapped by Spark's command
    * execution — accept it anywhere on the cause chain. */
  private def hasConflictCause(e: Throwable): Boolean = {
    var t: Throwable = e
    while (t != null) {
      if (t.isInstanceOf[java.util.ConcurrentModificationException]) return true
      t = t.getCause
    }
    false
  }
}
