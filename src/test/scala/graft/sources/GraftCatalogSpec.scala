package graft.sources

import java.nio.file.Files
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{Dimension, MatDb, MatSchema, TestSpark, ValueCol}

/** SQL-native graft reads through the DSv2 catalog: `SELECT ... FROM
  * gcat.t` resolves MVCC newest-wins, `VERSION AS OF n` ≡ `asOf(n)`,
  * provenance stays hidden from `SELECT *`, dimension predicates push below
  * the dedup into the scan while value predicates stay above it. */
class GraftCatalogSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = TestSpark.spark

  private val schema = MatSchema(
    Seq(Dimension("t", 50), Dimension("sensor", 10)), Seq(ValueCol("v")))

  private def batch(rows: Seq[(Long, Long, Long)]) = {
    import org.apache.spark.sql.types._
    val st = StructType(Seq(StructField("t", LongType), StructField("sensor", LongType),
      StructField("v", LongType)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2, r._3)), 3), st)
  }

  // one catalog root per suite run; the catalog object is instantiated once
  // per session, so the root is fixed before first use
  private lazy val root = {
    val dir = Files.createTempDirectory("graft-catalog-spec")
    spark.conf.set("spark.sql.catalog.gcat", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gcat.root", dir.toString)
    dir
  }

  // register `gcat` before any case runs: a case that starts with SQL on
  // gcat must not depend on an earlier case having forced `root`
  override def beforeAll(): Unit = { super.beforeAll(); root; () }

  private def mkTable(name: String): MatDb = {
    val db = MatDb.create(spark, schema, root.resolve(name).toString)
    // txn 1: keys 0..99 at v=1; txn 2: keys 0..49 at v=2; txn 3: 25..29 at
    // v=3 plus new keys 100..109
    Seq(
      (0L until 100L).map(i => (i, i % 10, 1L)),
      (0L until 50L).map(i => (i, i % 10, 2L)),
      (25L until 30L).map(i => (i, i % 10, 3L)) ++
        (100L until 110L).map(i => (i, i % 10, 3L))
    ).foreach { rows =>
      val txn = db.newTransaction(); txn.addRows(batch(rows)); txn.commit()
    }
    db
  }

  test("SELECT * resolves newest-wins and hides provenance; VERSION AS OF = asOf") {
    val db = mkTable("tt")
    val sqlRows = spark.sql("SELECT * FROM gcat.tt")
    assert(sqlRows.columns.toSeq === Seq("t", "sensor", "v"),
      "SELECT * must expose the logical schema only")
    assert(sqlRows.collect().toSet === db.snapshot().collect().toSet)
    val byKey = sqlRows.collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(byKey(27L) === 3L && byKey(40L) === 2L && byKey(80L) === 1L && byKey(105L) === 3L)
    assert(sqlRows.count() === 110)

    // SQL time travel matches the API at every horizon
    (1L to 3L).foreach { v =>
      val sql = spark.sql(s"SELECT * FROM gcat.tt VERSION AS OF $v")
      assert(sql.collect().toSet === db.asOf(v).collect().toSet, s"VERSION AS OF $v")
    }
    assert(spark.sql("SELECT * FROM gcat.tt VERSION AS OF 1").count() === 100)

    // aggregates and ORDER BY compose over the resolved view
    val agg = spark.sql(
      "SELECT v, count(*) AS n FROM gcat.tt GROUP BY v ORDER BY v").collect()
    assert(agg.map(r => r.getLong(0) -> r.getLong(1)).toSeq ===
      Seq(1L -> 50L, 2L -> 45L, 3L -> 15L))
  }

  test("a missing visible segment directory fails snapshot, asOf and catalog SQL loudly") {
    val path = root.resolve("gone")
    val db = MatDb.create(spark, schema, path.toString, "manifest")
    (0L until 3L).foreach { i =>
      val txn = db.newTransaction()
      txn.addRows(batch((0L until 100L).map(k => (i * 100L + k, k % 10, i))))
      txn.commit()
    }
    assert(spark.sql("SELECT count(*) FROM gcat.gone").head().getLong(0) === 300)
    // the manifest still lists txn 2's segment; its directory is gone
    val lost = db.committedSegments.filter(_.txnId == 2L)
      .map(graft.core.Storage.segmentPath(path, _))
    assert(lost.nonEmpty)
    lost.foreach(graft.core.Storage.deleteRecursively)
    def refused(what: String)(read: => Any): Unit = {
      val e = intercept[Exception](read)
      val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
      assert(chain.exists(c => c.isInstanceOf[IllegalStateException] &&
        c.getMessage.contains(lost.head.getFileName.toString)), s"$what: $e")
    }
    // Spark's file index lists a missing root as empty: without the check
    // the catalog would answer 200 rows with no error
    refused("catalog SQL")(spark.sql("SELECT count(*) FROM gcat.gone").collect())
    refused("catalog VERSION AS OF")(
      spark.sql("SELECT count(*) FROM gcat.gone VERSION AS OF 2").collect())
    refused("snapshot")(db.snapshot().count())
    refused("asOf")(db.asOf(2L).count())
    // a version below the lost segment never reads it
    assert(db.asOf(1L).count() === 100)
    graft.core.Storage.deleteRecursively(path)
  }

  test("value predicates stay above the dedup; dimension predicates reach the scan") {
    mkTable("sem")
    // key 10 was overwritten to v=2 in txn 2: filtering on its SUPERSEDED
    // value must return nothing (pre-dedup filtering would resurrect it)
    assert(spark.sql("SELECT * FROM gcat.sem WHERE t = 10 AND v = 1").count() === 0)
    assert(spark.sql("SELECT * FROM gcat.sem WHERE t = 10 AND v = 2").count() === 1)

    // dimension predicate: pushed below the aggregate into the parquet scan
    val dimq = spark.sql("SELECT * FROM gcat.sem WHERE t >= 60 AND t <= 70")
    assert(dimq.count() === 11)
    val plan = dimq.queryExecution.executedPlan.toString
    assert(plan.contains("GreaterThanOrEqual(t,60)") && plan.contains("PushedFilters"),
      s"dimension predicate must reach the parquet scan:\n$plan")
    // ...and ChunkPruneRule derives the chunk-key partition filter from it
    assert(plan.contains("PartitionFilters: [isnotnull(_ck_t"),
      s"derived chunk predicate must appear as a partition filter:\n$plan")

    // value predicate must NOT appear in the scan's pushed filters
    val valq = spark.sql("SELECT * FROM gcat.sem WHERE v = 2")
    val vplan = valq.queryExecution.executedPlan.toString
    assert(!vplan.contains("PushedFilters: [IsNotNull(v)"),
      s"value predicate must stay above the dedup:\n$vplan")
    assert(valq.count() === 45)
  }

  test("catalog lists graft tables; missing table fails; TIMESTAMP AS OF resolves commits") {
    val db = mkTable("listed") // txns 1..3, all committed "now"
    val tables = spark.sql("SHOW TABLES IN gcat").collect().map(_.getString(1)).toSet
    assert(tables.contains("listed"))
    val miss = intercept[Exception](spark.sql("SELECT * FROM gcat.nope").collect())
    assert(miss.getMessage.toLowerCase.contains("table"))
    // a timestamp before the first commit = empty version-0 snapshot
    assert(spark.sql("SELECT * FROM gcat.listed TIMESTAMP AS OF '2001-01-01'").count() === 0)
    // a timestamp in the future = the current snapshot, == VERSION AS OF max
    assert(spark.sql("SELECT * FROM gcat.listed TIMESTAMP AS OF '2200-01-01'")
      .collect().toSet ===
      spark.sql("SELECT * FROM gcat.listed VERSION AS OF 3").collect().toSet)
    // the per-txn stamps are surfaced, monotone, and resolve exactly:
    // TIMESTAMP AS OF txn 2's own wall-clock sees txn 2, not txn 3
    val ts = db.history().collect()
      .map(r => r.getLong(0) -> r.getTimestamp(3).getTime).toMap
    assert(ts(1L) <= ts(2L) && ts(2L) <= ts(3L))
    assert(db.resolveTimestamp(ts(2L)).exists(_ >= 2L))
    if (ts(2L) < ts(3L)) { // same-millisecond commits can't split txn 2 from 3
      assert(db.resolveTimestamp(ts(2L)) === Some(2L))
      assert(db.asOfTimestamp(ts(2L)).collect().toSet === db.asOf(2L).collect().toSet)
    }
  }

  test("namespaces are directories: CREATE/SHOW/USE/DROP NAMESPACE round-trip") {
    root
    spark.sql("CREATE NAMESPACE gcat.teamx")
    val ns = spark.sql("SHOW NAMESPACES IN gcat").collect().map(_.getString(0)).toSet
    assert(ns.contains("teamx"))
    intercept[Exception](spark.sql("CREATE NAMESPACE gcat.teamx")) // already exists
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gcat.teamx")          // tolerated
    spark.sql("CREATE TABLE gcat.teamx.t1 (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES('graft.dims' = 'k:100')")
    spark.sql("INSERT INTO gcat.teamx.t1 VALUES (1, 10)")
    assert(spark.sql("SELECT v FROM gcat.teamx.t1").head().getLong(0) === 10L)
    val tbls = spark.sql("SHOW TABLES IN gcat.teamx").collect().map(_.getString(1)).toSet
    assert(tbls === Set("t1"))
    // a table is NOT a namespace; a non-empty namespace refuses non-cascade drop
    assert(!spark.sql("SHOW NAMESPACES IN gcat").collect()
      .map(_.getString(0)).contains("teamx.t1"))
    intercept[Exception](spark.sql("DROP NAMESPACE gcat.teamx"))
    spark.sql("DROP NAMESPACE gcat.teamx CASCADE")
    assert(!spark.sql("SHOW NAMESPACES IN gcat").collect()
      .map(_.getString(0)).toSet.contains("teamx"))
  }

  test("DESCRIBE surfaces the dims/protocol contract as table properties") {
    mkTable("props")
    // a rename-committed directory (no _log/) describes as the manifest
    // table it upgrades to, with every committed row
    graft.core.Storage.deleteRecursively(root.resolve("props").resolve("_log"))
    val show = spark.sql("SHOW TBLPROPERTIES gcat.props").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(show.get("graft.dims").contains("t:50,sensor:10"))
    assert(show.get("graft.protocol").contains("manifest"))
    assert(Files.exists(root.resolve("props").resolve("_log").resolve("00000000.json")))
    assert(spark.sql("SELECT count(*) FROM gcat.props").head().getLong(0) === 110L)
  }

  test("CREATE TABLE refuses an unknown graft.store or protocol before writing anything") {
    def refused(name: String, prop: String): Unit = {
      val e = intercept[IllegalArgumentException](spark.sql(
        s"CREATE TABLE gcat.$name (t BIGINT, sensor BIGINT, v BIGINT) " +
          s"TBLPROPERTIES('graft.dims' = 't:50,sensor:10', $prop)"))
      assert(e.getMessage.contains("bogus"), e.getMessage)
      assert(!Files.exists(root.resolve(name)), s"$name must not be written")
    }
    refused("bad_store", "'graft.store' = 'bogus'")
    refused("bad_proto", "'graft.protocol' = 'bogus'")
  }

  test("history metadata table: SQL face of MatDb.history, version-filtered, no shadowing") {
    val db = mkTable("ht") // txns 1..3
    // Iceberg-style spelling
    val h = spark.sql("SELECT txn_id, seg_num, path, commit_ts FROM gcat.ht.history ORDER BY txn_id, seg_num")
      .collect()
    assert(h.map(_.getLong(0)).distinct.toSeq === Seq(1L, 2L, 3L))
    assert(h.forall(_.getString(2).nonEmpty))
    val ts = h.map(r => r.getLong(0) -> r.getTimestamp(3).getTime).toMap
    assert(ts(1L) <= ts(2L) && ts(2L) <= ts(3L), "commit stamps must be monotone")
    assert(ts === db.history().collect()
      .map(r => r.getLong(0) -> r.getTimestamp(3).getTime).toMap)
    // dollar spelling, and VERSION AS OF shows history as of that txn
    assert(spark.sql("SELECT count(*) FROM gcat.`ht$history`").head().getLong(0) === h.length.toLong)
    val asOf2 = spark.sql("SELECT DISTINCT txn_id FROM gcat.ht.history VERSION AS OF 2")
      .collect().map(_.getLong(0)).sorted
    assert(asOf2.toSeq === Seq(1L, 2L))
    // a REAL table named history under a namespace dir shadows the metadata
    val miss = intercept[Exception](spark.sql("SELECT * FROM gcat.nosuch.history").collect())
    assert(miss.getMessage.toLowerCase.contains("table"))
  }

  test("format(\"graft\") timestampAsOf reads the same snapshot as the catalog's TIMESTAMP AS OF") {
    val db = mkTable("tsrd")
    val ts2 = db.history().where("txn_id = 2").head().getTimestamp(3).getTime
    val viaOption = spark.read.format("graft").option("timestampAsOf", ts2.toString)
      .load(root.resolve("tsrd").toString)
    assert(viaOption.collect().toSet === db.asOfTimestamp(ts2).collect().toSet)
    intercept[IllegalArgumentException](spark.read.format("graft")
      .option("asOf", "1").option("timestampAsOf", ts2.toString)
      .load(root.resolve("tsrd").toString).collect())
  }

  test("SQL INSERT INTO commits one transaction; upserts resolve; time travel sees each") {
    val db = mkTable("ins") // txns 1..3 via the Scala API
    // txn 4 via SQL: overwrite keys 0..4, add keys 200..204
    spark.sql(
      """INSERT INTO gcat.ins
        |SELECT id AS t, id % 10 AS sensor, 9 AS v FROM range(0, 5)
        |UNION ALL
        |SELECT id + 200, (id + 200) % 10, 9 FROM range(0, 5)""".stripMargin)
    val byKey = spark.sql("SELECT t, v FROM gcat.ins").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byKey(0L) === 9L, "SQL-inserted version must win newest-wins")
    assert(byKey(203L) === 9L)
    assert(byKey(40L) === 2L, "untouched keys keep their pre-INSERT version")
    assert(spark.sql("SELECT * FROM gcat.ins").count() === 115)
    // the insert is one txn, visible to time travel as version 4
    assert(spark.sql("SELECT * FROM gcat.ins VERSION AS OF 3").count() === 110)
    assert(spark.sql("SELECT * FROM gcat.ins VERSION AS OF 4").count() === 115)
    assert(spark.sql("SELECT * FROM gcat.ins VERSION AS OF 3 WHERE t = 0")
      .head().getLong(2) === 2L)
    // the Scala API agrees (same table, fresh open)
    assert(MatDb.open(spark, root.resolve("ins").toString).snapshot().count() === 115)
    db.vacuum() // touch the handle so the lint doesn't flag it unused
  }

  test("INSERT INTO t SELECT FROM t reads the RESOLVED snapshot while writing raw") {
    mkTable("selfins")
    // re-insert the resolved rows of keys 100..109 with v+10: the read side
    // must be the deduped snapshot (10 rows), not raw segment rows
    spark.sql(
      """INSERT INTO gcat.selfins
        |SELECT t, sensor, v + 10 FROM gcat.selfins WHERE t >= 100""".stripMargin)
    val after = spark.sql("SELECT t, v FROM gcat.selfins WHERE t >= 100").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(after.size === 10)
    assert(after.values.forall(_ === 13L), s"expected 3+10 everywhere, got $after")
  }

  test("CTAS with graft.dims creates a chunked table; versioned writes are rejected") {
    spark.sql("DROP TABLE IF EXISTS gcat.ctas")
    spark.sql(
      """CREATE TABLE gcat.ctas TBLPROPERTIES('graft.dims' = 't:50,sensor:10')
        |AS SELECT id AS t, id % 10 AS sensor, id * 2 AS v FROM range(0, 30)""".stripMargin)
    assert(spark.sql("SELECT * FROM gcat.ctas").count() === 30)
    assert(spark.sql("SELECT v FROM gcat.ctas WHERE t = 7").head().getLong(0) === 14L)
    // it is a REAL graft table: the Scala API opens it, with chunked dims
    val opened = MatDb.open(spark, root.resolve("ctas").toString)
    assert(opened.schema.dimensions.map(d => d.name -> d.chunkSize) ===
      Seq("t" -> 50L, "sensor" -> 10L))
    // CREATE without dims fails with a pointed message
    val noDims = intercept[Exception](spark.sql(
      "CREATE TABLE gcat.nodims AS SELECT id AS t, id AS v FROM range(0, 3)"))
    assert(noDims.getMessage.contains("graft.dims"))
    // writing to a historical snapshot is rejected
    val hist = intercept[Exception](spark.sql(
      "INSERT INTO gcat.ctas VERSION AS OF 1 SELECT id, id % 10, id FROM range(0, 3)"))
    assert(hist.getMessage.nonEmpty)
    assert(spark.sql("SELECT * FROM gcat.ctas").count() === 30, "rejected writes changed nothing")
    // DROP TABLE removes the directory
    spark.sql("DROP TABLE gcat.ctas")
    assert(!MatDb.exists(root.resolve("ctas").toString))
  }

  test("concurrent SQL inserts claim distinct transactions, both visible (claim race)") {
    root
    // parameterized over BOTH stores: the posix claim is createDirectory;
    // the objectsim claim is a FileLock-linearized conditional put of a
    // _dirclaim marker — the same winner-takes-one contract must hold
    for (store <- Seq("posix", "objectsim")) {
      spark.sql("DROP TABLE IF EXISTS gcat.race")
      spark.sql(
        s"""CREATE TABLE gcat.race (t BIGINT, sensor BIGINT, v BIGINT)
          |TBLPROPERTIES('graft.dims' = 't:50,sensor:10',
          |'graft.store' = '$store')""".stripMargin)
      val dir = root.resolve("race").toString
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.global
      // race N appends through the same claim path the SQL INSERT uses; the
      // put-if-absent directory claim must hand every writer a distinct id
      val futures = (0 until 4).map { w =>
        Future {
          GraftInsert.append(spark, dir,
            batch((0L until 10L).map(i => (i + w * 100L, i % 10, w.toLong))))
        }
      }
      val txns = futures.map(f => Await.result(f, 120.seconds)).flatten
      assert(txns.toSet.size === 4, s"[$store] claimed ids collided: $txns")
      assert(txns.toSet === Set(1L, 2L, 3L, 4L), s"[$store] ids not sequential: $txns")
      // every writer's rows are visible — no commit overwrote another
      assert(spark.sql("SELECT * FROM gcat.race").count() === 40, s"[$store]")
      assert(spark.sql("SELECT DISTINCT v FROM gcat.race").collect()
        .map(_.getLong(0)).toSet === Set(0L, 1L, 2L, 3L), s"[$store]")
      spark.sql("DROP TABLE gcat.race")
    }
  }

  test("SQL DELETE tombstones keys; value predicates post-resolve; time travel intact") {
    mkTable("del") // txns 1..3: 110 live keys, keys 0..49 at v=2, 25..29 at v=3
    // dimension-predicate delete: one committed txn (4) of tombstones
    spark.sql("DELETE FROM gcat.del WHERE t >= 100")
    assert(spark.sql("SELECT * FROM gcat.del").count() === 100)
    assert(spark.sql("SELECT * FROM gcat.del WHERE t = 105").count() === 0)
    // pre-delete horizon still sees them
    assert(spark.sql("SELECT * FROM gcat.del VERSION AS OF 3").count() === 110)
    // value-predicate delete: only keys whose CURRENT value matches go.
    // v=1 is the current value for keys 50..99 (keys 0..49 were upserted
    // to v=2 — their superseded v=1 versions must NOT doom them)
    spark.sql("DELETE FROM gcat.del WHERE v = 1")
    val left = spark.sql("SELECT t, v FROM gcat.del").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(left.size === 50, s"expected keys 0..49, got ${left.size}")
    assert(left.keySet === (0L until 50L).toSet)
    // reinsert resurrects a deleted key (newest wins over the tombstone)
    spark.sql("INSERT INTO gcat.del SELECT 105, 5, 42")
    assert(spark.sql("SELECT v FROM gcat.del WHERE t = 105").head().getLong(0) === 42L)
    // the Scala API sees the same state (shared format, fresh open)
    assert(MatDb.open(spark, root.resolve("del").toString).snapshot().count() === 51)
    // deleting through a historical snapshot is rejected
    val hist = intercept[Exception](
      spark.sql("DELETE FROM gcat.del VERSION AS OF 1 WHERE t = 0"))
    assert(hist.getMessage.nonEmpty)
    spark.sql("DROP TABLE gcat.del")
  }

  test("DELETE with no WHERE empties the table but keeps history; untranslatable predicates fail clearly") {
    spark.sql("DROP TABLE IF EXISTS gcat.trunc")
    spark.sql(
      """CREATE TABLE gcat.trunc TBLPROPERTIES('graft.dims' = 't:50,sensor:10')
        |AS SELECT id AS t, id % 10 AS sensor, id AS v FROM range(0, 20)""".stripMargin)
    spark.sql("DELETE FROM gcat.trunc")
    assert(spark.sql("SELECT * FROM gcat.trunc").count() === 0)
    assert(spark.sql("SELECT * FROM gcat.trunc VERSION AS OF 1").count() === 20)
    // SQL TRUNCATE TABLE rides the same tombstone path (TruncatableTable
    // default = deleteWhere(true)): empties the view, keeps history
    spark.sql("INSERT INTO gcat.trunc SELECT id, id % 10, id FROM range(0, 7)")
    assert(spark.sql("SELECT * FROM gcat.trunc").count() === 7)
    spark.sql("TRUNCATE TABLE gcat.trunc")
    assert(spark.sql("SELECT * FROM gcat.trunc").count() === 0)
    assert(spark.sql("SELECT * FROM gcat.trunc VERSION AS OF 3").count() === 7)
    // an expression no source filter can carry (t % 2) falls through
    // canDeleteWhere to the row-level delta path and still deletes exactly
    // the matching CURRENT rows (pre-round-10 this errored)
    spark.sql("INSERT INTO gcat.trunc SELECT id, id % 10, id FROM range(0, 8)")
    spark.sql("DELETE FROM gcat.trunc WHERE t % 2 = 0")
    assert(spark.sql("SELECT t FROM gcat.trunc ORDER BY t").collect().map(_.getLong(0)).toSeq
      === Seq(1L, 3L, 5L, 7L))
    spark.sql("DROP TABLE gcat.trunc")
  }

  test("concurrent DELETE and INSERT claim distinct transactions; last writer wins per key") {
    spark.sql("DROP TABLE IF EXISTS gcat.dirace")
    spark.sql(
      """CREATE TABLE gcat.dirace TBLPROPERTIES('graft.dims' = 't:50,sensor:10')
        |AS SELECT id AS t, id % 10 AS sensor, id AS v FROM range(0, 30)""".stripMargin)
    val dir = root.resolve("dirace").toString
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    // race a tombstone batch (keys 0..14) against an insert batch
    // (keys 10..19 at v=999) through the same claim path SQL DML uses
    val delF = Future(GraftInsert.tombstone(spark, dir,
      batch((0L until 15L).map(i => (i, i % 10, 0L)))))
    val insF = Future(GraftInsert.append(spark, dir,
      batch((10L until 20L).map(i => (i, i % 10, 999L)))))
    val delTxn = Await.result(delF, 120.seconds).get
    val insTxn = Await.result(insF, 120.seconds).get
    assert(delTxn !== insTxn, "claims must hand out distinct txn ids")
    // keys 0..9: deleted (only the tombstone touched them); keys 15..19:
    // inserted (only the insert touched them); keys 10..14: LAST txn wins
    val snap = spark.sql("SELECT t, v FROM gcat.dirace").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L until 10L).foreach(k => assert(!snap.contains(k), s"key $k must be deleted"))
    (15L until 20L).foreach(k => assert(snap(k) === 999L, s"key $k must be inserted"))
    val contested = (10L until 15L)
    if (insTxn > delTxn) contested.foreach(k =>
      assert(snap(k) === 999L, s"insert committed later; key $k must be resurrected"))
    else contested.foreach(k =>
      assert(!snap.contains(k), s"delete committed later; key $k must be gone"))
    // untouched tail of the seed survives either way
    (20L until 30L).foreach(k => assert(snap(k) === k))
    spark.sql("DROP TABLE gcat.dirace")
  }

  test("ALTER TABLE ADD/DROP COLUMN is metadata-only; pre-alter segments read null") {
    spark.sql("DROP TABLE IF EXISTS gcat.evo")
    spark.sql(
      """CREATE TABLE gcat.evo (t BIGINT, v BIGINT)
        |TBLPROPERTIES('graft.dims' = 't:50')""".stripMargin)
    spark.sql("INSERT INTO gcat.evo SELECT id, id * 10 FROM range(0, 5)")
    val preAlterFiles = java.nio.file.Files.walk(root.resolve("evo"))
      .filter(_.toString.endsWith(".parquet")).count()

    spark.sql("ALTER TABLE gcat.evo ADD COLUMNS (w DOUBLE)")
    // metadata-only: no segment file was touched
    val postAlterFiles = java.nio.file.Files.walk(root.resolve("evo"))
      .filter(_.toString.endsWith(".parquet")).count()
    assert(postAlterFiles === preAlterFiles, "ALTER must not rewrite segments")
    assert(spark.sql("SELECT * FROM gcat.evo").columns.toSeq === Seq("t", "v", "w"))
    assert(spark.sql("SELECT * FROM gcat.evo WHERE w IS NULL").count() === 5,
      "pre-alter rows read the added column as null")

    // writes after the alter carry the new column; upsert resolves it
    spark.sql("INSERT INTO gcat.evo SELECT id, id, CAST(1.5 AS DOUBLE) FROM range(3, 7)")
    val rows = spark.sql("SELECT t, v, w FROM gcat.evo ORDER BY t").collect()
    assert(rows.length === 7)
    assert(rows(0).isNullAt(2) && rows(0).getLong(1) === 0L)   // old row: w null
    assert(rows(3).getDouble(2) === 1.5 && rows(3).getLong(1) === 3L) // upserted
    assert(rows(6).getDouble(2) === 1.5)

    // the Scala API sees the evolved schema on a fresh open
    val opened = MatDb.open(spark, root.resolve("evo").toString)
    assert(opened.schema.valueNames === Seq("v", "w"))

    // DROP COLUMN: metadata-only; the column stops being read
    spark.sql("ALTER TABLE gcat.evo DROP COLUMN v")
    assert(spark.sql("SELECT * FROM gcat.evo").columns.toSeq === Seq("t", "w"))
    assert(spark.sql("SELECT * FROM gcat.evo").count() === 7)

    // guards: dimensions and last value column are not alterable
    val dimErr = intercept[Exception](spark.sql("ALTER TABLE gcat.evo DROP COLUMN t"))
    assert(dimErr.getMessage.contains("dimension"))
    val lastErr = intercept[Exception](spark.sql("ALTER TABLE gcat.evo DROP COLUMN w"))
    assert(lastErr.getMessage.contains("last value column"))
    spark.sql("DROP TABLE gcat.evo")
  }

  test("re-ADD of a dropped column is rejected until compact purges its bytes") {
    spark.sql("DROP TABLE IF EXISTS gcat.readd")
    spark.sql(
      """CREATE TABLE gcat.readd (t BIGINT, a BIGINT, b BIGINT)
        |TBLPROPERTIES('graft.dims' = 't:50')""".stripMargin)
    spark.sql("INSERT INTO gcat.readd SELECT id, id * 10, id FROM range(0, 5)")
    spark.sql("ALTER TABLE gcat.readd DROP COLUMN a")
    // pre-drop segments still hold a's bytes and segments are read by NAME:
    // re-adding 'a' would silently resurrect id*10 instead of reading null
    val err = intercept[Exception](
      spark.sql("ALTER TABLE gcat.readd ADD COLUMNS (a BIGINT)"))
    assert(err.getMessage.contains("previously dropped"))
    // a fresh name is unaffected by the tombstone
    spark.sql("ALTER TABLE gcat.readd ADD COLUMNS (c BIGINT)")
    // compact rewrites every live row without 'a'; the tombstone lifts
    MatDb.open(spark, root.resolve("readd").toString).compact()
    spark.sql("ALTER TABLE gcat.readd ADD COLUMNS (a BIGINT)")
    val rows = spark.sql("SELECT t, a FROM gcat.readd ORDER BY t").collect()
    assert(rows.length === 5)
    assert(rows.forall(_.isNullAt(1)),
      "re-added column must read null, not the pre-drop values")
    spark.sql("DROP TABLE gcat.readd")
  }

  test("concurrent ALTERs serialize through the schema CAS; neither is lost") {
    spark.sql("DROP TABLE IF EXISTS gcat.altrace")
    spark.sql(
      """CREATE TABLE gcat.altrace (t BIGINT, v BIGINT)
        |TBLPROPERTIES('graft.dims' = 't:50')""".stripMargin)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val names = (0 until 8).map(i => s"c$i")
    val futs = names.map(n =>
      Future(spark.sql(s"ALTER TABLE gcat.altrace ADD COLUMNS ($n BIGINT)")))
    futs.foreach(Await.result(_, 120.seconds))
    val cols = spark.sql("SELECT * FROM gcat.altrace").columns.toSet
    names.foreach(n => assert(cols.contains(n), s"concurrent ALTER adding '$n' was lost"))
    spark.sql("DROP TABLE gcat.altrace")
  }

  test("a crash between schema CAS and mirror rewrite is harmless: readers prefer the versioned file") {
    import graft.core.{Dimension, MatSchema, Storage, ValueCol}
    val root = java.nio.file.Files.createTempDirectory("graft-cas-crash")
    val v0 = MatSchema(Seq(Dimension("t", 50)), Seq(ValueCol("v")))
    Storage.writeSchema(root, v0)
    // simulate the crash window: publish version 1 via the CAS primitive,
    // then clobber the mirror back to the PRE-alter document (as if the
    // process died before the mirror rewrite)
    val v1 = v0.copy(values = v0.values :+ ValueCol("w"))
    assert(Storage.casSchema(root, 0L, v1))
    java.nio.file.Files.write(Storage.schemaPath(root),
      v0.json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    assert(Storage.readSchema(root).valueNames === Seq("v", "w"),
      "readers must see the CAS-published schema, not the stale mirror")
    assert(Storage.readSchemaVersioned(root)._2 === 1L)
    // the next CAS continues from the versioned truth
    val v2 = v1.copy(values = v1.values.filterNot(_.name == "w"), dropped = Seq("w"))
    assert(!Storage.casSchema(root, 0L, v2), "a stale expected-version must lose")
    assert(Storage.casSchema(root, 1L, v2))
    assert(Storage.readSchema(root).dropped === Seq("w"))
  }

  test("RENAME TABLE moves the whole history: data, time travel, schema versions") {
    spark.sql("DROP TABLE IF EXISTS gcat.rnsrc")
    spark.sql("DROP TABLE IF EXISTS gcat.rndst")
    spark.sql(
      """CREATE TABLE gcat.rnsrc (t BIGINT, v BIGINT)
        |TBLPROPERTIES('graft.dims' = 't:50')""".stripMargin)
    spark.sql("INSERT INTO gcat.rnsrc SELECT id, id FROM range(0, 5)")
    spark.sql("INSERT INTO gcat.rnsrc SELECT id, id * 100 FROM range(0, 5)")
    spark.sql("ALTER TABLE gcat.rnsrc ADD COLUMNS (w DOUBLE)")
    spark.sql("ALTER TABLE gcat.rnsrc RENAME TO rndst")
    assert(spark.sql("SELECT * FROM gcat.rndst").columns.toSeq === Seq("t", "v", "w"))
    assert(spark.sql("SELECT sum(v) FROM gcat.rndst").collect()(0).getLong(0) === 1000L)
    // MVCC history rode along: txn 1 is still visible under the new name
    assert(spark.sql("SELECT sum(v) FROM gcat.rndst VERSION AS OF 1")
      .collect()(0).getLong(0) === 10L)
    val gone = intercept[Exception](spark.sql("SELECT * FROM gcat.rnsrc").collect())
    assert(gone.getMessage.toLowerCase.contains("rnsrc"))
    // renaming ONTO an existing table is refused
    spark.sql(
      """CREATE TABLE gcat.rnsrc (t BIGINT, v BIGINT)
        |TBLPROPERTIES('graft.dims' = 't:50')""".stripMargin)
    val clash = intercept[Exception](
      spark.sql("ALTER TABLE gcat.rndst RENAME TO rnsrc"))
    assert(clash.getMessage.toLowerCase.contains("already exists"))
    spark.sql("DROP TABLE gcat.rnsrc")
    spark.sql("DROP TABLE gcat.rndst")
  }

  test("empty INSERT claims no transaction") {
    spark.sql("DROP TABLE IF EXISTS gcat.emptyins")
    spark.sql(
      """CREATE TABLE gcat.emptyins (t BIGINT, sensor BIGINT, v BIGINT)
        |TBLPROPERTIES('graft.dims' = 't:50,sensor:10')""".stripMargin)
    spark.sql("INSERT INTO gcat.emptyins SELECT id, id, id FROM range(0, 5) WHERE id < 0")
    assert(spark.sql("SELECT * FROM gcat.emptyins").count() === 0)
    spark.sql("INSERT INTO gcat.emptyins SELECT id, id % 10, id FROM range(0, 5)")
    // the real insert took txn 1 — the empty one burned nothing
    assert(spark.sql("SELECT * FROM gcat.emptyins VERSION AS OF 1").count() === 5)
    spark.sql("DROP TABLE gcat.emptyins")
  }

  test("INSERT OVERWRITE is ONE atomic MVCC replace txn; time travel survives") {
    spark.sql("DROP TABLE IF EXISTS gcat.ovw")
    spark.sql(
      """CREATE TABLE gcat.ovw (t BIGINT, sensor BIGINT, v BIGINT)
        |TBLPROPERTIES('graft.dims' = 't:50,sensor:10')""".stripMargin)
    spark.sql("INSERT INTO gcat.ovw SELECT id, id % 10, id FROM range(0, 20)")       // txn 1
    spark.sql("INSERT INTO gcat.ovw SELECT id, id % 10, id + 100 FROM range(0, 5)")  // txn 2
    // overwrite: keys 3..7 — 3,4 overlap live keys, 5..7 too, 3..7 all live
    spark.sql("INSERT OVERWRITE gcat.ovw SELECT id, id % 10, id + 500 FROM range(3, 8)") // txn 3
    val cur = spark.sql("SELECT t, v FROM gcat.ovw ORDER BY t").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(cur.toSeq === (3L to 7L).map(t => (t, t + 500)),
      s"current state must be exactly the overwrite source, got ${cur.toSeq}")
    // one transaction: the overwrite is txn 3, addressable, and below it
    // the pre-overwrite state keeps reading
    assert(spark.sql("SELECT * FROM gcat.ovw VERSION AS OF 2").count() === 20)
    assert(spark.sql(
      "SELECT v FROM gcat.ovw VERSION AS OF 2 WHERE t = 3").head().getLong(0) === 103L)
    assert(spark.sql("SELECT * FROM gcat.ovw VERSION AS OF 3").count() === 5)
    // O(new data), not O(old table): the live manifest references ONLY the
    // overwrite's own segment — the old state was never read or tombstoned
    // (round 11's manifest replace publish), it just fell out of visibility
    val live = graft.core.Protocol.listCommitted(root.resolve("ovw"))
    assert(live.map(_.txnId).distinct === Seq(3L),
      s"live manifest must hold only the overwrite txn's segments, got $live")
    // ids stay monotone past the overwrite
    spark.sql("INSERT INTO gcat.ovw SELECT 90, 0, 9 FROM range(1)") // txn 4
    assert(spark.sql("SELECT * FROM gcat.ovw").count() === 6)
    spark.sql("DROP TABLE gcat.ovw")
  }

  test("CREATE OR REPLACE TABLE AS SELECT: drop+recreate semantics, fresh txn ids") {
    root
    spark.sql("DROP TABLE IF EXISTS gcat.cor")
    spark.sql("CREATE TABLE gcat.cor (t BIGINT, sensor BIGINT, v BIGINT) " +
      "TBLPROPERTIES('graft.dims' = 't:50,sensor:10')")
    spark.sql("INSERT INTO gcat.cor SELECT id, id % 10, id FROM range(0, 20)")
    spark.sql(
      """CREATE OR REPLACE TABLE gcat.cor
        |TBLPROPERTIES('graft.dims' = 't:50,sensor:10')
        |AS SELECT id AS t, id % 10 AS sensor, id * 5 AS v FROM range(0, 7)""".stripMargin)
    val got = spark.sql("SELECT t, v FROM gcat.cor ORDER BY t").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq === (0L until 7L).map(t => (t, t * 5)))
    // a REPLACEd table is a NEW table: history restarts at txn 1 (unlike
    // INSERT OVERWRITE, which keeps ids monotone and history travelable —
    // the atomic in-place alternative); non-atomic drop+create is Spark's
    // documented fallback for non-staging catalogs
    assert(spark.sql("SELECT count(*) FROM gcat.cor VERSION AS OF 1").head().getLong(0) === 7L)
    spark.sql("DROP TABLE gcat.cor")
  }

  test("catalog scans report ANALYZEd stats: a multi-version dim broadcasts only while fresh") {
    import org.apache.spark.sql.functions._
    root // force catalog registration (filtered runs skip the earlier tests)
    spark.sql("DROP TABLE IF EXISTS gcat.vstats")
    spark.sql("CREATE TABLE gcat.vstats (t BIGINT, sensor BIGINT, v BIGINT) " +
      "TBLPROPERTIES('graft.dims' = 't:100000,sensor:100000')")
    // 2000 keys × 15 versions — raw file bytes price every version
    (0 until 15).foreach { i =>
      spark.sql(s"INSERT INTO gcat.vstats SELECT id, id, id * 31 + $i FROM range(0, 2000)")
    }
    val db = MatDb.open(spark, root.resolve("vstats").toString)
    val raw = db.visibleBytes()
    val (n, analyzed) = db.analyze()
    assert(n === 2000L && analyzed < raw / 2)

    // the DSv2 scan now reports the resolved estimate (rowCount included)
    val rel = spark.sql("SELECT * FROM gcat.vstats")
    val stats = rel.queryExecution.optimizedPlan.collectLeaves().head.stats
    assert(stats.sizeInBytes === BigInt(analyzed),
      s"scan must report the analyzed resolved size, got ${stats.sizeInBytes} (raw $raw)")

    val big = spark.range(100000).select(col("id").as("t"), col("id").as("sensor"),
      (col("id") * 2).as("payload"))
    // threshold above the resolved estimate (and the dedup aggregate's
    // width-scaled derivative) but below the raw multi-version bytes
    val threshold = math.min(analyzed * 3, (analyzed + raw) / 2)
    val saved = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold.toString)
      val fresh = big.join(spark.sql("SELECT * FROM gcat.vstats"), Seq("t", "sensor"))
        .queryExecution.sparkPlan.toString
      assert(fresh.contains("BroadcastHashJoin"),
        s"fresh ANALYZE stats must unlock the broadcast on the catalog path:\n$fresh")
      // any later commit invalidates back to raw file-bytes pricing (the
      // safe over-estimate) — asserted on the LEAF stats; the join above
      // sizes on the dedup aggregate's width-scaled derivative of it
      spark.sql("INSERT INTO gcat.vstats SELECT 5000, 5000, 1 FROM range(1)")
      val staleStats = spark.sql("SELECT * FROM gcat.vstats")
        .queryExecution.optimizedPlan.collectLeaves().head.stats
      assert(staleStats.sizeInBytes > BigInt(analyzed),
        s"stale stats must fall back to raw pricing, got ${staleStats.sizeInBytes}")
    } finally {
      saved match {
        case Some(v) => spark.conf.set("spark.sql.autoBroadcastJoinThreshold", v)
        case None => spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      }
    }
    spark.sql("DROP TABLE gcat.vstats")
  }

  test("TRUNCATE TABLE is an O(1) manifest replace: time travel survives, ids stay monotone") {
    spark.sql("DROP TABLE IF EXISTS gcat.trunc")
    spark.sql(
      """CREATE TABLE gcat.trunc (t BIGINT, sensor BIGINT, v BIGINT)
        |TBLPROPERTIES('graft.dims' = 't:50,sensor:10')""".stripMargin)
    spark.sql("INSERT INTO gcat.trunc SELECT id, id % 10, id FROM range(0, 20)")      // txn 1
    spark.sql("INSERT INTO gcat.trunc SELECT id, id % 10, id + 100 FROM range(0, 5)") // txn 2
    spark.sql("TRUNCATE TABLE gcat.trunc")                                            // txn 3
    assert(spark.sql("SELECT * FROM gcat.trunc").count() === 0,
      "current snapshot must be empty after TRUNCATE")
    // O(1), not O(live keys): the truncate is a manifest replace publish —
    // the live manifest is EMPTY (no tombstone-per-key segment was written,
    // the old table was never even read)
    assert(graft.core.Protocol
      .listCommitted(root.resolve("trunc")).isEmpty,
      "TRUNCATE must publish an empty manifest, not a tombstone segment")
    // time travel below the truncate keeps working (manifest lineage: the
    // replaced-away state stays readable until vacuum)
    assert(spark.sql("SELECT * FROM gcat.trunc VERSION AS OF 2").count() === 20)
    assert(spark.sql(
      "SELECT v FROM gcat.trunc VERSION AS OF 2 WHERE t = 0").head().getLong(0) === 100L)
    // ids stay monotone: the reseed lands ABOVE the truncate txn, so a
    // stream offset taken before the truncate can never rewind onto it
    spark.sql("INSERT INTO gcat.trunc SELECT id, id % 10, id + 7 FROM range(0, 3)")   // txn 4
    assert(spark.sql("SELECT * FROM gcat.trunc").count() === 3)
    assert(spark.sql("SELECT * FROM gcat.trunc VERSION AS OF 3").count() === 0,
      "the truncate transaction itself must be addressable and empty")
    spark.sql("DROP TABLE gcat.trunc")
  }

  /** Input bytes every task read while `body` ran. The listener bus is
    * FIFO, so a marker job run after `body` (and before it) is delivered
    * only once every earlier task-end event has been counted. */
  private def bytesReadBy(body: => Unit): Long = {
    import org.apache.spark.scheduler._
    val sc = spark.sparkContext
    val bytes = new java.util.concurrent.atomic.AtomicLong()
    val markersDone = new java.util.concurrent.LinkedBlockingQueue[String]()
    val markerJobs = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null) bytes.addAndGet(t.taskMetrics.inputMetrics.bytesRead)
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).flatMap(p => Option(p.getProperty("graft.spec.marker")))
          .foreach(markerJobs.put(j.jobId, _))
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        Option(markerJobs.get(j.jobId)).foreach(markersDone.put)
    }
    def drain(): Long = {
      val marker = java.util.UUID.randomUUID().toString
      sc.setLocalProperty("graft.spec.marker", marker)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty("graft.spec.marker", null)
      assert(markersDone.poll(60, java.util.concurrent.TimeUnit.SECONDS) === marker,
        "the listener bus did not drain")
      bytes.get()
    }
    sc.addSparkListener(listener)
    try { val before = drain(); body; drain() - before }
    finally sc.removeSparkListener(listener)
  }

  test("INSERT OVERWRITE and TRUNCATE read none of the replaced table's bytes") {
    root
    def build(name: String): Long = {
      spark.sql(s"DROP TABLE IF EXISTS gcat.$name")
      spark.sql(s"CREATE TABLE gcat.$name (k BIGINT, v BIGINT) " +
        "TBLPROPERTIES('graft.dims' = 'k:1000')")
      spark.sql(s"INSERT INTO gcat.$name SELECT id, id * 3 FROM range(0, 20000)")
      MatDb.open(spark, root.resolve(name).toString).visibleBytes()
    }
    val tableBytes = build("ovwbytes")
    // control: a statement that scans the old table fails the gate below
    val fullRead = bytesReadBy(spark.sql("SELECT * FROM gcat.ovwbytes").collect())
    assert(fullRead >= tableBytes / 10,
      s"the listener must see a full read: $fullRead of $tableBytes")
    val overwriteRead = bytesReadBy(spark.sql(
      "INSERT OVERWRITE gcat.ovwbytes SELECT id, id * 7 FROM range(0, 100)"))
    assert(overwriteRead < tableBytes / 10,
      s"INSERT OVERWRITE must not scan the old table: read $overwriteRead of $tableBytes")
    assert(spark.sql("SELECT count(*) FROM gcat.ovwbytes").head().getLong(0) === 100L)
    assert(spark.sql("SELECT count(*) FROM gcat.ovwbytes VERSION AS OF 1")
      .head().getLong(0) === 20000L)
    val truncTableBytes = build("truncbytes")
    val truncateRead = bytesReadBy(spark.sql("TRUNCATE TABLE gcat.truncbytes"))
    assert(truncateRead < truncTableBytes / 100,
      s"TRUNCATE must read ~nothing: read $truncateRead of $truncTableBytes")
    spark.sql("DROP TABLE gcat.ovwbytes")
    spark.sql("DROP TABLE gcat.truncbytes")
  }

  test("ANALYZEd dim stats surface as columnStats; CBO join reorder uses them") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    root
    Seq("cbo_fact", "cbo_d1", "cbo_d2").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS gcat.$t"))
    // fact: 50k rows; d1: 10k rows but only 1k distinct k1 (EXPANDING join);
    // d2: 50 rows, 50 distinct k2 (selective join). The written order joins
    // d1 first — 500k intermediate; cost-based order joins d2 first — 50k.
    // Only the ANALYZEd NDV can tell the optimizer which is which.
    spark.sql("CREATE TABLE gcat.cbo_fact (k1 BIGINT, k2 BIGINT, v BIGINT) " +
      "TBLPROPERTIES('graft.dims' = 'k1:100000,k2:100000')")
    // (id%1000, id/1000) is a UNIQUE pairing — MVCC dedup keeps all 50k rows
    spark.sql("INSERT INTO gcat.cbo_fact " +
      "SELECT id % 1000, CAST(id / 1000 AS BIGINT) % 50, id FROM range(0, 50000)")
    spark.sql("CREATE TABLE gcat.cbo_d1 (k1 BIGINT, seq BIGINT, a BIGINT) " +
      "TBLPROPERTIES('graft.dims' = 'k1:100000,seq:100000')")
    spark.sql("INSERT INTO gcat.cbo_d1 SELECT id % 1000, CAST(id / 1000 AS BIGINT), id " +
      "FROM range(0, 10000)")
    spark.sql("CREATE TABLE gcat.cbo_d2 (k2 BIGINT, b BIGINT) " +
      "TBLPROPERTIES('graft.dims' = 'k2:100000')")
    spark.sql("INSERT INTO gcat.cbo_d2 SELECT id, id * 7 FROM range(0, 50)")
    Seq("cbo_fact", "cbo_d1", "cbo_d2").foreach(t =>
      spark.sql(s"CALL gcat.system.analyze('$t')"))

    // 1) columnStats reach Catalyst attributeStats with the ANALYZEd values
    val leaf = spark.sql("SELECT * FROM gcat.cbo_fact")
      .queryExecution.optimizedPlan.collectLeaves().head
    val attrStats = leaf.stats.attributeStats
    assert(attrStats.nonEmpty, "ANALYZEd dims must surface as attributeStats")
    val k1Stat = attrStats.find(_._1.name == "k1").map(_._2)
      .getOrElse(fail(s"no attributeStats for k1: $attrStats"))
    assert(k1Stat.min.contains(0L) && k1Stat.max.contains(999L),
      s"k1 min/max from ANALYZE, got $k1Stat")
    val ndv = k1Stat.distinctCount.map(_.toLong).getOrElse(0L)
    assert(ndv > 900 && ndv < 1100, s"k1 NDV ~1000 from ANALYZE, got $ndv")
    assert(k1Stat.nullCount.contains(BigInt(0)))

    // 2) with CBO + join reorder on, the innermost join pairs the fact with
    // the SELECTIVE d2, not the written-order expanding d1
    val q = """SELECT count(*) FROM gcat.cbo_fact f
              |JOIN gcat.cbo_d1 d1 ON f.k1 = d1.k1
              |JOIN gcat.cbo_d2 d2 ON f.k2 = d2.k2""".stripMargin
    def innermostTables(sql: String): Set[String] = {
      val joins = spark.sql(sql).queryExecution.optimizedPlan.collect {
        case j: Join => j }
      joins.filter(j => j.children.forall(c =>
          c.collect { case jj: Join => jj }.isEmpty))
        .flatMap(_.collectLeaves().collect {
          case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
            r.relation.table.name()
        }).toSet
    }
    val savedCbo = spark.conf.getOption("spark.sql.cbo.enabled")
    val savedReorder = spark.conf.getOption("spark.sql.cbo.joinReorder.enabled")
    try {
      spark.conf.set("spark.sql.cbo.enabled", "true")
      spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
      val inner = innermostTables(q)
      assert(inner.exists(_.contains("cbo_d2")) && !inner.exists(_.contains("cbo_d1")),
        s"CBO must reorder the selective d2 join innermost, got $inner")
    } finally {
      savedCbo.fold(spark.conf.unset("spark.sql.cbo.enabled"))(
        spark.conf.set("spark.sql.cbo.enabled", _))
      savedReorder.fold(spark.conf.unset("spark.sql.cbo.joinReorder.enabled"))(
        spark.conf.set("spark.sql.cbo.joinReorder.enabled", _))
    }
    // without CBO the written order stands — the reorder above was the stats
    val innerOff = innermostTables(q)
    assert(innerOff.exists(_.contains("cbo_d1")),
      s"without CBO the written join order must stand, got $innerOff")
    Seq("cbo_fact", "cbo_d1", "cbo_d2").foreach(t => spark.sql(s"DROP TABLE gcat.$t"))
  }

  test("CALL maintain_mview rebuilds when the incremental delta is unrecoverable") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, count, lit, sum}
    // base keyed by k with group g and value v; the view is its aggregate
    val bschema = MatSchema(Seq(Dimension("k", 100)),
      Seq(ValueCol("g", org.apache.spark.sql.types.LongType),
        ValueCol("v", org.apache.spark.sql.types.LongType)))
    val base = MatDb.create(spark, bschema,
      root.resolve("mvreb").toString, "manifest")
    val view = MatDb.create(spark, MatSchema(Seq(Dimension("g", 100)),
      Seq(ValueCol("sum_v", org.apache.spark.sql.types.LongType),
        ValueCol("cnt", org.apache.spark.sql.types.LongType))),
      root.resolve("mvreb_view").toString, "manifest")
    val t1 = base.newTransaction()
    t1.addRows((0L until 12L).map(k => (k, k % 3, k)).toDF("k", "g", "v")); t1.commit()
    spark.sql("CALL gcat.system.maintain_mview('mvreb', 'mvreb_view')").collect()
    view.refresh() // the CALL maintained through its own handle
    assert(view.snapshot().count() === 3)
    // TRUNCATE (segment-less replace) + re-seed + vacuum: the incremental
    // range (1, 3] is unrecoverable — the procedure must fall back to the
    // absolute pinned rebuild instead of failing
    spark.sql("TRUNCATE TABLE gcat.mvreb")
    base.refresh() // chase the catalog's truncate commit (txn-id floor too)
    val t3 = base.newTransaction()
    t3.addRows(Seq((1L, 1L, 5L), (20L, 7L, 9L)).toDF("k", "g", "v")); t3.commit()
    base.vacuum()
    val reached = spark.sql(
      "CALL gcat.system.maintain_mview('mvreb', 'mvreb_view')").collect()(0).getLong(0)
    assert(reached === base.txnWatermark)
    view.refresh()
    val want = base.snapshot().groupBy(col("g"))
      .agg(sum(col("v")).as("s"), count(lit(1)).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val got = view.snapshot().collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === want, "the rebuild must restore the exact aggregate")
    assert(got.map(_._1) === Set(1L, 7L), "pre-truncate groups are gone")
  }

  test("storage-partitioned join: chunk-aligned graft tables join with zero exchanges") {
    root
    Seq("spj_a", "spj_b", "spj_c", "spj_i").foreach(t => spark.sql(s"DROP TABLE IF EXISTS gcat.$t"))
    // a, b chunk-aligned (t:50, sensor:10); c a COMPATIBLE refinement
    // (t:25 — 25 divides 50, so ChunkFunction's reducer regroups it);
    // i INCOMMENSURATE (t:30 — neither divides the other)
    spark.sql("CREATE TABLE gcat.spj_a (t BIGINT, sensor BIGINT, v BIGINT) " +
      "TBLPROPERTIES('graft.dims' = 't:50,sensor:10')")
    spark.sql("CREATE TABLE gcat.spj_b (t BIGINT, sensor BIGINT, w BIGINT) " +
      "TBLPROPERTIES('graft.dims' = 't:50,sensor:10')")
    spark.sql("CREATE TABLE gcat.spj_c (t BIGINT, sensor BIGINT, u BIGINT) " +
      "TBLPROPERTIES('graft.dims' = 't:25,sensor:10')")
    spark.sql("CREATE TABLE gcat.spj_i (t BIGINT, sensor BIGINT, u BIGINT) " +
      "TBLPROPERTIES('graft.dims' = 't:30,sensor:10')")
    // two commits each so the per-chunk grouping spans segments
    spark.sql("INSERT INTO gcat.spj_a SELECT id, id % 40, id FROM range(0, 400)")
    spark.sql("INSERT INTO gcat.spj_a SELECT id, id % 40, id + 1000 FROM range(0, 200)")
    spark.sql("INSERT INTO gcat.spj_b SELECT id, id % 40, id * 2 FROM range(100, 500)")
    spark.sql("INSERT INTO gcat.spj_b SELECT id, id % 40, id * 3 FROM range(100, 150)")
    spark.sql("INSERT INTO gcat.spj_c SELECT id, id % 40, id * 5 FROM range(0, 400)")
    spark.sql("INSERT INTO gcat.spj_i SELECT id, id % 40, id * 5 FROM range(0, 400)")
    val saved = Seq("spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled",
      "spark.sql.sources.v2.bucketing.allowCompatibleTransforms.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      spark.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      spark.conf.set("spark.sql.sources.v2.bucketing.allowCompatibleTransforms.enabled", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val q = spark.sql(
        """SELECT a.t, a.sensor, a.v, b.w FROM gcat.spj_a a
          |JOIN gcat.spj_b b ON a.t = b.t AND a.sensor = b.sensor""".stripMargin)
      val rows = q.collect()
      // correctness first: matches a plain-shuffle evaluation
      assert(rows.length === 300, s"join rows (a: 0..399 ∩ b: 100..499 = 100..399)")
      assert(rows.forall { r =>
        val t = r.getLong(0)
        val expectedV = if (t < 200) t + 1000 else t
        val expectedW = if (t < 150) t * 3 else t * 2
        r.getLong(2) == expectedV && r.getLong(3) == expectedW
      }, "joined values must be the MVCC-resolved newest versions")
      val plan = graft.core.TestSpark.finalPlan(q)
      assert(!plan.contains("Exchange"),
        s"chunk-aligned SPJ must run with zero exchanges:\n$plan")
      // the MVCC dedup aggregate alone is exchange-free too
      val agg = spark.sql("SELECT t, sensor, max(v) AS m FROM gcat.spj_a GROUP BY t, sensor")
      agg.collect()
      assert(!graft.core.TestSpark.finalPlan(agg).contains("Exchange"),
        s"dims-keyed aggregate must reuse the chunk partitioning:\n${graft.core.TestSpark.finalPlan(agg)}")
      // COMPATIBLE chunk sizes (t:25 refines t:50): the reducer regroups
      // the finer side's partitions to the coarser transform — still zero
      // exchanges, same answer as a shuffle evaluation
      val qc = spark.sql(
        """SELECT a.t, a.sensor, a.v, c.u FROM gcat.spj_a a
          |JOIN gcat.spj_c c ON a.t = c.t AND a.sensor = c.sensor""".stripMargin)
      val rc = qc.collect()
      assert(rc.length === 400)
      assert(rc.forall { r =>
        val t = r.getLong(0)
        val expectedV = if (t < 200) t + 1000 else t
        r.getLong(2) == expectedV && r.getLong(3) == t * 5
      }, "reducer-regrouped join must return MVCC-resolved matches")
      assert(!graft.core.TestSpark.finalPlan(qc).contains("Exchange"),
        s"a dividing chunk size must regroup, not shuffle:\n${graft.core.TestSpark.finalPlan(qc)}")
      // INCOMMENSURATE chunk sizes (t:30 vs t:50) stay incompatible —
      // falls back to shuffle, same answer
      val qi = spark.sql(
        """SELECT a.t, a.sensor, a.v, i.u FROM gcat.spj_a a
          |JOIN gcat.spj_i i ON a.t = i.t AND a.sensor = i.sensor""".stripMargin)
      assert(qi.collect().length === 400)
      assert(graft.core.TestSpark.finalPlan(qi).contains("Exchange"),
        "incommensurate chunk sizes must fall back to a shuffle join")
    } finally {
      saved.foreach { case (k, v) =>
        v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    }
    Seq("spj_a", "spj_b", "spj_c", "spj_i").foreach(t => spark.sql(s"DROP TABLE gcat.$t"))
  }

  test("storage-partitioned join under pruning and partially-clustered skew handling") {
    root
    Seq("spjp_a", "spjp_b").foreach(t => spark.sql(s"DROP TABLE IF EXISTS gcat.$t"))
    spark.sql("CREATE TABLE gcat.spjp_a (t BIGINT, v BIGINT) " +
      "TBLPROPERTIES('graft.dims' = 't:100')")
    spark.sql("CREATE TABLE gcat.spjp_b (t BIGINT, w BIGINT) " +
      "TBLPROPERTIES('graft.dims' = 't:100')")
    spark.sql("INSERT INTO gcat.spjp_a SELECT id, id FROM range(0, 1000)")      // chunks 0..9
    spark.sql("INSERT INTO gcat.spjp_b SELECT id, id * 2 FROM range(0, 500)")   // chunks 0..4
    val saved = Seq("spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled",
      "spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      spark.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // PRUNED sides: a filtered to chunks 2..6 (ChunkPruneRule partition
      // filters), b unfiltered with chunks 0..4 — partition value sets
      // differ on BOTH ends; pushPartValues must align them, zero exchanges
      val q = spark.sql(
        """SELECT a.t, a.v, b.w FROM gcat.spjp_a a JOIN gcat.spjp_b b ON a.t = b.t
          |WHERE a.t >= 200 AND a.t < 700""".stripMargin)
      val rows = q.collect()
      assert(rows.length === 300, "t in [200, 500) joins") // b only has t < 500
      assert(rows.forall(r => r.getLong(1) == r.getLong(0) && r.getLong(2) == 2 * r.getLong(0)))
      val plan = graft.core.TestSpark.finalPlan(q)
      assert(!plan.contains("Exchange"),
        s"pushPartValues must align pruned partition sets without a shuffle:\n$plan")
      // partially-clustered skew handling on: results must stay identical
      spark.conf.set(
        "spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled", "true")
      val q2 = spark.sql(
        """SELECT a.t, a.v, b.w FROM gcat.spjp_a a JOIN gcat.spjp_b b ON a.t = b.t
          |WHERE a.t >= 200 AND a.t < 700""".stripMargin)
      val rows2 = q2.collect()
      assert(rows2.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq ===
        rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq,
        "partially-clustered execution must not change results")
    } finally {
      saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    }
    Seq("spjp_a", "spjp_b").foreach(t => spark.sql(s"DROP TABLE gcat.$t"))
  }

  // ---- MVCC table jobs end to end on catalog tables: commits through
  // GraftInsert.append (claimed ids), reads through the catalog, whose
  // chunk-partitioned scan resolves with zero exchanges under v2 bucketing

  /** A fresh manifest table `gcat.<name>` under the suite schema; returns
    * its directory. */
  private def catTable(name: String): String = {
    val dir = root.resolve(name)
    graft.core.Storage.deleteRecursively(dir)
    MatDb.create(spark, schema, dir.toString, "manifest")
    dir.toString
  }

  /** Run `f` with the given session confs set, restoring them afterwards. */
  private def withConf[A](kvs: (String, String)*)(f: => A): A = {
    val saved = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try { kvs.foreach { case (k, v) => spark.conf.set(k, v) }; f }
    finally saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  private val v2Bucketing = "spark.sql.sources.v2.bucketing.enabled" -> "true"
  private val noBroadcast = Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")

  /** Txn ids of the segment directories a catalog read's file scan lists. */
  private def scannedTxns(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.queryExecution.sparkPlan.collectLeaves().collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
    }.collect { case f: org.apache.spark.sql.execution.datasources.v2.FileScan =>
      f.fileIndex.rootPaths.flatMap(p => graft.core.Storage.decode(p.getName)).map(_.txnId)
    }.flatten.toSet

  private def keyGrouped(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.sparkPlan.collectLeaves().exists(_.outputPartitioning
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.KeyGroupedPartitioning])

  test("zero-exchange dedup, partition-pruned asOf, parity with MatDb") {
    val dir = catTable("bg_test")
    // three overlapping transactions: txn2 overwrites half of txn1, txn3
    // overwrites a quarter and adds new keys
    val b1 = (0L until 200L).map(i => (i, i % 10, 1L))
    val b2 = (0L until 100L).map(i => (i, i % 10, 2L))
    val b3 = (50L until 75L).map(i => (i, i % 10, 3L)) ++
      (200L until 220L).map(i => (i, i % 10, 3L))
    val t1 = GraftInsert.append(spark, dir, batch(b1)).get
    // an EMPTY append commits no transaction and hands out no id — the id
    // it probed must go to the next real append, not alias two callers
    assert(GraftInsert.append(spark, dir, batch(Nil)).isEmpty)
    val t2 = GraftInsert.append(spark, dir, batch(b2)).get
    val t3 = GraftInsert.append(spark, dir, batch(b3)).get
    assert(Seq(t1, t2, t3) === Seq(1L, 2L, 3L))

    // parity oracle: a MatDb table built through Transaction commits
    val db = MatDb.create(spark, schema,
      Files.createTempDirectory("graft-catalog-parity").toString)
    Seq(b1, b2, b3).foreach { b =>
      val txn = db.newTransaction(); txn.addRows(batch(b)); txn.commit()
    }
    val expected = db.snapshot().collect().toSet
    withConf(v2Bucketing) {
      val snap = spark.sql("SELECT t, sensor, v FROM gcat.bg_test")
      val got = snap.collect().toSet
      assert(got === expected)
      assert(got.size === 220)
      // newest version wins: keys 50..74 at v=3, 75..99 at v=2, 100..199 at v=1
      val byKey = got.map(r => (r.getLong(0), r.getLong(2))).toMap
      assert(byKey(60L) === 3L && byKey(80L) === 2L && byKey(150L) === 1L)

      // THE plan property: the resolve aggregate runs on the scan's chunk
      // key groups with no Exchange anywhere
      TestSpark.assertNoExchange(snap, "catalog dedup")
      assert(keyGrouped(snap), s"the scan must report key-grouped partitioning:\n" +
        snap.queryExecution.sparkPlan)

      // time travel: VERSION AS OF txn1 sees only b1, and its scan lists
      // only txn 1's segment (visibility = metadata, not IO)
      val asOf1 = spark.sql(s"SELECT t, sensor, v FROM gcat.bg_test VERSION AS OF $t1")
      val rows1 = asOf1.collect()
      assert(rows1.length === 200 && rows1.forall(_.getLong(2) == 1L))
      assert(scannedTxns(asOf1) === Set(t1), "VERSION AS OF must shrink the file list")
      assert(scannedTxns(snap) === Set(t1, t2, t3))

      // a SQL aggregate on the dimensions reuses the key grouping end to end
      val sqlAgg = spark.sql(
        "SELECT t, sensor, max(v) AS v FROM gcat.bg_test GROUP BY t, sensor")
      assert(sqlAgg.count() === 220)
      TestSpark.assertNoExchange(sqlAgg, "SQL dim-aggregate over the resolved table")

      // ordered scan: dedup still exchange-free; only the final global sort
      // of RESOLVED rows may exchange (exactly one)
      val ord = spark.sql("SELECT t, sensor, v FROM gcat.bg_test ORDER BY t, sensor")
      assert(ord.limit(1).collect().head.getLong(0) === 0L)
      ord.collect()
      val ordPlan = TestSpark.finalPlan(ord)
      val exchanges = "(?m)Exchange".r.findAllIn(ordPlan).length
      assert(exchanges === 1, s"ordered scan should have exactly the sort exchange:\n$ordPlan")
    }
  }

  test("randomized append sequences resolve to the sequential-upsert model") {
    // seeded property check (deterministic in CI): N random batches of
    // random unique keys upsert into the table; the catalog read must equal
    // a driver-side map applied batch-by-batch — the core PropertySpec's
    // oracle over the GraftInsert write + catalog read path
    val dir = catTable("bg_prop")
    val rnd = new scala.util.Random(20260813L)
    val model = scala.collection.mutable.Map[(Long, Long), Long]()
    (1 to 5).foreach { _ =>
      // unique keys within a batch (duplicate keys within one append
      // resolve arbitrarily by contract, so the model keys are unique)
      val keys = rnd.shuffle((0L until 120L).toVector).take(1 + rnd.nextInt(60))
      val rows = keys.map(k => (k, k % 7, rnd.nextLong(1000)))
      rows.foreach { case (t, s, v) => model((t, s)) = v }
      GraftInsert.append(spark, dir, batch(rows))
    }
    val got = spark.sql("SELECT t, sensor, v FROM gcat.bg_prop").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got === model.toMap)
  }

  test("two writers never share a txn id: claims are atomic, sequential, unmerged") {
    // txn ids are CLAIMED by put-if-absent creation of the segment-0
    // directory, so a streaming sink and a backfill can never commit under
    // the SAME id. Race real concurrent claimers, then two concurrent
    // appenders, and check ids stay distinct and each transaction holds
    // exactly its own batch.
    val dir = catTable("bg_two_writers")
    val tableRoot = graft.core.Storage.rootPath(dir)
    val proto = graft.core.Protocol.at(tableRoot)
    import java.util.concurrent.{Callable, Executors, TimeUnit}
    def race[A](threads: Int, jobs: Seq[() => A]): Seq[A] = {
      val pool = Executors.newFixedThreadPool(threads)
      try jobs.map(j => pool.submit(new Callable[A] { def call(): A = j() }))
        .map(_.get(120, TimeUnit.SECONDS))
      finally pool.shutdown()
    }

    // phase 1: 4 threads × 5 concurrent claims — must partition 1..20 exactly
    val claimed = race(4, Seq.fill(20)(() =>
      GraftInsert.claimSegment(tableRoot)._1.txnId))
    assert(claimed.sorted === (1L to 20L), s"claims must be distinct+dense: $claimed")
    // dead claims (a writer that crashes after claiming) are invisible to
    // reads, and their ids are never handed out again
    assert(spark.sql("SELECT * FROM gcat.bg_two_writers").count() === 0)

    // phase 2: writers A and B append 3 batches each, concurrently
    val writers = race(2, Seq(0L, 50L).map { shift => () =>
      (0 until 3).map { i =>
        val rows = (0L until 10L).map(k => (100L * i + k + shift, k % 10, 1000L * shift + i))
        GraftInsert.append(spark, dir, batch(rows)).get -> rows
      }
    })
    val txns = writers.flatten.map(_._1)
    assert(txns.sorted === (21L to 26L), s"txn ids must never merge or reuse a claim: $txns")
    writers.foreach(w => assert(w.map(_._1) === w.map(_._1).sorted,
      s"ids allocate monotonically per writer: $w"))
    // no merged transactions: each txn holds exactly its batch
    val raw = graft.streaming.Streams.committedRows(spark, dir)
    writers.flatten.foreach { case (txn, rows) =>
      val got = raw.where(col(graft.core.Scan.TxnCol) === txn)
        .select(col("t"), col("sensor"), col("v")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got === rows.toSet, s"txn $txn must contain exactly its own batch")
    }
    assert(proto.txnWatermark(tableRoot) === txns.max)
  }

  test("compact aborts instead of discarding a concurrently committed append") {
    val dir = catTable("bg_compact_race")
    GraftInsert.append(spark, dir, batch((0L until 40L).map(i => (i, i % 10, 1L))))
    GraftInsert.append(spark, dir, batch((0L until 20L).map(i => (i, i % 10, 2L))))
    def resolved() = spark.sql("SELECT t, sensor, v FROM gcat.bg_compact_race").collect()

    // another writer's append lands after the compacting handle pinned its
    // snapshot: the compaction must ABORT, not overwrite it away
    val stale = MatDb.open(spark, dir)
    val racer = GraftInsert.append(spark, dir, batch(Seq((500L, 0L, 9L)))).get
    val ex = intercept[java.util.ConcurrentModificationException](stale.compact())
    assert(ex.getMessage.contains(racer.toString), ex.getMessage)
    // the same race landing between the compaction's WRITE and its replace
    // PUBLISH — compact's own steps, with the append injected in between:
    // the conflict-checked replace refuses the stale base
    val db = MatDb.open(spark, dir)
    val txn = db.newTransaction()
    txn.addRows(txn.query())
    txn.flush()
    GraftInsert.append(spark, dir, batch(Seq((501L, 1L, 8L)))).get
    intercept[java.util.ConcurrentModificationException](txn.commitReplacing())

    // nothing was overwritten: every transaction's rows still resolve
    val afterAbort = resolved()
    assert(afterAbort.length === 42)
    assert(afterAbort.exists(r => r.getLong(0) == 500L && r.getLong(2) == 9L))
    assert(afterAbort.exists(r => r.getLong(0) == 501L && r.getLong(2) == 8L))
    assert(afterAbort.exists(r => r.getLong(0) == 10L && r.getLong(2) == 2L))

    // with no concurrent writer the same compact succeeds and keeps every row
    val survivor = MatDb.open(spark, dir).compact()
    val snap = resolved()
    assert(snap.length === 42)
    assert(snap.exists(r => r.getLong(0) == 500L && r.getLong(2) == 9L))
    val compacted = MatDb.open(spark, dir)
    assert(compacted.txnWatermark === survivor)
    assert(compacted.committedSegments.map(_.txnId).distinct === Seq(survivor))
  }

  test("joining two resolved bucketed tables on the key needs no exchange either") {
    // chunk-aligned tables are co-located partition-for-partition; the MVCC
    // dedup aggregate PRESERVES the key grouping, so even the post-resolve
    // join plans with zero Exchange on either side
    val a = catTable("bg_join_a")
    val b = catTable("bg_join_b")
    GraftInsert.append(spark, a, batch((0L until 150L).map(i => (i, i % 10, 1L))))
    GraftInsert.append(spark, a, batch((0L until 50L).map(i => (i, i % 10, 2L))))
    GraftInsert.append(spark, b, batch((100L until 250L).map(i => (i, i % 10, 7L))))
    withConf(v2Bucketing +: noBroadcast: _*) {
      val joined = spark.sql(
        """SELECT x.t, x.sensor, x.v AS va, y.v AS vb
          |FROM gcat.bg_join_a x JOIN gcat.bg_join_b y
          |ON x.t = y.t AND x.sensor = y.sensor""".stripMargin)
      val rows = joined.collect()
      // keys 100..149 overlap; newest versions: a has v=2 below 50 (not
      // overlapping), v=1 at 100..149; b has v=7 everywhere
      assert(rows.length === 50)
      assert(rows.forall(r => r.getLong(2) == 1L && r.getLong(3) == 7L))
      TestSpark.assertNoExchange(joined, "co-located resolve+join")
    }
  }

  test("shallowClone: zero-copy fork — identical reads, independent writes") {
    val src = catTable("bg_clone_src")
    val dst = root.resolve("bg_clone_dst")
    graft.core.Storage.deleteRecursively(dst)
    GraftInsert.append(spark, src, batch((0L until 100L).map(i => (i, i % 10, 1L))))
    GraftInsert.append(spark, src, batch((0L until 50L).map(i => (i, i % 10, 2L))))
    MatDb.shallowClone(spark, src, dst.toString)
    def rows(t: String) = spark.sql(s"SELECT t, v FROM gcat.$t ORDER BY t")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows("bg_clone_dst") === rows("bg_clone_src"), "clone reads identically")
    // hard links, not copies: a data file in the clone shares its inode
    val aFile = Files.walk(dst).filter(p => p.toString.endsWith(".parquet")).findFirst().get()
    assert(Files.getAttribute(aFile, "unix:nlink").asInstanceOf[Integer] >= 2,
      "clone must hard-link data files")
    // independent appends: the fork diverges, the source does not see it
    GraftInsert.append(spark, dst.toString, batch(Seq((500L, 0L, 9L))))
    assert(spark.sql("SELECT * FROM gcat.bg_clone_dst").count() === 101)
    assert(spark.sql("SELECT * FROM gcat.bg_clone_src").count() === 100)
  }

  test("analyze: resolved catalog statistics price the relation, not raw versions") {
    val dir = catTable("bg_analyze")
    // 200 keys x 5 versions: raw rows 1000, resolved 200
    (0 until 5).foreach { i =>
      GraftInsert.append(spark, dir, batch((0L until 200L).map(k => (k, k % 10, i.toLong))))
    }
    val (n, bytes) = MatDb.open(spark, dir).analyze()
    assert(n === 200L, s"resolved count, got $n")
    assert(bytes === 200L * schema.toStructType.defaultSize)
    def leafStats() = spark.sql("SELECT * FROM gcat.bg_analyze")
      .queryExecution.optimizedPlan.collectLeaves().head.stats
    assert(leafStats().sizeInBytes === BigInt(bytes),
      s"catalog stats must price the relation: ${leafStats().sizeInBytes} vs $bytes")
    withConf("spark.sql.cbo.enabled" -> "true") {
      val cboStats = leafStats()
      assert(cboStats.rowCount.contains(BigInt(200)),
        s"CBO must see the resolved row count, got ${cboStats.rowCount}")
    }
  }

  test("bucketed fact-fact join runs with zero exchanges and exact parity") {
    // sf0.001 lineitem ⋈ orders on l_orderkey as two catalog tables chunked
    // alike on the join key: with v2 bucketing both scans report key groups
    // over chunk(l_orderkey), so the join runs with ZERO exchanges on either
    // side and returns exactly the rows of the shuffled join. A graft table
    // holds one row per key and the join key must be the whole key (a
    // join on a key prefix cannot regroup through the MVCC dedup), so
    // lineitem enters as its per-order line totals. Both sides are
    // materialized once, so the parity check compares identical doubles.
    root
    Seq("li_b", "ord_b").foreach(t => spark.sql(s"DROP TABLE IF EXISTS gcat.$t"))
    val sf = "/root/testdata/sf0.001"
    val src = Files.createTempDirectory("graft-spj-src")
    spark.read.parquet(s"$sf/lineitem.parquet").groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("l_lines"), sum(col("l_quantity")).as("l_quantity"),
        sum(col("l_extendedprice")).as("l_extendedprice"))
      .write.parquet(src.resolve("li").toString)
    spark.read.parquet(s"$sf/orders.parquet")
      .select(col("o_orderkey").as("l_orderkey"), col("o_totalprice"))
      .write.parquet(src.resolve("ord").toString)
    val lineitem = spark.read.parquet(src.resolve("li").toString)
    val orders = spark.read.parquet(src.resolve("ord").toString)
    lineitem.createOrReplaceTempView("li_src")
    orders.createOrReplaceTempView("ord_src")
    spark.sql("CREATE TABLE gcat.li_b " +
      "TBLPROPERTIES('graft.dims' = 'l_orderkey:100') AS SELECT * FROM li_src")
    spark.sql("CREATE TABLE gcat.ord_b " +
      "TBLPROPERTIES('graft.dims' = 'l_orderkey:100') AS SELECT * FROM ord_src")
    // at sf0.001 the planner would broadcast the tiny side; disable
    // broadcast to exercise the plan shape that matters at scale
    withConf(Seq(v2Bucketing,
        "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true") ++ noBroadcast: _*) {
      val joined = spark.sql(
        """SELECT l.l_orderkey, l.l_lines, l.l_quantity, l.l_extendedprice, o.o_totalprice
          |FROM gcat.li_b l JOIN gcat.ord_b o ON l.l_orderkey = o.l_orderkey""".stripMargin)
      val expected = lineitem.join(orders, "l_orderkey")
        .select("l_orderkey", "l_lines", "l_quantity", "l_extendedprice", "o_totalprice")
      assert(joined.count() === expected.count())
      assert(joined.exceptAll(expected).count() === 0L)
      assert(expected.exceptAll(joined).count() === 0L)
      joined.collect()
      val plan = TestSpark.finalPlan(joined)
      assert(!plan.contains("Exchange"), s"chunk-aligned join must not shuffle:\n$plan")
      assert(plan.contains("SortMergeJoin"), s"unexpected join strategy:\n$plan")
      // the co-location comes from the key-grouped scans
      assert(keyGrouped(joined), joined.queryExecution.sparkPlan.toString)
    }
    Seq("li_b", "ord_b").foreach(t => spark.sql(s"DROP TABLE gcat.$t"))
    graft.core.Storage.deleteRecursively(src)
  }
}
