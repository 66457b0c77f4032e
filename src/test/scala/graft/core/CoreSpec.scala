package graft.core

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import java.nio.file.{Files, Paths}

object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // catalog + SQL time travel need the analyzer rule (GraftCatalogSpec);
      // the same entry a production session would set
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The FINAL adaptive physical plan as text — AQE's echoed "Initial
    * Plan" is stripped so `contains("Exchange")`-style assertions judge
    * the plan that actually ran, not the pre-reoptimization one. Shared
    * by every spec that pins a plan shape (one place to fix when the
    * plan-string format shifts across Spark versions). */
  def finalPlan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head

  /** Spark jobs `body` starts on the calling thread: they carry a local
    * property the listener matches, and a marker job run afterwards
    * drains the listener bus (events are delivered in order). */
  def jobsOf[A](body: => A): (A, Int) = {
    import org.apache.spark.scheduler._
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).map(_.getProperty("graft.spec.jobs")) match {
          case Some(`tag`) => jobs.incrementAndGet(); ()
          case Some(t) if t == s"$tag-drain" => drained.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty("graft.spec.jobs", tag)
      val out = try body finally sc.setLocalProperty("graft.spec.jobs", null)
      sc.setLocalProperty("graft.spec.jobs", s"$tag-drain")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty("graft.spec.jobs", null)
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "the listener bus did not drain")
      (out, jobs.get())
    } finally sc.removeSparkListener(listener)
  }

  /** Run `df` and assert its final plan contains no Exchange. */
  def assertNoExchange(df: org.apache.spark.sql.DataFrame, what: String): Unit = {
    df.collect()
    val plan = finalPlan(df)
    assert(!plan.contains("Exchange"), s"$what must not shuffle:\n$plan")
  }
}

/** End-to-end core-engine behaviors, run once per way a table comes to
  * be (a fresh manifest table, a rename-committed directory upgraded on
  * open, a table on the simulated object store — all must be
  * indistinguishable through the public API). The first test reproduces
  * the reference's integration scenario (reference: tests/matdb.rs:54-75):
  * 100×100 grid, mid-txn flush, in-txn visibility, commit, fresh-txn
  * visibility, and the dirty-directory re-run relying on upsert dedup. */
abstract class CoreProtocolBehaviors(label: String,
    storeName: String = "posix")
    extends AnyFunSuite with BeforeAndAfterAll {
  protected lazy val spark = TestSpark.spark

  protected def tmpDir(): String =
    Files.createTempDirectory(s"graft-core-$label-$storeName").toString

  protected def create(path: String, sch: MatSchema = schema): MatDb =
    MatDb.create(spark, sch, path, store = storeName)

  private def grid(n: Int, m: Int, valueOf: (Int, Int) => Long): Seq[Seq[Any]] =
    for (t <- 0 until n; s <- 0 until m)
      yield Seq(t.toLong, s.toLong, valueOf(t, s))

  protected val schema = MatSchema(
    Seq(Dimension("time", 50), Dimension("sensor_id", 10)),
    Seq(ValueCol("value")))

  test("matdb integration scenario: insert grid, flush, query, commit, reopen, dirty rerun") {
    val path = tmpDir()
    val db = create(path)
    assert(Files.isDirectory(Paths.get(path, "_log")))

    val txn = db.newTransaction()
    // sensors 0-49 before the flush, 50-99 after
    txn.addRowsSeq(grid(100, 50, (t, s) => (t * 1000 + s).toLong))
    txn.flush() // mid-txn spill, reference tests/matdb.rs:32-34
    txn.addRowsSeq(
      for (t <- 0 until 100; s <- 50 until 100)
        yield Seq[Any](t.toLong, s.toLong, (t * 1000 + s).toLong))
    // query inside the txn sees both flushed and buffered rows
    assert(txn.query().count() === 10000)
    txn.commit()

    // fresh txn after commit sees all rows
    val txn2 = db.newTransaction()
    assert(txn2.query().count() === 10000)
    txn2.rollback()

    // reopen from disk
    val db2 = MatDb.open(spark, path)
    assert(Files.isDirectory(Paths.get(path, "_log")))
    assert(db2.snapshot().count() === 10000)

    // dirty re-run: re-insert the same keys with new values; upsert dedup
    // keeps the count at 10000 and the NEW values win
    val txn3 = db2.newTransaction()
    txn3.addRowsSeq(grid(100, 100, (t, s) => 777L))
    txn3.commit()
    val snap = db2.snapshot()
    assert(snap.count() === 10000)
    import org.apache.spark.sql.functions._
    assert(snap.agg(countDistinct(col("value"))).head().getLong(0) === 1L)
    assert(snap.agg(max(col("value"))).head().getLong(0) === 777L)
  }

  test("ordered scan yields key order") {
    val path = tmpDir()
    val db = create(path)
    val txn = db.newTransaction()
    txn.addRowsSeq(Seq(Seq(5L, 1L, 10L), Seq(1L, 2L, 20L), Seq(1L, 1L, 30L), Seq(120L, 7L, 40L)))
    txn.commit()
    val rows = db.orderedScan().collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.toSeq === Seq((1L, 1L), (1L, 2L), (5L, 1L), (120L, 7L)))
  }

  test("ordered scan resolves MVCC and ships ONE exchange, not two") {
    val path = tmpDir()
    val db = create(path)
    val t1 = db.newTransaction()
    t1.addRowsSeq(Seq(Seq(1L, 1L, 10L), Seq(2L, 1L, 20L)))
    t1.commit()
    val t2 = db.newTransaction()
    t2.addRowsSeq(Seq(Seq(1L, 1L, 11L))) // upsert of (1,1)
    t2.commit()
    val scan = db.orderedScan()
    // newest version per key, key-ordered
    assert(scan.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      === Seq((1L, 1L, 11L), (2L, 1L, 20L)))
    // the single range exchange clusters equal keys for the dedup
    // aggregate AND satisfies the final sort — snapshot().orderBy would
    // move the table twice (hash for the groupBy, range for the sort)
    // AQE prints the final plan first and the pre-adaptive one after —
    // count exchanges in the final section only
    val plan = scan.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val exchanges = plan.linesIterator.count(_.trim.startsWith("+- Exchange"))
    assert(plan.contains("rangepartitioning"), plan)
    assert(exchanges === 1, s"expected exactly one Exchange:\n$plan")
  }

  test("newest txn wins across commits; later batch wins within txn") {
    val path = tmpDir()
    val db = create(path)
    val t1 = db.newTransaction()
    t1.addRowsSeq(Seq(Seq(1L, 1L, 100L)))
    t1.commit()
    val t2 = db.newTransaction()
    t2.addRowsSeq(Seq(Seq(1L, 1L, 200L)))
    t2.addRowsSeq(Seq(Seq(1L, 1L, 300L))) // later batch, same txn
    t2.flush()
    t2.addRowsSeq(Seq(Seq(1L, 1L, 400L))) // buffered after flush
    t2.commit()
    val vals = db.snapshot().collect().map(_.getLong(2))
    assert(vals.toSeq === Seq(400L))
  }

  test("snapshot isolation: txn opened before a commit does not see it") {
    val path = tmpDir()
    val db = create(path)
    val t1 = db.newTransaction()
    t1.addRowsSeq(Seq(Seq(1L, 1L, 1L)))
    t1.commit()
    val reader = db.newTransaction() // horizon fixed here
    val t2 = db.newTransaction()
    t2.addRowsSeq(Seq(Seq(2L, 2L, 2L)))
    t2.commit()
    assert(reader.query().count() === 1)       // does not see t2
    assert(db.snapshot().count() === 2)        // fresh snapshot does
    reader.rollback()
  }

  test("time travel asOf") {
    val path = tmpDir()
    val db = create(path)
    val t1 = db.newTransaction(); t1.addRowsSeq(Seq(Seq(1L, 1L, 1L))); t1.commit()
    val t2 = db.newTransaction(); t2.addRowsSeq(Seq(Seq(1L, 1L, 2L), Seq(3L, 3L, 3L))); t2.commit()
    assert(db.asOf(1L).collect().map(_.getLong(2)).toSeq === Seq(1L))
    assert(db.snapshot().count() === 2)
  }

  test("rollback and crash recovery drop uncommitted segments") {
    val path = tmpDir()
    val db = create(path)
    val t1 = db.newTransaction(); t1.addRowsSeq(Seq(Seq(1L, 1L, 1L))); t1.commit()
    // rollback path
    val t2 = db.newTransaction(); t2.addRowsSeq(Seq(Seq(2L, 2L, 2L))); t2.flush(); t2.rollback()
    assert(db.snapshot().count() === 1)
    // crash path: flushed-but-uncommitted segment left behind, then reopen
    // sweeps it (and the crashed txn still burned its id)
    val t3 = db.newTransaction(); t3.addRowsSeq(Seq(Seq(3L, 3L, 3L))); t3.flush()
    val crashedId = t3.id.get
    val db2 = MatDb.open(spark, path)
    assert(db2.snapshot().count() === 1)
    val t4 = db2.newTransaction(); t4.addRowsSeq(Seq(Seq(4L, 4L, 4L))); t4.commit()
    assert(t4.id.get > crashedId)
  }

  test("overwrite replaces contents: absent keys are gone, not upserted around") {
    import spark.implicits._
    val path = tmpDir()
    val db = create(path)
    val t1 = db.newTransaction()
    t1.addRowsSeq(Seq(Seq(1L, 1L, 10L), Seq(2L, 2L, 20L), Seq(3L, 3L, 30L)))
    t1.commit()
    val cid = db.overwrite(
      Seq((1L, 1L, 11L), (9L, 9L, 90L)).toDF("time", "sensor_id", "value"))
    assert(cid > 0)
    val got = db.snapshot().collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(got === Map(1L -> 11L, 9L -> 90L)) // keys 2 and 3 are gone
    // survives reopen; old segment dirs were deleted
    assert(MatDb.open(spark, path).snapshot().count() === 2)
    assert(db.committedSegments.forall(_.txnId == cid))
  }

  test("chunk-range predicate prunes and returns correct rows") {
    val path = tmpDir()
    val db = create(path)
    val txn = db.newTransaction()
    txn.addRowsSeq(grid(200, 10, (t, s) => t.toLong))
    txn.commit()
    val t2 = db.newTransaction()
    val pred = Scan.chunkRange(schema, "time", Some(60L), Some(119L))
    val got = t2.query(Some(pred))
    assert(got.count() === 60 * 10)
    t2.rollback()
  }

  test("compact rewrites to one transaction and drops superseded segments") {
    val path = tmpDir()
    val db = create(path)
    for (i <- 1 to 3) {
      val t = db.newTransaction()
      t.addRowsSeq(Seq(Seq(i.toLong, 1L, i * 10L), Seq(0L, 0L, i.toLong)))
      t.commit()
    }
    assert(db.committedSegments.map(_.txnId).distinct.size === 3)
    val before = db.snapshot().collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val cid = db.compact()
    assert(cid > 0)
    assert(db.committedSegments.map(_.txnId).distinct === Seq(cid))
    val after = db.snapshot().collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(after === before)
    assert(after((0L, 0L)) === 3L) // upserted value survived compaction
    // reopen from disk agrees; a later txn still upserts over the compacted data
    val db2 = MatDb.open(spark, path)
    assert(db2.snapshot().count() === before.size)
    val t = db2.newTransaction(); t.addRowsSeq(Seq(Seq(0L, 0L, 99L))); t.commit()
    assert(db2.snapshot().where("time = 0 and sensor_id = 0").head().getLong(2) === 99L)
  }

  test("stale pre-DROP handle cannot commit dropped-column bytes (no re-ADD resurrection)") {
    val path = tmpDir()
    val two = MatSchema(
      Seq(Dimension("time", 50), Dimension("sensor_id", 10)),
      Seq(ValueCol("v"), ValueCol("w")))
    val db = create(path, two)
    val t0 = db.newTransaction()
    t0.addRowsSeq(Seq(Seq(1L, 1L, 10L, 100L)))
    t0.commit()
    // stale handle captured BEFORE the drop: its schema still carries 'w'
    // and its next txn id (2) is about to be superseded by other writers
    val stale = MatDb.open(spark, path)
    for (i <- 2 to 3) { // other writers advance history past stale's ids
      val t = db.newTransaction()
      t.addRowsSeq(Seq(Seq(i.toLong, 1L, i * 10L, i * 100L)))
      t.commit()
    }
    // another writer drops 'w' and compacts — the tombstone lifts, so
    // nothing on disk remembers 'w' ever existed
    val (cur, ver) = Storage.readSchemaVersioned(db.root)
    assert(Storage.casSchema(db.root, ver,
      cur.copy(values = cur.values.filterNot(_.name == "w"), dropped = Seq("w"))))
    val post = MatDb.open(spark, path)
    post.compact()
    post.vacuum() // clear superseded dirs so the stale write itself succeeds
    assert(Storage.readSchema(db.root).dropped.isEmpty, "compact lifts the tombstone")
    // the stale handle's commit (txn id 2 — BELOW the baseline, carrying
    // w's bytes) must fail LOUDLY, not land silently-outranked segments
    val txn = stale.newTransaction()
    txn.addRowsSeq(Seq(Seq(2L, 2L, 20L, 200L)))
    val err = intercept[java.util.ConcurrentModificationException](txn.commit())
    assert(err.getMessage.contains("w"))
    // nothing committed; a post-drop handle sees only the compacted rows
    val fresh = MatDb.open(spark, path)
    assert(fresh.snapshot().count() === 3)
    // and the segment directory holds no uncommitted leftovers carrying 'w'
    assert(fresh.snapshot().columns.toSeq === Seq("time", "sensor_id", "v"))
  }

  test("history lists committed segments for time-travel discovery") {
    val path = tmpDir()
    val db = create(path)
    for (i <- 1 to 2) {
      val t = db.newTransaction(); t.addRowsSeq(Seq(Seq(i.toLong, 1L, 1L))); t.commit()
    }
    val h = db.history().collect().map(r => (r.getLong(0), r.getInt(1)))
    assert(h.map(_._1).distinct.sorted.toSeq === Seq(1L, 2L))
    assert(db.history().schema.fieldNames.toSeq
      === Seq("txn_id", "seg_num", "path", "commit_ts"))
  }

  test("committing an empty batch leaves the table fully readable") {
    val path = tmpDir()
    val db = create(path)
    val t1 = db.newTransaction()
    t1.addRowsSeq(Seq(Seq(1L, 1L, 10L)))
    t1.commit()
    // empty DataFrame committed: flush writes a data-file-less segment
    val t2 = db.newTransaction()
    t2.addRows(db.snapshot().where("value < 0")) // empty
    t2.commit()
    assert(db.snapshot().count() === 1)
    assert(MatDb.open(spark, path).snapshot().count() === 1)
  }

  test("registerView exposes the table to full Spark SQL") {
    val path = tmpDir()
    val db = create(path)
    val t = db.newTransaction()
    t.addRowsSeq(Seq(Seq(1L, 1L, 10L), Seq(2L, 1L, 20L), Seq(2L, 2L, 30L)))
    t.commit()
    db.registerView("sensors")
    val byId = spark.sql(
      "SELECT sensor_id, sum(value) s, count(*) c FROM sensors GROUP BY 1 ORDER BY 1")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(byId.toSeq === Seq((1L, 30L, 2L), (2L, 30L, 1L)))
  }
}

/** Rename-committed directories (the reference's layout: no `_log/`) upgraded
  * to manifest version 0 by [[MatDb.open]], plus the upgrade's own
  * invariants. `create` lays out such a directory and opens it. */
class CoreSpec extends CoreProtocolBehaviors("upgraded") {

  /** Drop `_log/`: what is left is the layout a rename commit leaves — a
    * txn is committed iff its segment 0 sits under its final name. */
  private def toRenameLayout(path: String): Unit =
    Storage.deleteRecursively(Paths.get(path, "_log"))

  override protected def create(path: String, sch: MatSchema = schema): MatDb = {
    super.create(path, sch)
    toRenameLayout(path)
    MatDb.open(spark, path)
  }

  test("partial commit: committed-looking segment without segment 0 is ignored") {
    val path = tmpDir()
    val db = create(path)
    val t1 = db.newTransaction(); t1.addRowsSeq(Seq(Seq(1L, 1L, 1L))); t1.commit()
    toRenameLayout(path)
    val fakeTxn = 99L
    val seg1 = SegmentId(fakeTxn, 1)
    Files.createDirectories(Storage.segmentPath(Storage.rootPath(path), seg1))
    val db3 = MatDb.open(spark, path)
    assert(db3.committedSegments.forall(_.txnId != fakeTxn))
    assert(db3.snapshot().count() === 1)
    // the partial txn's id stays burned: version 0 records it as producing txn
    val t2 = db3.newTransaction(); t2.addRowsSeq(Seq(Seq(2L, 2L, 2L))); t2.commit()
    assert(t2.id.get === fakeTxn + 1)
  }

  test("replace leaves exactly visibleAfter on disk: the protocol deletes superseded dirs") {
    val path = tmpDir()
    val db = create(path)
    (1L to 3L).foreach { t =>
      val txn = db.newTransaction(); txn.addRowsSeq(Seq(Seq(t, 1L, t))); txn.commit()
    }
    toRenameLayout(path)
    val root = Storage.rootPath(path)
    val base = MatDb.open(spark, path).committedSegments
    assert(base.map(_.txnId) === Seq(1L, 2L, 3L))
    // a flushed replacement segment keeps txn 2 and supersedes txns 1 and 3
    val fresh = SegmentId(9L, 0)
    Files.createDirectories(Storage.segmentPath(root, fresh))
    val after = Seq(base(1), fresh)
    assert(Protocol.replace(root, Seq(fresh), after, base, 9L) === after)
    // the superseded version-0 segments stay for time travel until vacuum
    assert(MatDb.open(spark, path).vacuum() === 2)
    assert(Storage.listEntries(root).map(_._2).sorted === after)
    assert(Protocol.listCommitted(root) === after)
  }

  test("an unknown store name is refused before anything is written") {
    val path = Paths.get(tmpDir(), "t")
    val store = intercept[IllegalArgumentException](
      MatDb.create(spark, schema, path.toString, store = "objsim"))
    assert(store.getMessage.contains("objsim"), store.getMessage)
    val proto = intercept[IllegalArgumentException](
      MatDb.create(spark, schema, path.toString, "rename"))
    assert(proto.getMessage.contains("rename"), proto.getMessage)
    assert(!Files.exists(path))
    // a `_store` marker naming no registered store: the first write refuses
    // loudly instead of committing through posix primitives
    val db = create(path.toString)
    Files.write(path.resolve("_store"), "bogus".getBytes("UTF-8"))
    val marker = intercept[IllegalArgumentException] {
      val t = db.newTransaction(); t.addRowsSeq(Seq(Seq(1L, 1L, 1L))); t.commit()
    }
    assert(marker.getMessage.contains("bogus"), marker.getMessage)
  }

  test("addRows widens INT to LONG and refuses a DOUBLE dimension before buffering") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    def frame(t: DataType, rows: Row*) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(StructField("time", t), StructField("sensor_id", LongType),
        StructField("value", LongType))))
    val db = create(tmpDir())
    val t1 = db.newTransaction(); t1.addRowsSeq(Seq(Seq(1L, 1L, 10L), Seq(2L, 1L, 20L))); t1.commit()
    // a committed DOUBLE in the LONG dimension `time` would fail every later
    // read of the table with PARQUET_COLUMN_DATA_TYPE_MISMATCH
    val doubles = frame(DoubleType, Row(3.5, 1L, 30L))
    val t2 = db.newTransaction()
    val add = intercept[IllegalArgumentException](t2.addRows(doubles))
    assert(add.getMessage.contains("time"), add.getMessage)
    val del = intercept[IllegalArgumentException](t2.deleteRows(doubles))
    assert(del.getMessage.contains("time"), del.getMessage)
    t2.commit()
    assert(db.snapshot().collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      === Set((1L, 1L, 10L), (2L, 1L, 20L)))
    // INT up-casts exactly: keys, values and tombstone keys alike
    val ints = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(Int.MaxValue, 7, Int.MinValue)), 1),
      StructType(Seq(StructField("time", IntegerType), StructField("sensor_id", IntegerType),
        StructField("value", IntegerType))))
    val t3 = db.newTransaction()
    t3.addRows(ints)
    t3.deleteRows(frame(IntegerType, Row(1, 1L, 0L)))
    t3.commit()
    val snap = db.snapshot()
    assert(snap.schema.map(_.dataType) === Seq(LongType, LongType, LongType))
    assert(snap.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      === Set((2L, 1L, 20L), (Int.MaxValue.toLong, 7L, Int.MinValue.toLong)))
  }

  test("an unchanged visible set reuses its segment index; a re-created table is listed afresh") {
    val dir = tmpDir()
    val db = create(dir)
    val t1 = db.newTransaction(); t1.addRowsSeq(Seq(Seq(1L, 1L, 10L))); t1.commit()
    val paths = db.segmentReadPaths(db.committedSegments)
    assert(Scan.segmentIndex(spark, schema, paths) eq Scan.segmentIndex(spark, schema, paths))
    val t2 = db.newTransaction(); t2.addRowsSeq(Seq(Seq(2L, 1L, 20L))); t2.commit()
    assert(db.snapshot().count() === 2)
    // drop the table and re-create it at the same path: its segment
    // directories come back under the same names with other files in them
    Storage.deleteRecursively(java.nio.file.Paths.get(dir))
    val again = create(dir)
    val t3 = again.newTransaction()
    t3.addRowsSeq(Seq(Seq(1L, 1L, 99L), Seq(3L, 1L, 30L), Seq(4L, 1L, 40L))); t3.commit()
    assert(again.segmentReadPaths(again.committedSegments) === paths)
    assert(again.snapshot().collect().map(r => (r.getLong(0), r.getLong(2))).toSet
      === Set((1L, 99L), (3L, 30L), (4L, 40L)))
  }

  test("schema json round trip") {
    val s2 = MatSchema.fromJson(schema.json)
    assert(s2 === schema)
  }

  test("storage segment name encode/decode") {
    assert(Storage.segmentDirName(SegmentId(255, 2)) === "000000ff.00000002")
    assert(Storage.decode("000000ff.00000002") === Some(SegmentId(255, 2)))
    // a rename flush that never committed is no segment: only the upgrade
    // reader looks at `.tmp` names
    assert(Storage.decode("000000ff.00000002.tmp") === None)
    assert(Storage.decode("schema.json") === None)
  }
}

/** Fresh manifest tables + manifest invariants. */
class CoreManifestSpec extends CoreProtocolBehaviors("manifest") {

  test("visibility comes from the manifest, not the directory listing") {
    val path = tmpDir()
    val db = create(path)
    val t1 = db.newTransaction(); t1.addRowsSeq(Seq(Seq(1L, 1L, 1L))); t1.commit()
    // a segment directory that no manifest references must stay invisible
    // (this is what makes writes to final names safe pre-commit)...
    val t2 = db.newTransaction(); t2.addRowsSeq(Seq(Seq(2L, 2L, 2L))); t2.flush()
    val orphan = Storage.segmentPath(Storage.rootPath(path), SegmentId(t2.id.get, 0))
    assert(Files.isDirectory(orphan)) // written at its FINAL name already
    assert(db.snapshot().count() === 1) // ...but not visible
    // reopen: a YOUNG never-referenced dir is indistinguishable from a
    // LIVE concurrent writer's in-flight claim — recovery leaves it alone
    // (grace window) but it stays invisible, and its txn id is burned
    val db2 = MatDb.open(spark, path)
    assert(db2.snapshot().count() === 1)
    assert(Files.exists(orphan), "recovery must not sweep a possibly-live claim")
    val t3 = db2.newTransaction(); t3.addRowsSeq(Seq(Seq(3L, 3L, 3L))); t3.commit()
    assert(t3.id.get > t2.id.get, "a skipped orphan still burns its txn id")
    // once the claim AGES past the retention it is provably crashed: swept.
    // The segment carries a `_claim` wall-clock stamp (round 11 — so a
    // long-running write can't be mistaken for an expired orphan just
    // because its directory mtime went stale); aging means rewriting the
    // stamp, not the mtime.
    Files.write(orphan.resolve(Storage.ClaimFile),
      String.valueOf(System.currentTimeMillis() - Storage.claimRetentionMs - 60000L)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    Files.setLastModifiedTime(orphan,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - Storage.recoveryGraceMs - 60000L))
    val db3 = MatDb.open(spark, path)
    assert(!Files.exists(orphan), "an aged orphan is a crashed claim — swept")
    assert(db3.snapshot().count() === 2)
    // superseded COMMITS (referenced by an older manifest) are never
    // mistaken for claims: compact + vacuum removes them immediately
    val preCompact = db3.committedSegments
      .map(s => Storage.segmentPath(Storage.rootPath(path), s))
    db3.compact()
    assert(db3.vacuum() === preCompact.size)
    assert(preCompact.forall(!Files.exists(_)))
  }

  test("optimistic multi-writer: append commits merge, replace and id collisions abort") {
    import spark.implicits._
    val path = tmpDir()
    val db1 = create(path)
    val t1 = db1.newTransaction(); t1.addRowsSeq(Seq(Seq(1L, 1L, 1L))); t1.commit()

    // writer 2 opens the same table and appends; writer 1's view (and its
    // txn-id floor) is now stale
    val db2 = MatDb.open(spark, path)
    val t2 = db2.newTransaction(); t2.addRowsSeq(Seq(Seq(2L, 2L, 2L))); t2.commit()

    // writer 1's next transaction allocates the id writer 2 just committed:
    // it must ABORT (the committed segment directory is the claim — the
    // flush refuses the occupied final path), never clobber
    intercept[Exception] {
      val t3 = db1.newTransaction(); t3.addRowsSeq(Seq(Seq(3L, 3L, 3L))); t3.commit()
    }
    assert(MatDb.open(spark, path).snapshot().count() === 2) // both commits intact

    // commit-level defense in depth: replaying an already-committed id
    // aborts with a conflict even if a directory check were bypassed
    intercept[java.util.ConcurrentModificationException] {
      Protocol.commit(Storage.rootPath(path), Seq(SegmentId(t2.id.get, 0)))
    }

    // a writer that refreshes its view proceeds past the collision, and
    // every prior commit survives
    val db3 = MatDb.open(spark, path)
    val t4 = db3.newTransaction(); t4.addRowsSeq(Seq(Seq(4L, 4L, 4L))); t4.commit()
    assert(MatDb.open(spark, path).snapshot().count() === 3)

    // the primitive the race handling rests on: publishing a version is
    // put-if-absent (POSIX rename would silently REPLACE — createLink
    // fails instead), so the loser of a concurrent publish observes the
    // failure rather than clobbering the winner's manifest
    val root = Storage.rootPath(path)
    import scala.jdk.CollectionConverters._
    val nextVersion = Files.list(root.resolve("_log")).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".json"))
      .map(n => java.lang.Long.parseLong(n.stripSuffix(".json"), 16)).max + 1
    assert(Protocol.tryWriteManifest(root, nextVersion, Seq(SegmentId(99L, 0))))
    assert(!Protocol.tryWriteManifest(root, nextVersion, Seq.empty))
  }

  test("compact defers deletion; vacuum sweeps superseded segments") {
    val path = tmpDir()
    val db = create(path)
    for (i <- 1 to 2) {
      val t = db.newTransaction(); t.addRowsSeq(Seq(Seq(i.toLong, 1L, i * 10L))); t.commit()
    }
    val oldDirs = db.committedSegments
      .map(s => Storage.segmentPath(Storage.rootPath(path), s))
    db.compact()
    // superseded dirs still on disk (a reader mid-scan can finish)...
    assert(oldDirs.forall(Files.isDirectory(_)))
    assert(db.snapshot().count() === 2) // ...and invisible to new snapshots
    // explicit GC removes exactly them
    assert(db.vacuum() === oldDirs.size)
    assert(oldDirs.forall(!Files.exists(_)))
    assert(db.snapshot().count() === 2)
  }

  test("replace commit is a single manifest swap; empty overwrite truncates") {
    import spark.implicits._
    val path = tmpDir()
    val db = create(path)
    val t1 = db.newTransaction(); t1.addRowsSeq(Seq(Seq(1L, 1L, 1L))); t1.commit()
    db.overwrite(Seq.empty[(Long, Long, Long)].toDF("time", "sensor_id", "value"))
    assert(db.snapshot().count() === 0)
    assert(MatDb.open(spark, path).snapshot().count() === 0)
    // the table still accepts new transactions after a truncate
    val t2 = db.newTransaction(); t2.addRowsSeq(Seq(Seq(5L, 5L, 5L))); t2.commit()
    assert(db.snapshot().count() === 1)
  }
}

/** Manifest protocol over the SIMULATED OBJECT STORE ([[ObjectStoreSim]]):
  * the full protocol behaviors suite runs unchanged with only conditional
  * put + overwrite put — no hard links, no atomic rename, no native
  * directories. This is the CasStore seam's port-compatibility proof: a
  * real S3/GCS binding implements the same four primitives. */
class CoreObjectStoreSpec extends CoreProtocolBehaviors("objectstore", "objectsim") {

  test("the store marker routes commits through ObjectStoreSim") {
    val path = tmpDir()
    val db = create(path)
    val t1 = db.newTransaction(); t1.addRowsSeq(Seq(Seq(1L, 1L, 1L))); t1.commit()
    val root = Storage.rootPath(path)
    assert(Files.readAllLines(root.resolve("_store")).get(0) === "objectsim")
    // claims are marker objects, not bare directories
    val seg = db.committedSegments.head
    assert(Files.exists(
      Storage.segmentPath(root, seg).resolve("_dirclaim")))
  }

  test("shallow clone over the object store copies bytes (no links) and stays independent") {
    import spark.implicits._
    val path = tmpDir()
    val db = create(path)
    val t1 = db.newTransaction()
    t1.addRowsSeq(Seq(Seq(1L, 1L, 10L), Seq(2L, 2L, 20L))); t1.commit()
    val dst = tmpDir() + "/clone"
    val clone = MatDb.shallowClone(spark, path, dst)
    // the clone carries the store marker and the data
    assert(Files.readAllLines(
      Storage.rootPath(dst).resolve("_store")).get(0) === "objectsim")
    assert(clone.snapshot().count() === 2)
    // copies, not links: the clone's parquet files have link count 1
    val cloneSeg = Storage.segmentPath(Storage.rootPath(dst),
      clone.committedSegments.head)
    val aFile = Files.walk(cloneSeg).filter(p =>
      p.toString.endsWith(".parquet")).findFirst().get()
    assert(Files.getAttribute(aFile, "unix:nlink").asInstanceOf[Integer] === 1,
      "object-store clone must copy bytes, not hard-link them")
    // independence both ways
    val t2 = clone.newTransaction(); t2.addRowsSeq(Seq(Seq(3L, 3L, 30L))); t2.commit()
    assert(clone.snapshot().count() === 3)
    assert(MatDb.open(spark, path).snapshot().count() === 2)
  }
}
