package graft.core

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.{CyclicBarrier, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** A [[CasStore]] decorator that fails the k-th `putIfAbsent` after [[arm]]
  * — either before the put reaches the wrapped store or after it landed —
  * once. Registered under its own name ([[CasStore.register]]), so a table
  * whose `_store` marker names it routes every commit primitive through
  * it. */
final class CrashingCasStore(val name: String, inner: CasStore) extends CasStore {
  @volatile private var failAt = 0
  @volatile private var afterPut = false
  private val calls = new AtomicInteger

  /** Fail the `k`-th put from now on (`k` = 0: never) and reset the count. */
  def arm(k: Int, after: Boolean): Unit = { calls.set(0); failAt = k; afterPut = after }

  /** Puts seen since the last [[arm]]. */
  def puts: Int = calls.get

  def putIfAbsent(target: Path, content: Array[Byte]): Boolean = {
    val n = calls.incrementAndGet()
    val crash = failAt > 0 && n == failAt
    if (crash && !afterPut) throw new InjectedCrash(n)
    val won = inner.putIfAbsent(target, content)
    if (crash) throw new InjectedCrash(n)
    won
  }
  def putReplace(target: Path, content: Array[Byte]): Unit = inner.putReplace(target, content)
  def claimDirectory(dir: Path): Boolean = inner.claimDirectory(dir)
  def shareFile(from: Path, to: Path): Unit = inner.shareFile(from, to)
}

final class InjectedCrash(n: Int) extends RuntimeException(s"injected crash at putIfAbsent #$n")

/** The upgrade reader: a table directory committed by the reference's
  * segment renames (no `_log/`) is published as manifest version 0 by
  * whichever reader or writer touches it first. Legacy directories are
  * built through the one writer and then stripped of `_log/` — what is left
  * is exactly the rename layout, since segments already sit under their
  * final names — and crash states are planted by renaming and deleting
  * segment directories. */
class UpgradeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val schema = MatSchema(Seq(Dimension("k", 10)), Seq(ValueCol("v")))

  private def rowsOf(keys: Range, v: Long): Seq[Seq[Any]] = keys.map(k => Seq[Any](k.toLong, v))

  private def state(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.select("k", "v").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def toTmp(root: Path, id: SegmentId): Unit =
    Files.move(Storage.segmentPath(root, id),
      root.resolve(Storage.segmentDirName(id) + ".tmp"))

  /** Commits 1, 2 and 4 complete; txn 3 a flush whose rename never ran
    * (`.tmp` only); txn 5 lost its segment 0; txn 6 half-renamed (segments
    * 2 and 1 final, segment 0 still `.tmp`). */
  private def legacyDir(root: Path): Unit = {
    val db = MatDb.create(spark, schema, root.toString)
    def commit(keys: Range, v: Long): Unit = {
      val t = db.newTransaction(); t.addRowsSeq(rowsOf(keys, v)); t.commit()
    }
    def flushOnly(batches: (Range, Long)*): Long = {
      val t = db.newTransaction()
      batches.foreach { case (keys, v) => t.addRowsSeq(rowsOf(keys, v)); t.flush() }
      t.id.get
    }
    commit(0 until 10, 1L)
    commit(5 until 15, 2L)
    val neverRenamed = flushOnly((20 until 25, 3L))
    commit(0 until 3, 4L)
    val lostSeg0 = flushOnly((30 until 32, 5L), (32 until 34, 5L))
    val halfRenamed = flushOnly((40 until 42, 6L), (42 until 44, 6L), (44 until 46, 6L))
    Storage.deleteRecursively(root.resolve("_log"))
    toTmp(root, SegmentId(neverRenamed, 0))
    Storage.deleteRecursively(Storage.segmentPath(root, SegmentId(lostSeg0, 0)))
    toTmp(root, SegmentId(halfRenamed, 0))
  }

  /** The model: txns 1, 2, 4 visible newest-wins; ids up to 6 burned. */
  private val modelRows: Map[Long, Long] =
    ((0L until 10L).map(_ -> 1L) ++ (5L until 15L).map(_ -> 2L) ++
      (0L until 3L).map(_ -> 4L)).toMap
  private val modelNextTxn = 7L
  private val modelRawRows = 10 + 10 + 3

  private def copyTree(from: Path, to: Path): Unit = {
    val walk = Files.walk(from)
    try walk.iterator().asScala.toList.foreach { p =>
      val dst = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst)
      else Files.copy(p, dst, StandardCopyOption.COPY_ATTRIBUTES)
    } finally walk.close()
  }

  private def leftovers(root: Path): Seq[String] =
    Storage.listDir(root).map(_.getFileName.toString)
      .filter(n => n.endsWith(".tmp") || n.startsWith("_log."))

  /** Age every segment directory past the claim retention and the grace. */
  private def age(root: Path): Unit = {
    val old = System.currentTimeMillis() -
      math.max(Storage.claimRetentionMs, Storage.recoveryGraceMs) - 60000L
    Storage.listDir(root)
      .filter(_.getFileName.toString.matches("[0-9a-f]{8}\\.[0-9a-f]{8}(\\.tmp)?"))
      .foreach { d =>
        val claim = d.resolve(Storage.ClaimFile)
        if (Files.exists(claim)) Files.write(claim, old.toString.getBytes("UTF-8"))
        Files.setLastModifiedTime(d, java.nio.file.attribute.FileTime.fromMillis(old))
      }
  }

  private def version0(root: Path): Boolean =
    Files.isRegularFile(root.resolve("_log").resolve("00000000.json"))

  test("every crash state upgrades to the model through open, catalog SQL, format(graft) and graft-stream") {
    val base = Files.createTempDirectory("graft-upgrade")
    val legacy = base.resolve("legacy")
    legacyDir(legacy)
    assert(!Files.exists(legacy.resolve("_log")))
    import spark.implicits._

    // MatDb.open: rows, next id, and nothing swept inside the claim grace
    val viaOpen = base.resolve("open")
    copyTree(legacy, viaOpen)
    val db = MatDb.open(spark, viaOpen.toString)
    assert(version0(viaOpen))
    assert(state(db.snapshot()) === modelRows)
    assert(db.committedSegments.map(_.txnId).distinct === Seq(1L, 2L, 4L))
    assert(leftovers(viaOpen).sorted === Seq("00000003.00000000.tmp", "00000006.00000000.tmp"))
    assert(Files.isDirectory(Storage.segmentPath(viaOpen, SegmentId(5L, 1))))
    val t = db.newTransaction(); t.addRowsSeq(rowsOf(100 until 101, 9L)); t.commit()
    assert(t.id.get === modelNextTxn)

    // catalog SQL
    spark.conf.set("spark.sql.catalog.gup", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gup.root", base.toString)
    copyTree(legacy, base.resolve("sqlt"))
    assert(state(spark.sql("SELECT k, v FROM gup.sqlt")) === modelRows)
    assert(version0(base.resolve("sqlt")))
    spark.sql("INSERT INTO gup.sqlt VALUES (100, 9)")
    assert(Protocol.txnWatermark(base.resolve("sqlt")) === modelNextTxn)

    // format("graft"): read, then an append commits the next id
    val viaSource = base.resolve("source")
    copyTree(legacy, viaSource)
    assert(state(spark.read.format("graft").load(viaSource.toString)) === modelRows)
    Seq((100L, 9L)).toDF("k", "v").write.format("graft").mode("append").save(viaSource.toString)
    assert(Protocol.txnWatermark(viaSource) === modelNextTxn)

    // graft-stream: the raw rows of exactly the committed txns
    val viaStream = base.resolve("stream")
    copyTree(legacy, viaStream)
    val q = spark.readStream.format("graft-stream").load(viaStream.toString)
      .writeStream.format("memory").queryName("upgrade_stream").outputMode("append").start()
    try {
      q.processAllAvailable()
      val raw = spark.table("upgrade_stream")
      assert(raw.count() === modelRawRows)
      assert(raw.select(Scan.TxnCol).distinct().collect().map(_.getLong(0)).sorted.toSeq
        === Seq(1L, 2L, 4L))
    } finally q.stop()
    assert(Protocol.txnWatermark(viaStream) === modelNextTxn - 1)

    // aged leftovers: the upgrade sweeps `.tmp`, recovery the segment-0-less
    // dirs; rows and the next id do not move
    val aged = base.resolve("aged")
    copyTree(legacy, aged)
    age(aged)
    val agedDb = MatDb.open(spark, aged.toString)
    assert(leftovers(aged).isEmpty)
    assert(Storage.listEntries(aged).map(_._2.txnId).distinct.sorted === Seq(1L, 2L, 4L))
    assert(state(agedDb.snapshot()) === modelRows)
    val t2 = agedDb.newTransaction(); t2.addRowsSeq(rowsOf(100 until 101, 9L)); t2.commit()
    assert(t2.id.get === modelNextTxn)
  }

  test("time travel and CDC below version 0 read the legacy history") {
    val root = Files.createTempDirectory("graft-upgrade-tt")
    val db = MatDb.create(spark, schema, root.toString)
    Seq((0 until 10, 1L), (0 until 5, 2L), (3 until 8, 3L)).foreach { case (keys, v) =>
      val t = db.newTransaction(); t.addRowsSeq(rowsOf(keys, v)); t.commit()
    }
    val asOf1 = state(db.asOf(1L))
    val changes = db.changesBetween(1L, 3L).collect().toSet
    Storage.deleteRecursively(root.resolve("_log"))
    val up = MatDb.open(spark, root.toString)
    assert(state(up.asOf(1L)) === asOf1)
    assert(up.changesBetween(1L, 3L).collect().toSet === changes)
    // a replace above version 0 keeps the legacy history reachable
    import spark.implicits._
    up.overwrite(Seq((50L, 5L)).toDF("k", "v"))
    assert(state(up.asOf(1L)) === asOf1)
    assert(state(up.snapshot()) === Map(50L -> 5L))
  }

  test("two openers of one aged legacy directory: all rows, nothing swept, one version 0") {
    for (round <- 1 to 3) {
      val root = Files.createTempDirectory(s"graft-upgrade-race-$round")
      val db = MatDb.create(spark, schema, root.toString)
      (1 to 3).foreach { i =>
        val t = db.newTransaction(); t.addRowsSeq(rowsOf(i * 10 until i * 10 + 10, i.toLong)); t.commit()
      }
      val segs = db.committedSegments
      Storage.deleteRecursively(root.resolve("_log"))
      age(root)
      val barrier = new CyclicBarrier(2)
      val pool = Executors.newFixedThreadPool(2)
      try {
        val counts = (1 to 2).map { _ =>
          pool.submit(new java.util.concurrent.Callable[Long] {
            def call(): Long = {
              barrier.await(30, TimeUnit.SECONDS)
              MatDb.open(spark, root.toString).snapshot().count()
            }
          })
        }.map(_.get(120, TimeUnit.SECONDS))
        assert(counts === Seq(30L, 30L))
      } finally pool.shutdown()
      assert(segs.forall(s => Files.isDirectory(Storage.segmentPath(root, s))), "nothing swept")
      val manifests = Storage.listDir(root.resolve("_log")).map(_.getFileName.toString)
        .filter(_.endsWith(".json"))
      assert(manifests === Seq("00000000.json"))
      assert(leftovers(root).isEmpty)
    }
  }

  test("a _log-less directory on the object store is refused, not read as empty") {
    val root = Files.createTempDirectory("graft-upgrade-objsim")
    val db = MatDb.create(spark, schema, root.toString, store = ObjectStoreSim.name)
    val t = db.newTransaction(); t.addRowsSeq(rowsOf(0 until 3, 1L)); t.commit()
    Storage.deleteRecursively(root.resolve("_log"))
    val e = intercept[IllegalStateException](MatDb.open(spark, root.toString))
    assert(e.getMessage.contains("objectsim"), e.getMessage)
    assert(!Files.exists(root.resolve("_log")))
  }

  test("crash at every putIfAbsent of upgrade, append and INSERT OVERWRITE: pre- or post-state, then a writer commits") {
    import spark.implicits._
    val pre = ((0L until 10L).map(_ -> 1L) ++ (5L until 15L).map(_ -> 2L)).toMap
    val appended = pre ++ (10L until 20L).map(_ -> 3L)
    val overwritten = (100L until 105L).map(_ -> 9L).toMap

    /** A two-commit table on `inner` behind a fresh crashing store; for the
      * upgrade path it is left in the rename layout. */
    def setup(inner: CasStore, path: String): (Path, CrashingCasStore) = {
      val store = new CrashingCasStore(s"crash-${inner.name}-${java.util.UUID.randomUUID()}", inner)
      CasStore.register(store)
      val root = Files.createTempDirectory(s"graft-crash-$path-${inner.name}")
      val db = MatDb.create(spark, schema, root.toString, store = store.name)
      Seq((0 until 10, 1L), (5 until 15, 2L)).foreach { case (keys, v) =>
        val t = db.newTransaction(); t.addRowsSeq(rowsOf(keys, v)); t.commit()
      }
      if (path == "upgrade") Storage.deleteRecursively(root.resolve("_log"))
      (root, store)
    }
    def run(path: String, root: Path): Unit = path match {
      case "upgrade" => MatDb.open(spark, root.toString); ()
      case "append" =>
        val t = MatDb.open(spark, root.toString).newTransaction()
        t.addRowsSeq(rowsOf(10 until 20, 3L)); t.commit()
      case "overwrite" =>
        graft.sources.GraftInsert.overwrite(spark, root.toString,
          (100L until 105L).map(k => (k, 9L)).toDF("k", "v")); ()
    }
    val post = Map("upgrade" -> pre, "append" -> appended, "overwrite" -> overwritten)

    for {
      inner <- Seq[CasStore](PosixCasStore, ObjectStoreSim)
      path <- Seq("upgrade", "append", "overwrite")
      if path != "upgrade" || inner == PosixCasStore
    } {
      val puts = {
        val (root, store) = setup(inner, path)
        store.arm(0, after = false)
        run(path, root)
        assert(state(MatDb.open(spark, root.toString).snapshot()) === post(path))
        store.puts
      }
      assert(puts >= 1, s"$path on ${inner.name} made no putIfAbsent")
      for (k <- 1 to puts; after <- Seq(false, true)) {
        val what = s"$path on ${inner.name}, crash ${if (after) "after" else "before"} put $k"
        val (root, store) = setup(inner, path)
        val preWatermark = Protocol.txnWatermark(root)
        store.arm(k, after)
        intercept[InjectedCrash](run(path, root))
        assert(!Files.exists(root.resolve("_log")) || version0(root), s"$what: empty _log/")
        val db = MatDb.open(spark, root.toString) // a fresh handle
        val rows = state(db.snapshot())
        assert(rows == pre || rows == post(path), s"$what: rows $rows")
        if (!after) assert(rows === pre, s"$what: nothing was published")
        assert(db.txnWatermark >= preWatermark, s"$what: watermark moved back")
        val t = db.newTransaction(); t.addRowsSeq(rowsOf(500 until 501, 5L)); t.commit()
        assert(state(MatDb.open(spark, root.toString).snapshot()) === rows + (500L -> 5L), what)
      }
    }
  }
}
