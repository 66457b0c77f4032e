package graft.sources

import java.nio.file.Files
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{Dimension, MatDb, MatSchema, TestSpark, ValueCol}

/** SQL `CALL` maintenance procedures ([[GraftProcedures]]): checkpoint /
  * checkpoint_if_needed / compact / vacuum drive the existing MatDb
  * machinery from pure SQL, with named arguments, DEFAULT parameters and
  * one-row LocalScan results. */
class GraftProcedureSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val schema = MatSchema(
    Seq(Dimension("k", 100)), Seq(ValueCol("v")))

  private lazy val root = {
    val dir = Files.createTempDirectory("graft-proc-spec")
    spark.conf.set("spark.sql.catalog.gproc", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gproc.root", dir.toString)
    dir
  }

  /** Four txns: base 0..199=1, then 0..49=2, then 100..119=3, then 10..19=4. */
  private def mkTable(name: String): MatDb = {
    import org.apache.spark.sql.functions._
    val db = MatDb.create(spark, schema, root.resolve(name).toString, "manifest")
    Seq((0L, 200L, 1L), (0L, 50L, 2L), (100L, 120L, 3L), (10L, 20L, 4L)).foreach {
      case (lo, hi, v) =>
        val txn = db.newTransaction()
        txn.addRows(spark.range(lo, hi).select(col("id").as("k"), lit(v).as("v")))
        txn.commit()
    }
    db
  }

  private def call(sqlText: String): Row = spark.sql(sqlText).collect().head

  test("CALL checkpoint folds txns <= horizon; data and retained travel unchanged") {
    mkTable("ck")
    val before = spark.sql("SELECT k, v FROM gproc.ck ORDER BY k").collect()
    val asOf3 = spark.sql("SELECT k, v FROM gproc.ck VERSION AS OF 3 ORDER BY k").collect()
    val out = call("CALL gproc.system.checkpoint('ck', 2)")
    assert(out === Row(2L))
    val reopened = MatDb.open(spark, root.resolve("ck").toString)
    assert(reopened.committedSegments.count(_.txnId <= 2L) === 1,
      "txns 1 and 2 must fold into one baseline segment set")
    assert(spark.sql("SELECT k, v FROM gproc.ck ORDER BY k").collect() === before)
    assert(spark.sql("SELECT k, v FROM gproc.ck VERSION AS OF 3 ORDER BY k").collect()
      === asOf3, "time travel above the horizon must survive the fold")
  }

  test("CALL with named arguments (any order) and nothing-to-fold result") {
    mkTable("ck2")
    val out = call("CALL gproc.system.checkpoint(horizon => 3, table => 'ck2')")
    assert(out === Row(3L))
    // below the already-folded horizon there is nothing left to fold
    assert(call("CALL gproc.system.checkpoint('ck2', 2)") === Row(-1L))
  }

  test("CALL checkpoint_if_needed: DEFAULT params no-op below threshold, fold above") {
    mkTable("ck3")
    // defaults (max_segments=8, retain_txns=4): 4 segment sets -> no-op
    assert(call("CALL gproc.system.checkpoint_if_needed('ck3')") === Row(null))
    val out = call("CALL gproc.system.checkpoint_if_needed('ck3', 2, 1)")
    assert(out === Row(3L), "fold everything but the newest retained txn")
    val reopened = MatDb.open(spark, root.resolve("ck3").toString)
    assert(reopened.committedSegments.count(_.txnId <= 3L) === 1)
  }

  test("CALL vacuum sweeps superseded dirs once, then reports zero") {
    mkTable("vc")
    call("CALL gproc.system.checkpoint('vc', 4)")
    val removed = call("CALL gproc.system.vacuum('vc')").getInt(0)
    assert(removed === 4, s"four superseded segment dirs expected, got $removed")
    assert(call("CALL gproc.system.vacuum('vc')") === Row(0))
    assert(spark.sql("SELECT count(*) FROM gproc.vc").collect().head.getLong(0) === 200L)
  }

  test("CALL compact flattens all history") {
    mkTable("cp")
    val before = spark.sql("SELECT k, v FROM gproc.cp ORDER BY k").collect()
    val tid = call("CALL gproc.system.compact('cp')").getLong(0)
    assert(tid > 0)
    assert(spark.sql("SELECT k, v FROM gproc.cp ORDER BY k").collect() === before)
    val reopened = MatDb.open(spark, root.resolve("cp").toString)
    assert(reopened.committedSegments.map(_.txnId).distinct.size === 1,
      "one surviving transaction after compact")
  }

  test("unknown procedure and missing table fail loudly") {
    root // force catalog registration
    val e1 = intercept[Exception](spark.sql("CALL gproc.system.frobnicate('x')"))
    assert(e1.getMessage.contains("frobnicate"))
    val e2 = intercept[Exception](call("CALL gproc.system.vacuum('no_such_table')"))
    assert(e2.getMessage.toLowerCase.contains("no_such_table"))
  }

  test("rename-layout tables upgrade on first CALL: checkpoint, vacuum and compact all run") {
    import org.apache.spark.sql.functions._
    val dir = root.resolve("rn")
    val db = MatDb.create(spark, schema, dir.toString)
    Seq((0L, 100L, 1L), (0L, 50L, 2L)).foreach { case (lo, hi, v) =>
      val txn = db.newTransaction()
      txn.addRows(spark.range(lo, hi).select(col("id").as("k"), lit(v).as("v")))
      txn.commit()
    }
    // the same two commits as a rename-committed directory: no _log/
    graft.core.Storage.deleteRecursively(dir.resolve("_log"))
    assert(call("CALL gproc.system.checkpoint('rn', 1)") === Row(1L))
    assert(Files.exists(dir.resolve("_log").resolve("00000000.json")))
    // txn 1's segment, folded into the baseline, is history — vacuum takes it
    assert(call("CALL gproc.system.vacuum('rn')") === Row(1))
    assert(call("CALL gproc.system.compact('rn')").getLong(0) > 0)
    assert(spark.sql("SELECT count(*) FROM gproc.rn").head().getLong(0) === 100L)
  }

  test("CALL clone: zero-copy fork — identical reads, independent writes, independent GC") {
    mkTable("cl_src")
    val srcRows = spark.sql("SELECT k, v FROM gproc.cl_src ORDER BY k").collect()
    val out = call("CALL gproc.system.clone('cl_src', 'cl_dst')")
    assert(out.getLong(1) === 4L, "clone carries the source's txn watermark")

    // identical reads — current snapshot AND time travel parity
    assert(spark.sql("SELECT k, v FROM gproc.cl_dst ORDER BY k").collect() === srcRows)
    assert(
      spark.sql("SELECT k, v FROM gproc.cl_dst VERSION AS OF 2 ORDER BY k").collect() ===
      spark.sql("SELECT k, v FROM gproc.cl_src VERSION AS OF 2 ORDER BY k").collect())

    // zero-copy: the shared parquet files are the SAME inode (hard link)
    val srcSeg = MatDb.open(spark, root.resolve("cl_src").toString).committedSegments.head
    val segDir = graft.core.Storage.segmentPath(root.resolve("cl_src"), srcSeg)
    val aFile = Files.walk(segDir).filter(p =>
      p.getFileName.toString.endsWith(".parquet")).findFirst().get()
    assert(Files.getAttribute(aFile, "unix:nlink").asInstanceOf[Integer] >= 2,
      "clone must hard-link data files, not copy them")

    // independent writes: the clone's txn ids continue past the watermark,
    // the source never sees them
    spark.sql("INSERT INTO gproc.cl_dst SELECT id, 99 FROM range(500, 510)")
    assert(spark.sql("SELECT count(*) FROM gproc.cl_dst WHERE v = 99").head().getLong(0) === 10L)
    assert(spark.sql("SELECT count(*) FROM gproc.cl_src WHERE v = 99").head().getLong(0) === 0L)
    assert(spark.sql("SELECT k, v FROM gproc.cl_src ORDER BY k").collect() === srcRows)

    // independent GC: compact + vacuum the SOURCE (drops its own links to
    // every pre-compact segment) — the clone keeps reading its shared bytes
    call("CALL gproc.system.compact('cl_src')")
    call("CALL gproc.system.vacuum('cl_src')")
    assert(spark.sql("SELECT k, v FROM gproc.cl_dst WHERE v != 99 ORDER BY k").collect()
      === srcRows, "source GC must never invalidate the clone's data")
    // ...and the other direction
    call("CALL gproc.system.compact('cl_dst')")
    call("CALL gproc.system.vacuum('cl_dst')")
    assert(spark.sql("SELECT k, v FROM gproc.cl_src ORDER BY k").collect() === srcRows,
      "clone GC must never invalidate the source's data")

    // cloning onto an existing table refuses
    val e = intercept[Exception](call("CALL gproc.system.clone('cl_src', 'cl_dst')"))
    assert(e.getMessage.contains("exists"))
  }

  test("CALL clone rejects targets that escape the catalog root") {
    mkTable("cl_esc")
    for (bad <- Seq("/tmp/evil", "../escape", "a/../../b", "", "a..b/c")) {
      val e = intercept[Exception](call(s"CALL gproc.system.clone('cl_esc', '$bad')"))
      assert(e.getMessage.contains("clone target") || e.getMessage.contains("not a valid"),
        s"'$bad' must be rejected, got: ${e.getMessage}")
    }
    // a legitimate dotted name still works
    call("CALL gproc.system.clone('cl_esc', 'ns1.cl_esc_ok')")
    assert(Files.isDirectory(root.resolve("ns1").resolve("cl_esc_ok")))
  }

  test("CALL analyze measures actual string bytes, not defaultSize") {
    import org.apache.spark.sql.functions._
    val sch = MatSchema(Seq(Dimension("k", 100)),
      Seq(ValueCol("doc", org.apache.spark.sql.types.StringType)))
    val db = MatDb.create(spark, sch, root.resolve("an_str").toString, "manifest")
    val txn = db.newTransaction()
    // 100 rows × 5000-char docs: logical payload 500_000 bytes; the old
    // n * defaultSize formula would claim 100 × 28 = 2800 bytes and
    // auto-broadcast a table 178× its claimed size
    txn.addRows(spark.range(100).select(col("id").as("k"),
      concat_ws("", array_repeat(lit("x"), 5000)).as("doc")))
    txn.commit()
    val out = call("CALL gproc.system.analyze('an_str')")
    assert(out.getLong(0) === 100L)
    val bytes = out.getLong(1)
    assert(bytes >= 500000L, s"analyzed bytes must cover the 500k string payload, got $bytes")
    assert(bytes < 600000L, s"analyzed bytes should be near the payload, got $bytes")
  }

  test("CALL analyze persists resolved-snapshot stats as graft.stats.* properties") {
    mkTable("an") // 200 keys, several versions each — resolved count is 200
    val out = call("CALL gproc.system.analyze('an')")
    assert(out.getLong(0) === 200L, s"resolved row count, got $out")
    val shown = spark.sql("SHOW TBLPROPERTIES gproc.an").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(shown("graft.stats.rowcount") === "200")
    assert(shown("graft.stats.dim.k.min") === "0" && shown("graft.stats.dim.k.max") === "199")
    val ndv = shown("graft.stats.dim.k.ndv").toLong
    assert(ndv > 180 && ndv < 220, s"approx NDV of 200 distinct keys, got $ndv")
    assert(shown("graft.stats.txn") === "4")
  }

  test("CALL optimize compacts small files, honors zorder, preserves content") {
    import org.apache.spark.sql.functions._
    root
    spark.sql("DROP TABLE IF EXISTS gproc.opt")
    spark.sql("CREATE TABLE gproc.opt (a BIGINT, b BIGINT, v BIGINT) " +
      "TBLPROPERTIES('graft.dims' = 'a:100,b:100')")
    // 12 small commits over 4 chunk tuples -> ~48 small files
    (0 until 12).foreach { i =>
      // (a, b) = (id, (id%2)*100): 200 UNIQUE keys per commit spanning
      // 2x2 chunk tuples; later commits upsert the same keys
      spark.sql("INSERT INTO gproc.opt " +
        s"SELECT id, (id % 2) * 100, id + $i FROM range(0, 200)")
    }
    val before = spark.sql("SELECT a, b, v FROM gproc.opt ORDER BY a, b").collect()
    val histBefore = spark.sql("SELECT sum(files) FROM gproc.opt.history").head().getLong(0)
    assert(histBefore >= 12L, s".history files diagnostics, got $histBefore")
    val out = call("CALL gproc.system.optimize('opt', zorder => 'a,b')")
    assert(out.getLong(1) === histBefore, "files_before matches .history")
    assert(out.getLong(2) <= 4L,
      s"optimize must land one file per chunk, got ${out.getLong(2)}")
    val after = spark.sql("SELECT a, b, v FROM gproc.opt ORDER BY a, b").collect()
    assert(after.toSeq === before.toSeq, "optimize must not change content")
    // file-size bounding: re-fragment with a tiny target (24-byte rows,
    // 480-byte target = ~20 rows per file)
    val bounded = call("CALL gproc.system.optimize('opt', target_file_size => 480)")
    assert(bounded.getLong(2) > 4L,
      s"a small target_file_size must split files, got ${bounded.getLong(2)}")
    assert(spark.sql("SELECT a, b, v FROM gproc.opt ORDER BY a, b").collect().toSeq
      === before.toSeq)
    spark.sql("DROP TABLE gproc.opt")
  }

  test("CALL index_stats reads the drift log of an index under the catalog") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    root
    val emb = (0L until 64L)
      .map(i => (i, Seq.tabulate(8)(j => math.sin(i * 8 + j + 1))))
      .toDF("vec_id", "embedding")
    val trained = graft.operators.IvfIndex.train(emb, "vec_id", "embedding",
      k = 4, iters = 1).map(_.toSeq).toSeq
    graft.operators.IvfIndex.writeIndex(emb, "vec_id", "embedding", trained,
      root.resolve("ix").toString)
    graft.operators.IvfIndex.maintainIndex(spark, root.resolve("ix").toString,
      "vec_id", emb.where(col("vec_id") < 8), emb.limit(0).select(col("vec_id")))
    val rows = spark.sql("CALL gproc.system.index_stats('ix')").collect()
    assert(rows.length === 2)
    assert(rows.map(_.getString(1)).toSeq === Seq("train", "maintain"))
    assert(rows(0).getDouble(4) === 1.0, "the baseline's own drift ratio is 1")
    assert(rows(1).getDouble(4) > 0.0)
    // an in-distribution fold (a subset of the trained corpus) stays close
    // to the baseline
    assert(rows(1).getDouble(4) < 2.0, s"unexpected drift: ${rows(1)}")
    // not an index layout -> loud failure
    mkTable("notix")
    val e = intercept[Exception](spark.sql("CALL gproc.system.index_stats('notix')"))
    assert(e.getMessage.contains("not an index layout"))
  }

  test("CALL retrain_index rebuilds an index and returns its bucket count") {
    import spark.implicits._
    root
    val emb = (0L until 64L)
      .map(i => (i, Seq.tabulate(8)(j => math.cos(i * 8 + j + 1))))
      .toDF("vec_id", "embedding")
    val dir = root.resolve("rix").toString
    graft.operators.IvfIndex.writeIndex(emb, "vec_id", "embedding",
      graft.operators.IvfIndex.train(emb, "vec_id", "embedding", k = 4, iters = 1)
        .map(_.toSeq).toSeq, dir)
    val out = spark.sql("CALL gproc.system.retrain_index('rix')").collect()
    assert(out.map(_.getInt(0)).toSeq === Seq(4))
    assert(graft.operators.IvfIndex.readCentroids(spark, dir).length === 4)
    assert(graft.operators.IvfIndex.indexStats(dir).map(_.phase) === Seq("train"),
      "a rebuild resets the drift log to its new baseline")
  }

  test("listProcedures surfaces the system namespace") {
    root
    val cat = spark.sessionState.catalogManager.catalog("gproc")
      .asInstanceOf[GraftCatalog]
    val listed = cat.listProcedures(GraftProcedures.Namespace).map(_.name()).toSet
    assert(listed === GraftProcedures.names.toSet)
  }
}
