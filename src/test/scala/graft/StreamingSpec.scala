package graft

import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{Dimension, MatDb, MatSchema, TestSpark, ValueCol}
import graft.streaming.Streams

class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  // sink tables live under one catalog root, so their resolved state reads
  // back through the catalog (SELECT ... FROM gsink.<t>)
  private lazy val sinkRoot = {
    val dir = Files.createTempDirectory("graft-sink-catalog")
    spark.conf.set("spark.sql.catalog.gsink", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gsink.root", dir.toString)
    dir
  }

  /** A fresh manifest table `gsink.<name>`; returns its directory. */
  private def sinkTable(name: String, schema: MatSchema): String = {
    val dir = sinkRoot.resolve(name).toString
    MatDb.create(spark, schema, dir, "manifest")
    dir
  }

  /** Highest committed txn id of the table at `dir`. */
  private def watermark(dir: String): Long = {
    val root = graft.core.Storage.rootPath(dir)
    graft.core.Protocol.at(root).txnWatermark(root)
  }

  test("tumbling window counts with watermark over a memory stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val df = input.toDF().toDF("ts", "event_type", "value")
    val agg = Streams.tumblingCounts(df, "ts", "10 minutes", "1 hour")
    val q = agg.writeStream.format("memory").queryName("tumbling")
      .outputMode("update").start()
    try {
      input.addData(
        (ts("2024-01-01 00:05:00"), "click", 1.0),
        (ts("2024-01-01 00:45:00"), "click", 2.0),
        (ts("2024-01-01 01:05:00"), "view", 3.0))
      q.processAllAvailable()
      val out = spark.table("tumbling")
        .select(col("window.start").cast("string"), col("event_type"), col("cnt"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      assert(out.contains(("2024-01-01 00:00:00", "click", 2L)))
      assert(out.contains(("2024-01-01 01:00:00", "view", 1L)))
    } finally q.stop()
  }

  test("sliding windows count events in overlapping windows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Double)]
    val df = input.toDF().toDF("ts", "value")
    val q = Streams.slidingCounts(df, "ts", "10 minutes", "1 hour", "30 minutes")
      .writeStream.format("memory").queryName("sliding").outputMode("complete").start()
    try {
      input.addData((ts("2024-01-01 00:40:00"), 1.0))
      q.processAllAvailable()
      // one event falls into two overlapping hour windows (00:00 and 00:30)
      assert(spark.table("sliding").count() === 2)
    } finally q.stop()
  }

  test("session windows group events within gap") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long)]
    val df = input.toDF().toDF("ts", "user_id")
    val q = Streams.sessionCounts(df, "ts", "10 minutes", "5 minutes")
      .writeStream.format("memory").queryName("sessions")
      .outputMode("complete").start()
    try {
      input.addData(
        (ts("2024-01-01 00:00:00"), 1L),
        (ts("2024-01-01 00:03:00"), 1L), // same session (gap < 5m)
        (ts("2024-01-01 00:20:00"), 1L)) // new session
      q.processAllAvailable()
      val sessions = spark.table("sessions").collect()
      assert(sessions.map(_.getAs[Long]("cnt")).sorted.toSeq === Seq(1L, 2L))
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark = streaming upsert-dedup analog") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, String)]
    val df = input.toDF().toDF("ts", "user_id", "event_type")
    val q = Streams.dedupWithinWatermark(df, "ts", "1 hour", Seq("user_id", "event_type"))
      .writeStream.format("memory").queryName("dedup").outputMode("append").start()
    try {
      input.addData(
        (ts("2024-01-01 00:00:00"), 1L, "click"),
        (ts("2024-01-01 00:01:00"), 1L, "click"), // dup key within watermark
        (ts("2024-01-01 00:02:00"), 2L, "view"))
      q.processAllAvailable()
      assert(spark.table("dedup").count() === 2)
    } finally q.stop()
  }

  test("signature kernels run inside a streaming query (dedup-by-simhash)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    graft.functions.TextOps.register(spark)
    val input = MemoryStream[(Long, String)]
    // streaming exact-dup drop on the 56-bit simhash signature: a pure
    // per-row map (no shuffle), then state-backed dropDuplicates — the
    // streaming face of the batch q48 pipeline
    val sigs = input.toDF().toDF("doc_id", "text")
      .withColumn("simhash",
        graft.functions.TextOps.simhash56Col(split(lower(col("text")), "\\s+")))
      .dropDuplicates("simhash")
    val q = sigs.writeStream.format("memory").queryName("sigdedup")
      .outputMode("append").start()
    try {
      input.addData(
        (1L, "the quick brown fox jumps over the dog"),
        (2L, "the quick brown fox jumps over the dog"), // exact dup text
        (3L, "a completely different document about spark"))
      q.processAllAvailable()
      val rows = spark.table("sigdedup").orderBy("doc_id").collect()
      assert(rows.length === 2)
      assert(rows.map(_.getAs[Long]("doc_id")).toSeq === Seq(1L, 3L))
      // batch and streaming kernels agree bit-for-bit
      val batch = Seq("the quick brown fox jumps over the dog")
        .toDF("text").select(graft.functions.TextOps
          .simhash56Col(split(lower(col("text")), "\\s+")).as("s"))
        .head().getLong(0)
      assert(rows.head.getAs[Long]("simhash") === batch)
    } finally q.stop()
  }

  test("mapGroupsWithState running max per key") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Streams.KeyedValue]
    val q = Streams.runningMaxByKey(input.toDS())
      .writeStream.format("memory").queryName("runmax").outputMode("update").start()
    try {
      input.addData(Streams.KeyedValue(1, 5.0, 0), Streams.KeyedValue(1, 9.0, 1))
      q.processAllAvailable()
      input.addData(Streams.KeyedValue(1, 7.0, 2)) // lower than running max
      q.processAllAvailable()
      val rows = spark.table("runmax").collect()
        .map(r => (r.getAs[Long]("key"), r.getAs[Double]("max"), r.getAs[Long]("n")))
      assert(rows.last === ((1L, 9.0, 3L)))
    } finally q.stop()
  }

  test("graft-stream source: txn-aligned batches, exactly-once across restart") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft-stream-src").toString
    val checkpoint = Files.createTempDirectory("graft-stream-src-ckpt").toString
    val schema = MatSchema(Seq(Dimension("k", 10)), Seq(ValueCol("v")))
    val db = MatDb.create(spark, schema, path)
    def write(rows: (Long, Long)*): Unit = {
      val t = db.newTransaction()
      t.addRows(rows.toSeq.toDF("k", "v"))
      t.commit()
    }
    write((1L, 10L), (2L, 20L)) // txn 1

    // idempotent sink: batchId -> rows; a replayed batch overwrites itself
    val batches = scala.collection.concurrent.TrieMap[Long, Seq[(Long, Long, Long)]]()
    def runOnce(): Unit = {
      val q = spark.readStream.format("graft-stream")
        .option("maxTxnsPerBatch", "1")
        .load(path)
        .writeStream
        .option("checkpointLocation", checkpoint)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, bid: Long) =>
          batches(bid) = df.select("k", "v", "_txn_id").collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
        }
        .start()
      q.processAllAvailable()
      q.stop()
    }

    runOnce()
    assert(batches.values.flatten.map(t => (t._1, t._2)).toSet === Set((1L, 10L), (2L, 20L)))

    write((3L, 30L)) // txn 2
    write((1L, 11L), (4L, 40L)) // txn 3
    runOnce() // restart from checkpoint: must pick up ONLY txns 2 and 3

    val all = batches.values.flatten.toSeq
    assert(all.map(t => (t._1, t._2)).sorted ===
      Seq((1L, 10L), (1L, 11L), (2L, 20L), (3L, 30L), (4L, 40L))) // no dups, no gaps
    // txn alignment: with maxTxnsPerBatch=1 every non-empty batch covers
    // exactly one transaction
    assert(batches.values.filter(_.nonEmpty).forall(_.map(_._3).distinct.size == 1))
    assert(all.map(_._3).distinct.sorted.size === 3)
  }

  test("graft-stream starting point: startingTxn, latest, and startingTimestamp") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft-stream-start").toString
    val schema = MatSchema(Seq(Dimension("k", 10)), Seq(ValueCol("v")))
    val db = MatDb.create(spark, schema, path)
    def write(rows: (Long, Long)*): Unit = {
      val t = db.newTransaction(); t.addRows(rows.toSeq.toDF("k", "v")); t.commit()
    }
    write((1L, 10L)); Thread.sleep(10) // txn 1
    write((2L, 20L)); Thread.sleep(10) // txn 2
    write((3L, 30L))                   // txn 3
    def collectFrom(opts: (String, String)*): Set[Long] = {
      val ckpt = Files.createTempDirectory("graft-stream-start-ckpt").toString
      val seen = scala.collection.concurrent.TrieMap[Long, Boolean]()
      val reader = opts.foldLeft(spark.readStream.format("graft-stream")) {
        case (r, (k, v)) => r.option(k, v)
      }
      val q = reader.load(path).writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.select("_txn_id").collect().foreach(r => seen(r.getLong(0)) = true)
          ()
        }.start()
      q.processAllAvailable(); q.stop()
      seen.keySet.toSet
    }
    assert(collectFrom() === Set(1L, 2L, 3L), "default = all history")
    assert(collectFrom("startingTxn" -> "1") === Set(2L, 3L),
      "startingTxn starts strictly after the given txn")
    assert(collectFrom("startingTxn" -> "latest") === Set.empty,
      "latest tails only commits after stream start")
    val ts2 = db.history().where("txn_id = 2").head().getTimestamp(3).getTime
    if (db.history().where("txn_id = 1").head().getTimestamp(3).getTime < ts2)
      assert(collectFrom("startingTimestamp" -> ts2.toString) === Set(2L, 3L),
        "startingTimestamp includes commits stamped at-or-after it")
    intercept[Exception](collectFrom(
      "startingTxn" -> "1", "startingTimestamp" -> ts2.toString))
  }

  test("graft-stream byte-based admission control keeps whole txns per batch") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft-stream-bytes").toString
    val checkpoint = Files.createTempDirectory("graft-stream-bytes-ckpt").toString
    val db = MatDb.create(spark, MatSchema(Seq(Dimension("k", 10)), Seq(ValueCol("v"))), path)
    for (i <- 1 to 3) {
      val t = db.newTransaction()
      t.addRows(Seq((i.toLong, i * 10L)).toDF("k", "v"))
      t.commit()
    }
    val batches = scala.collection.concurrent.TrieMap[Long, Seq[Long]]()
    val q = spark.readStream.format("graft-stream")
      .option("maxBytesPerBatch", "1") // every txn exceeds 1 byte -> one txn per batch
      .load(path)
      .writeStream.option("checkpointLocation", checkpoint)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, bid: Long) =>
        batches(bid) = df.select("_txn_id").collect().map(_.getLong(0)).toSeq
      }
      .start()
    q.processAllAvailable(); q.stop()
    assert(batches.values.flatten.toSeq.sorted === Seq(1L, 2L, 3L)) // all rows, once
    assert(batches.values.filter(_.nonEmpty).forall(_.distinct.size == 1)) // 1 txn/batch
  }

  test("graft-stream offsets never rewind across a replace-TRUNCATE; byte cap doesn't stall on it") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft-stream-trunc").toString
    val checkpoint = Files.createTempDirectory("graft-stream-trunc-ckpt").toString
    val db = MatDb.create(spark,
      MatSchema(Seq(Dimension("k", 10)), Seq(ValueCol("v"))), path, "manifest")
    for (i <- 1 to 2) {
      val t = db.newTransaction(); t.addRows(Seq((i.toLong, i * 10L)).toDF("k", "v")); t.commit()
    }
    val seen = scala.collection.concurrent.TrieMap[Long, Seq[Long]]()
    def drain(): Unit = {
      val q = spark.readStream.format("graft-stream")
        .option("maxBytesPerBatch", "1") // the stall-prone admission path
        .load(path)
        .writeStream.option("checkpointLocation", checkpoint)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, bid: Long) =>
          seen(bid) = df.select("_txn_id").collect().map(_.getLong(0)).toSeq
        }
        .start()
      q.processAllAvailable(); q.stop()
    }
    drain()
    assert(seen.values.flatten.toSeq.sorted === Seq(1L, 2L))

    // replace-TRUNCATE: txn 3 leaves NO segments, only the manifest's
    // recorded producing txn — the offset must advance past it, and the
    // byte-capped admission must not stall below a segment-less txn
    graft.sources.GraftInsert.overwrite(spark, path,
      spark.emptyDataFrame.select(lit(0L).as("k"), lit(0L).as("v")).limit(0))
    // a lagging reseed after the truncate claims txn 4 (never a reused id)
    graft.sources.GraftInsert.append(spark, path, Seq((9L, 90L)).toDF("k", "v"))
    drain()
    val all = seen.values.flatten.toSeq.sorted
    assert(all === Seq(1L, 2L, 4L),
      s"post-truncate append must arrive exactly once as txn 4 (ids monotone), got $all")
  }

  test("segment stream + matdb foreachBatch sink: stream micro-batches become transactions") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val path = Files.createTempDirectory("graft-stream-db").toString
    val schema = MatSchema(Seq(Dimension("k", 10)), Seq(ValueCol("v")))
    val db = MatDb.create(spark, schema, path)
    val checkpoint = Files.createTempDirectory("graft-ckpt").toString

    val input = MemoryStream[(Long, Long)]
    val q = Streams.matDbSink(input.toDF().toDF("k", "v"), db, checkpoint).start()
    try {
      input.addData((1L, 10L), (2L, 20L))
      q.processAllAvailable()
      assert(db.snapshot().count() === 2)
      input.addData((1L, 11L)) // upsert same key in a later txn
      q.processAllAvailable()
      val vals = db.snapshot().orderBy("k").collect().map(_.getLong(1))
      assert(vals.toSeq === Seq(11L, 20L))
      assert(db.committedSegments.map(_.txnId).distinct.size === 2)
    } finally q.stop()

    // the committed segments are themselves streamable
    val seg = spark.readStream.format("graft-stream").load(path)
    assert(seg.isStreaming)
    val q2 = seg.writeStream.format("memory").queryName("segs").outputMode("append").start()
    try {
      q2.processAllAvailable()
      // raw stream sees all versions (3 rows: 2 from txn1 + 1 from txn2)
      assert(spark.table("segs").count() === 3)
    } finally q2.stop()
  }

  test("cdc apply sink: upserts AND deletes fold per key; replay is MVCC-absorbed") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.core.{Dimension, MatSchema, MatDb, ValueCol}
    val path = Files.createTempDirectory("graft-cdc-db").toString
    val schema = MatSchema(Seq(Dimension("k", 10)), Seq(ValueCol("v")))
    val db = MatDb.create(spark, schema, path)
    val checkpoint = Files.createTempDirectory("graft-cdc-ckpt").toString

    // change events: (k, v, op, ord)
    val input = MemoryStream[(Long, Long, String, Long)]
    val q = Streams.cdcApplySink(input.toDF().toDF("k", "v", "op", "ord"),
      db, "op", "ord", checkpoint).start()
    try {
      input.addData((1L, 10L, "I", 1L), (2L, 20L, "I", 2L), (3L, 30L, "I", 3L))
      q.processAllAvailable()
      assert(db.snapshot().orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1)))
        .toSeq === Seq((1L, 10L), (2L, 20L), (3L, 30L)))
      // batch 2, deliberately out of arrival order within the batch:
      //   k1: U v=11 then U v=12  -> last change wins (v=12)
      //   k2: D                   -> deleted
      //   k4: I v=40 then D       -> never observable (created+deleted in batch)
      //   k5: D then I v=50       -> alive (insert after delete)
      input.addData(
        (1L, 12L, "U", 13L), (1L, 11L, "U", 11L),
        (2L, 0L, "D", 12L),
        (4L, 40L, "I", 14L), (4L, 0L, "D", 15L),
        (5L, 0L, "D", 16L), (5L, 50L, "I", 17L))
      q.processAllAvailable()
      val snap = db.snapshot().orderBy("k").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(snap.toSeq === Seq((1L, 12L), (3L, 30L), (5L, 50L)))
      // the batch committed as ONE transaction; time travel sees pre-delete
      assert(db.committedSegments.map(_.txnId).distinct.size === 2)
      assert(db.asOf(1L).where($"k" === 2L).count() === 1)
    } finally q.stop()

    // replay: the same folded batch under a fresh txn id leaves the
    // RESOLVED view identical (tombstone-over-tombstone, equal upserts)
    val txn = db.newTransaction()
    txn.deleteRows(Seq((2L, 0L)).toDF("k", "v").select($"k"))
    txn.addRows(Seq((1L, 12L), (5L, 50L)).toDF("k", "v"))
    txn.commit()
    assert(db.snapshot().orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSeq === Seq((1L, 12L), (3L, 30L), (5L, 50L)))

    // the raw segment stream carries the tombstone flag, so a DOWNSTREAM
    // consumer can re-apply deletes as deletes (k5's delete was folded
    // away by its later insert — only k2 and k4 ever tombstoned)
    val seg = spark.readStream.format("graft-stream").load(path)
    val q2 = seg.writeStream.format("memory").queryName("cdcsegs")
      .outputMode("append").start()
    try {
      q2.processAllAvailable()
      val dels = spark.table("cdcsegs").where($"_del" === true)
        .select("k").collect().map(_.getLong(0)).toSet
      assert(dels === Set(2L, 4L))
    } finally q2.stop()
  }

  test("graft-stream over a checkpointed table replays the baseline as its horizon txn") {
    import spark.implicits._
    import graft.core.{Dimension, MatDb, MatSchema, ValueCol}
    val path = Files.createTempDirectory("graft-stream-ckpt-db").toString
    val checkpoint = Files.createTempDirectory("graft-stream-ckpt-ckpt").toString
    val db = MatDb.create(spark,
      MatSchema(Seq(Dimension("k", 10)), Seq(ValueCol("v"))), path, "manifest")
    val t1 = db.newTransaction()
    t1.addRows(Seq((1L, 1L), (2L, 1L), (3L, 1L)).toDF("k", "v")); t1.commit()
    val t2 = db.newTransaction()
    t2.addRows(Seq((1L, 2L)).toDF("k", "v")); t2.commit()
    val t3 = db.newTransaction()
    t3.addRows(Seq((9L, 9L)).toDF("k", "v")); t3.commit()
    db.checkpoint(2L)

    val batches = scala.collection.mutable.Map[Long, Seq[(Long, Long, Long)]]()
    val q = spark.readStream.format("graft-stream")
      .option("maxTxnsPerBatch", "1")
      .load(path)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, bid: Long) =>
        batches(bid) = df.select("k", "v", "_txn_id").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      }
      .start()
    q.processAllAvailable()
    q.stop()
    // folded history arrives as ONE txn (the horizon's id) carrying the
    // RESOLVED baseline — k=1 shows only its winning value — followed by
    // the retained txn 3 unchanged
    val byTxn = batches.values.flatten.groupBy(_._3)
    assert(byTxn.keySet === Set(2L, 3L))
    assert(byTxn(2L).map(t => (t._1, t._2)).toSet ===
      Set((1L, 2L), (2L, 1L), (3L, 1L)))
    assert(byTxn(3L).map(t => (t._1, t._2)).toSet === Set((9L, 9L)))
  }

  test("view-maintenance sink: streaming materialized view, exactly-once resolved") {
    import spark.implicits._
    import graft.core.{Dimension, MatDb, MatSchema, ValueCol}
    import org.apache.spark.sql.types.{DecimalType, LongType}
    val dec = DecimalType(18, 4)
    val basePath = Files.createTempDirectory("graft-viewsink-base").toString
    val base = MatDb.create(spark,
      MatSchema(Seq(Dimension("k", 100)),
        Seq(ValueCol("g", LongType), ValueCol("v", dec))), basePath, "manifest")
    val view = MatDb.create(spark,
      MatSchema(Seq(Dimension("g", 100)),
        Seq(ValueCol("sum_v", dec), ValueCol("cnt", LongType))),
      Files.createTempDirectory("graft-viewsink-view").toString, "manifest")
    val checkpoint = Files.createTempDirectory("graft-viewsink-ckpt").toString
    def df(rows: Seq[(Long, Long, String)]) =
      rows.toDF("k", "g", "vs").select($"k", $"g", $"vs".cast(dec).as("v"))
    def recompute() = base.snapshot().groupBy($"g")
      .agg(org.apache.spark.sql.functions.sum($"v").cast(dec).as("s"),
        org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("c"))
      .collect().map(r => r.getLong(0) -> ((r.getDecimal(1).toPlainString, r.getLong(2)))).toMap
    def viewState() = view.snapshot().collect()
      .map(r => r.getLong(0) -> ((r.getDecimal(1).toPlainString, r.getLong(2)))).toMap
    def runOnce(): Unit = {
      val q = Streams.viewMaintSink(
        spark.readStream.format("graft-stream").load(basePath),
        basePath, view, "g", "v", checkpoint).start()
      try q.processAllAvailable() finally q.stop()
    }

    val t1 = base.newTransaction()
    t1.addRows(df((0L until 12L).map(k => (k, k % 3, s"${k}.2500")))); t1.commit()
    runOnce()
    assert(viewState() === recompute())

    // txn 2: group move + value change; txn 3: delete a whole group's keys
    val t2 = base.newTransaction()
    t2.addRows(df(Seq((0L, 7L, "0.2500"), (3L, 0L, "99.0000")))); t2.commit()
    val t3 = base.newTransaction()
    t3.deleteRows((0L until 12L).filter(_ % 3 == 2).toDF("k")); t3.commit()
    runOnce() // restart from checkpoint: picks up ONLY txns 2 and 3
    assert(viewState() === recompute())
    assert(!viewState().contains(2L), "the emptied group's row must be deleted")
    assert(viewState()(7L)._2 === 1L, "the moved key lands in its new group")

    // the view is MVCC too: its first maintenance step is still travelable
    assert(view.asOf(1L).count() === 3L)
  }

  test("view-maintenance sink: a segment-less TRUNCATE reaches the view; vacuumed history rebuilds") {
    import spark.implicits._
    import graft.core.{Dimension, MatDb, MatSchema, ValueCol}
    import org.apache.spark.sql.types.{DecimalType, LongType}
    val dec = DecimalType(18, 4)
    val basePath = Files.createTempDirectory("graft-vtrunc-base").toString
    val base = MatDb.create(spark,
      MatSchema(Seq(Dimension("k", 100)),
        Seq(ValueCol("g", LongType), ValueCol("v", dec))), basePath, "manifest")
    val view = MatDb.create(spark,
      MatSchema(Seq(Dimension("g", 100)),
        Seq(ValueCol("sum_v", dec), ValueCol("cnt", LongType))),
      Files.createTempDirectory("graft-vtrunc-view").toString, "manifest")
    val checkpoint = Files.createTempDirectory("graft-vtrunc-ckpt").toString
    def df(rows: Seq[(Long, Long, String)]) =
      rows.toDF("k", "g", "vs").select($"k", $"g", $"vs".cast(dec).as("v"))
    def recompute() = base.snapshot().groupBy($"g")
      .agg(sum($"v").cast(dec).as("s"), count(lit(1)).as("c"))
      .collect().map(r => r.getLong(0) -> ((r.getDecimal(1).toPlainString, r.getLong(2)))).toMap
    def viewState() = view.snapshot().collect()
      .map(r => r.getLong(0) -> ((r.getDecimal(1).toPlainString, r.getLong(2)))).toMap
    def runOnce(): Unit = {
      val q = Streams.viewMaintSink(
        spark.readStream.format("graft-stream").load(basePath),
        basePath, view, "g", "v", checkpoint).start()
      try q.processAllAvailable() finally q.stop()
    }
    val t1 = base.newTransaction()
    t1.addRows(df((0L until 12L).map(k => (k, k % 3, s"$k.2500")))); t1.commit()
    runOnce()
    assert(viewState() === recompute())
    // TRUNCATE + re-seed: the truncate contributes NO rows to any batch
    // (segment-less replace), yet every pre-truncate group must retract —
    // the watermark-driven sink sees it and the replace guard resolves the
    // wiped keys through the two-snapshot diff
    base.overwrite(df(Nil).limit(0))
    val t3 = base.newTransaction()
    t3.addRows(df(Seq((1L, 1L, "5.0000"), (50L, 9L, "2.0000")))); t3.commit()
    runOnce()
    assert(viewState() === recompute(),
      "the truncate's retractions must reach the view")
    assert(viewState().keySet === Set(1L, 9L))
    // TRUNCATE again, then VACUUM the pre-truncate history away BEFORE the
    // sink sees it: the incremental delta is unrecoverable — the sink must
    // REBUILD the view absolutely (pinned replace) instead of failing
    base.overwrite(df(Nil).limit(0))
    val t5 = base.newTransaction()
    t5.addRows(df(Seq((2L, 2L, "7.0000")))); t5.commit()
    base.vacuum()
    intercept[IllegalStateException](
      base.changesBetween(view.txnWatermark, base.txnWatermark).collect())
    runOnce()
    assert(viewState() === recompute(), "refusal must fall back to a rebuild")
    assert(viewState().keySet === Set(2L))
    assert(view.txnWatermark === base.txnWatermark,
      "the rebuild is pinned to the base's clock")
    // and the next ordinary append maintains incrementally again
    val t6 = base.newTransaction()
    t6.addRows(df(Seq((3L, 2L, "1.0000")))); t6.commit()
    runOnce()
    assert(viewState() === recompute())
  }

  test("view-maintenance sink: opt-in checkpointing bounds the view's commit history") {
    import spark.implicits._
    import graft.core.{Dimension, MatDb, MatSchema, ValueCol}
    import org.apache.spark.sql.types.{DecimalType, LongType}
    val dec = DecimalType(18, 4)
    val basePath = Files.createTempDirectory("graft-vckpt-base").toString
    val base = MatDb.create(spark,
      MatSchema(Seq(Dimension("k", 100)),
        Seq(ValueCol("g", LongType), ValueCol("v", dec))), basePath, "manifest")
    val view = MatDb.create(spark,
      MatSchema(Seq(Dimension("g", 100)),
        Seq(ValueCol("sum_v", dec), ValueCol("cnt", LongType))),
      Files.createTempDirectory("graft-vckpt-view").toString, "manifest")
    val checkpoint = Files.createTempDirectory("graft-vckpt-ckpt").toString
    def df(rows: Seq[(Long, Long, String)]) =
      rows.toDF("k", "g", "vs").select($"k", $"g", $"vs".cast(dec).as("v"))
    def runOnce(): Unit = {
      val q = Streams.viewMaintSink(
        spark.readStream.format("graft-stream").load(basePath),
        basePath, view, "g", "v", checkpoint).start()
      try q.processAllAvailable() finally q.stop()
    }
    val saved = sys.props.get("graft.mview.checkpoint.maxsegments")
    sys.props("graft.mview.checkpoint.maxsegments") = "4"
    sys.props("graft.mview.checkpoint.retain") = "2"
    try {
      // 10 base commits, each its own maintenance fold: WITHOUT the knob
      // the view would hold ~10 commit sets; the policy folds history
      // below the retention into one baseline as it crosses the threshold
      (0 until 10).foreach { i =>
        val t = base.newTransaction()
        t.addRows(df(Seq((i.toLong, i.toLong % 3, s"$i.0000")))); t.commit()
        runOnce()
      }
      view.refresh()
      val txns = view.committedSegments.map(_.txnId).distinct
      assert(txns.size <= 5,
        s"view history must stay bounded under the checkpoint policy: $txns")
      val want = base.snapshot().groupBy($"g")
        .agg(sum($"v").cast(dec).as("s"), count(lit(1)).as("c"))
        .collect().map(r => (r.getLong(0), r.getDecimal(1).toPlainString,
          r.getLong(2))).toSet
      val got = view.snapshot().collect()
        .map(r => (r.getLong(0), r.getDecimal(1).toPlainString, r.getLong(2))).toSet
      assert(got === want, "the folded view must still equal a recompute")
      // the folded baseline reuses its horizon's own pinned txn id: the
      // maintenance clock stays monotone and the next fold still lands
      val t = base.newTransaction()
      t.addRows(df(Seq((100L, 9L, "1.0000")))); t.commit()
      runOnce()
      view.refresh()
      assert(view.txnWatermark === base.txnWatermark)
      assert(view.snapshot().where($"g" === 9L).count() === 1)
    } finally {
      saved match {
        case Some(v) => sys.props("graft.mview.checkpoint.maxsegments") = v
        case None => sys.props.remove("graft.mview.checkpoint.maxsegments"); ()
      }
      sys.props.remove("graft.mview.checkpoint.retain")
      ()
    }
  }

  test("view-maintenance sink: one failing view's folds drain; siblings commit") {
    import spark.implicits._
    import graft.core.{Dimension, MatDb, MatSchema, ValueCol}
    import org.apache.spark.sql.types.{DecimalType, LongType}
    val dec = DecimalType(18, 4)
    val basePath = Files.createTempDirectory("graft-vfail-base").toString
    val base = MatDb.create(spark,
      MatSchema(Seq(Dimension("k", 100)),
        Seq(ValueCol("g", LongType), ValueCol("h", LongType), ValueCol("v", dec))),
      basePath, "manifest")
    // view A maintains cnt only (immune to a null v); view B maintains
    // sum_v, whose non-null contract a poisoned row violates — one batch,
    // one failing fold, one healthy sibling
    val viewA = MatDb.create(spark,
      MatSchema(Seq(Dimension("g", 100)), Seq(ValueCol("cnt", LongType))),
      Files.createTempDirectory("graft-vfail-a").toString, "manifest")
    val viewB = MatDb.create(spark,
      MatSchema(Seq(Dimension("h", 100)),
        Seq(ValueCol("sum_v", dec), ValueCol("cnt", LongType))),
      Files.createTempDirectory("graft-vfail-b").toString, "manifest")
    val checkpoint = Files.createTempDirectory("graft-vfail-ckpt").toString
    def df(rows: Seq[(Long, Long, Long, Option[String])]) =
      rows.toDF("k", "g", "h", "vs").select($"k", $"g", $"h", $"vs".cast(dec).as("v"))
    def runOnce(): Unit = {
      val q = Streams.viewMaintSinkKeys(
        spark.readStream.format("graft-stream").load(basePath),
        basePath, Seq(viewA -> Seq("g"), viewB -> Seq("h")), checkpoint).start()
      try q.processAllAvailable() finally q.stop()
    }
    val t1 = base.newTransaction()
    t1.addRows(df((0L until 8L).map(k => (k, k % 2, k % 4, Some(s"$k.0000"))))); t1.commit()
    runOnce()
    assert(viewA.snapshot().count() === 2L && viewB.snapshot().count() === 4L)
    // txn 2 poisons B's sum contract (a null v row) — B's fold must fail
    // LOUDLY, A's fold must still commit, and the drain must finish every
    // fold before the error surfaces (no mid-flight unpersist/retry race)
    val t2 = base.newTransaction()
    t2.addRows(df(Seq((100L, 0L, 0L, None), (101L, 1L, 1L, Some("3.0000")))))
    t2.commit()
    val err = intercept[Exception](runOnce())
    def anyNullGuard(e: Throwable): Boolean =
      e != null && (Option(e.getMessage).exists(_.contains("null")) ||
        anyNullGuard(e.getCause))
    assert(anyNullGuard(err), s"the poisoned fold's error must surface: $err")
    viewA.refresh(); viewB.refresh()
    assert(viewA.txnWatermark === 2L, "the healthy sibling must have committed")
    assert(viewB.txnWatermark === 1L, "the poisoned view must not advance")
    // repair: delete the poisoned row; the replayed range folds B forward
    val t3 = base.newTransaction()
    t3.deleteRows(Seq(100L).toDF("k")); t3.commit()
    runOnce()
    viewA.refresh(); viewB.refresh()
    assert(viewA.txnWatermark === 3L && viewB.txnWatermark === 3L)
    val wantB = base.snapshot().groupBy($"h")
      .agg(sum($"v").cast(dec).as("s"), count(lit(1)).as("c"))
      .collect().map(r => (r.getLong(0), r.getDecimal(1).toPlainString, r.getLong(2))).toSet
    val gotB = viewB.snapshot().collect()
      .map(r => (r.getLong(0), r.getDecimal(1).toPlainString, r.getLong(2))).toSet
    assert(gotB === wantB)
  }

  test("index-maintenance sink: the persisted IVF index follows the table's DML") {
    import graft.operators.IvfIndex
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    graft.functions.VectorOps.register(spark)
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val centroids = IvfIndex.train(emb, "vec_id", "embedding", k = 8, iters = 3)
      .map(_.toSeq).toSeq
    val idxPath = Files.createTempDirectory("graft-idxsink-idx").toString
    // index created EMPTY: the stream builds the corpus from txn 1 onward
    IvfIndex.writeIndex(emb.limit(0), "vec_id", "embedding", centroids, idxPath)
    val basePath = Files.createTempDirectory("graft-idxsink-base").toString
    val base = MatDb.create(spark,
      MatSchema(Seq(Dimension("vec_id", 1000)),
        Seq(ValueCol("embedding", ArrayType(FloatType)))), basePath, "manifest")
    val checkpoint = Files.createTempDirectory("graft-idxsink-ckpt").toString
    def runOnce(): Unit = {
      val q = Streams.indexMaintSink(
        spark.readStream.format("graft-stream").load(basePath),
        basePath, idxPath, "embedding", checkpoint).start()
      try q.processAllAvailable() finally q.stop()
    }
    def assertFollows(): Unit = {
      base.refresh()
      val live = base.snapshot().where(col("embedding").isNotNull)
      val queries = live.where(col("vec_id") < 3)
      val fromIndex = IvfIndex.searchIndex(spark, idxPath, queries,
          "vec_id", "embedding", nprobe = 3, k = 5)
        .select(col("qid"), col("vec_id"), col("score"), col("rn"))
      val expected = IvfIndex.searchTopK(live, queries,
          "vec_id", "embedding", centroids, nprobe = 3, k = 5)
        .select(col("qid"), col("vec_id"), col("score"), col("rn"))
      assert(fromIndex.except(expected).count() === 0L)
      assert(expected.except(fromIndex).count() === 0L)
      assert(IvfIndex.readLayout(spark, s"$idxPath/corpus", "vec_id").count()
        === live.count())
    }

    // txn 1: seed from scratch (the bootstrap path — empty corpus)
    val t1 = base.newTransaction()
    t1.addRows(emb.where(col("vec_id") < 300)); t1.commit()
    runOnce()
    assertFollows()

    // txn 2: vector change (antipodal — moves buckets); txn 3: deletes
    // plus one id whose vector goes NULL (must stop being searchable)
    val t2 = base.newTransaction()
    t2.addRows(emb.where(col("vec_id") % 7 === 1 && col("vec_id") < 300)
      .select(col("vec_id"), expr("transform(embedding, x -> -x)").as("embedding")))
    t2.commit()
    val t3 = base.newTransaction()
    import spark.implicits._
    t3.deleteRows((0L until 300L).filter(i => i % 11 == 3 && i % 7 != 1).toDF("vec_id"))
    t3.addRows(Seq(5L).toDF("vec_id")
      .select(col("vec_id"), lit(null).cast(ArrayType(FloatType)).as("embedding")))
    t3.commit()
    runOnce() // restart from checkpoint — picks up ONLY txns 2 and 3
    assertFollows()
    val ids = IvfIndex.readLayout(spark, s"$idxPath/corpus", "vec_id")
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    assert(!ids.contains(5L), "a null-vector upsert must leave the index")
    assert(!ids.contains(14L), "deleted ids must leave the index") // 14 = 11+3
    // replaying the LAST batch converges (per-id absolute maintenance)
    runOnce()
    assertFollows()

    // a TRUNCATE is SEGMENT-LESS — it contributes no rows to any batch,
    // yet the index must retire every vector: the sink's watermark-driven
    // range (maint_txn marker -> base watermark) picks it up through the
    // empty batch, and changesBetween's replace guard resolves the wiped
    // keys via the two-snapshot diff
    base.overwrite(emb.limit(0))
    val t5 = base.newTransaction()
    t5.addRows(emb.where(col("vec_id") >= 300 && col("vec_id") < 320)); t5.commit()
    runOnce()
    assertFollows()
    val after = IvfIndex.readLayout(spark, s"$idxPath/corpus", "vec_id")
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    assert(after === (300L until 320L).toSet,
      "after the truncate only the re-seeded vectors may remain")
  }

  test("cdc apply sink fails loudly on a duplicate (key, ord) pair") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.core.{Dimension, MatSchema, MatDb, ValueCol}
    val path = Files.createTempDirectory("graft-cdc-tie").toString
    val schema = MatSchema(Seq(Dimension("k", 10)), Seq(ValueCol("v")))
    val db = MatDb.create(spark, schema, path)
    val checkpoint = Files.createTempDirectory("graft-cdc-tie-ckpt").toString
    val input = MemoryStream[(Long, Long, String, Long)]
    val q = Streams.cdcApplySink(input.toDF().toDF("k", "v", "op", "ord"),
      db, "op", "ord", checkpoint).start()
    try {
      // two changes for key 1 with the SAME ord: the independent per-column
      // max_by folds are unordered on a tie (could commit a torn row mixing
      // v from one change with the delete flag of the other), so the batch
      // must fail rather than guess
      input.addData((1L, 10L, "I", 7L), (1L, 0L, "D", 7L))
      val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
        q.processAllAvailable())
      def causes(t: Throwable): Seq[Throwable] =
        if (t == null) Nil else t +: causes(t.getCause)
      assert(causes(err).exists(c =>
        c.getMessage != null && c.getMessage.contains("must be unique per key")))
      // nothing committed from the poisoned batch
      assert(db.snapshot().count() === 0)
    } finally q.stop()
  }

  test("matDb sink: micro-batch = one transaction, replay is MVCC-absorbed") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val schema = MatSchema(Seq(Dimension("k", 100)), Seq(ValueCol("v")))
    val dir = sinkTable("msink", schema)
    val db = MatDb.open(spark, dir)
    val checkpoint = java.nio.file.Files.createTempDirectory("graft-msink").toString

    val input = MemoryStream[(Long, Long)]
    val q = Streams.matDbSink(input.toDF().toDF("k", "v"), db, checkpoint).start()
    def resolved() = spark.sql("SELECT k, v FROM gsink.msink ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    try {
      input.addData((1L, 10L), (2L, 20L))
      q.processAllAvailable()
      input.addData((1L, 11L)) // upsert same key in a later micro-batch
      q.processAllAvailable()
      assert(resolved() === Seq((1L, 11L), (2L, 20L)))
      // streamed writes read back through the catalog with the chunk-keyed
      // zero-exchange resolve
      val saved = spark.conf.getOption("spark.sql.sources.v2.bucketing.enabled")
      try {
        spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
        graft.core.TestSpark.assertNoExchange(
          spark.sql("SELECT k, v FROM gsink.msink"), "streamed catalog resolve")
      } finally saved.fold(spark.conf.unset("spark.sql.sources.v2.bucketing.enabled"))(
        spark.conf.set("spark.sql.sources.v2.bucketing.enabled", _))
      // one transaction per micro-batch
      assert(watermark(dir) === 2L)

      // a replayed batch (crash between commit and checkpoint commit) lands
      // the same rows under a NEW txn (raw history is at-least-once: the
      // replay must really commit — txn 3 exists)...
      val replay = db.newTransaction()
      replay.addRows(Seq((1L, 11L)).toDF("k", "v"))
      replay.commit()
      assert(replay.id === Some(3L))
      assert(watermark(dir) === 3L)
      // ...while the RESOLVED view is unchanged (exactly-once effect)
      assert(resolved() === Seq((1L, 11L), (2L, 20L)))

      // compaction collapses the accrued per-batch segments to ONE txn
      // (the small-file/listing bound for long-running streams) without
      // changing the resolved view
      val ct = db.compact()
      assert(ct === 4L)
      assert(resolved() === Seq((1L, 11L), (2L, 20L)))
      assert(MatDb.open(spark, dir).committedSegments.map(_.txnId).distinct === Seq(4L))
    } finally q.stop()
  }

  test("ranged sink: micro-batch = ranged transaction, ordered read stays exchange-free") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.core.{Dimension, MatSchema, ValueCol}
    import graft.sources.RangedGraft
    val dir = java.nio.file.Files.createTempDirectory("graft-rsink").toString
    val schema = MatSchema(Seq(Dimension("k", 100)), Seq(ValueCol("v")))
    RangedGraft.create(spark, dir, schema, Seq(50L))
    val checkpoint = java.nio.file.Files.createTempDirectory("graft-rsink-ck").toString

    val input = MemoryStream[(Long, Long)]
    val q = Streams.rangedSink(input.toDF().toDF("k", "v"), dir, schema, checkpoint).start()
    try {
      input.addData((10L, 1L), (60L, 2L))
      q.processAllAvailable()
      input.addData((10L, 3L)) // upsert the same key in a later micro-batch
      q.processAllAvailable()
      val ord = RangedGraft.orderedScan(spark, dir, schema)
      val vals = ord.collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(vals.toSeq === Seq((10L, 3L), (60L, 2L)))
      // streamed writes read back with the layout's fully exchange-free
      // ordered resolve — the sink preserved the piece routing
      graft.core.TestSpark.assertNoExchange(ord, "streamed ranged ordered scan")

      // replayed batch = new txn, resolved view unchanged (MVCC-absorbed)
      RangedGraft.append(spark, dir, schema,
        spark.createDataFrame(Seq((10L, 3L))).toDF("k", "v"))
      val replayed = RangedGraft.orderedScan(spark, dir, schema)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(replayed.toSeq === Seq((10L, 3L), (60L, 2L)))
    } finally q.stop()
  }

  test("deduped ingest: only unseen docs land; raw history is exactly-once under replay") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.core.{Dimension, MatSchema, ValueCol}
    import graft.sources.GraftInsert
    import org.apache.spark.sql.types.StringType
    graft.functions.Fingerprint64.register(spark)
    val schema = MatSchema(Seq(Dimension("doc_id", 1000)),
      Seq(ValueCol("fp"), ValueCol("text", StringType)))
    val dir = sinkTable("dedup_ingest", schema)
    def history = Streams.committedRows(spark, dir)
    val checkpoint = java.nio.file.Files.createTempDirectory("graft-dedup-ingest").toString

    val input = MemoryStream[(Long, String)]
    val q = Streams.dedupedIngest(input.toDF().toDF("doc_id", "text"),
      dir, textCol = "text", fpCol = "fp", checkpoint).start()
    try {
      input.addData((1L, "alpha"), (2L, "beta"), (3L, "alpha")) // intra-batch dup
      q.processAllAvailable()
      val b1 = history.select("text").as[String].collect().sorted
      assert(b1.toSeq === Seq("alpha", "beta"))
      input.addData((4L, "beta"), (5L, "gamma")) // cross-batch dup + one fresh doc
      q.processAllAvailable()
      val b2 = history.select("text").as[String].collect().sorted
      assert(b2.toSeq === Seq("alpha", "beta", "gamma"))

      // replaying batch 2 (crash between append and checkpoint commit):
      // every fingerprint is already committed, so the novelty filter
      // empties the batch and the append claims NO txn — raw history is
      // exactly-once, not just MVCC-absorbed
      val next = watermark(dir)
      val replay = Seq((4L, "beta"), (5L, "gamma")).toDF("doc_id", "text")
        .withColumn("fp", graft.functions.Fingerprint64.fingerprint64($"text"))
      val fresh = Streams.noveltyFilter(replay, history, "fp")
      assert(fresh.count() === 0L)
      assert(GraftInsert.append(spark, dir, fresh) === None)
      assert(watermark(dir) === next)
    } finally q.stop()

    // scale shape: both joins of the novelty filter broadcast the
    // batch-derived side, so the corpus side streams through un-exchanged
    // whatever its size (a SortMergeJoin/ShuffledHashJoin here would mean
    // hash-exchanging 100 TB per micro-batch)
    // parquet-backed batch with one seen + one unseen doc, so neither
    // side is a LocalRelation and AQE's empty-relation propagation can't
    // optimize the joins out of the plan under test
    val bdir = java.nio.file.Files.createTempDirectory("graft-nf-batch").toString
    Seq((9L, "delta"), (10L, "alpha")).toDF("doc_id", "text")
      .withColumn("fp", graft.functions.Fingerprint64.fingerprint64($"text"))
      .write.parquet(s"$bdir/b")
    val batchDf = spark.read.parquet(s"$bdir/b")
    val filtered = Streams.noveltyFilter(batchDf, history, "fp")
    filtered.collect()
    val plan = graft.core.TestSpark.finalPlan(filtered)
    assert("BroadcastHashJoin".r.findAllIn(plan).size === 2, plan)
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"), plan)
  }

  test("near-dup ingest: SimHash gate vs history and within-batch, exactly-once replay") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.core.{Dimension, MatSchema, ValueCol}
    import graft.sources.GraftInsert
    import org.apache.spark.sql.types.StringType
    val schema = MatSchema(Seq(Dimension("doc_id", 1000)),
      Seq(ValueCol("simhash"), ValueCol("text", StringType)))
    val dir = sinkTable("neardup_ingest", schema)
    def history = Streams.committedRows(spark, dir)
    val checkpoint = java.nio.file.Files.createTempDirectory("graft-nd-ingest").toString

    val tA = "the quick brown fox jumps over the lazy dog"
    val tB = "completely unrelated text about spark physical plans and shuffles"
    val tC = "a third document on bucketed layouts and manifest commit protocols"
    val input = MemoryStream[(Long, String)]
    val q = Streams.nearDupIngest(input.toDF().toDF("doc_id", "text"),
      dir, textCol = "text", idCol = "doc_id", checkpoint).start()
    try {
      input.addData((1L, tA), (2L, tB))
      q.processAllAvailable()
      assert(history.count() === 2)
      // batch 2: doc 3 duplicates committed doc 1 (Hamming 0 vs history);
      // docs 4+5 duplicate each other within the batch (5 has the
      // smaller-id near-dup 4); doc 6 is fresh
      input.addData((3L, tA), (4L, tC), (5L, tC), (6L, tB + " with a tail"))
      q.processAllAvailable()
      val landed = history.select("doc_id").as[Long].collect().sorted
      assert(landed.toSeq === Seq(1L, 2L, 4L, 6L))

      // replay of batch 2: every survivor is now Hamming-0 to its own
      // committed copy, so the gate drops everything — no txn claimed
      graft.functions.TextOps.register(spark)
      val next = watermark(dir)
      val replay = Seq((3L, tA), (4L, tC), (5L, tC), (6L, tB + " with a tail"))
        .toDF("doc_id", "text")
        .withColumn("simhash", graft.functions.TextOps.simhash56Col(
          org.apache.spark.sql.functions.split(lower($"text"), "\\s+")))
      val fresh = Streams.nearDupFilter(replay, history, "doc_id")
      assert(fresh.count() === 0L)
      assert(GraftInsert.append(spark, dir, fresh) === None)
      assert(watermark(dir) === next)
    } finally q.stop()

    // scale shape: the corpus path (bands of the committed table) is
    // never exchanged — every join broadcasts a batch-derived side
    val bdir = java.nio.file.Files.createTempDirectory("graft-nd-batch").toString
    Seq((9L, tA), (10L, "novel content never seen before anywhere"))
      .toDF("doc_id", "text")
      .withColumn("simhash", graft.functions.TextOps.simhash56Col(
        org.apache.spark.sql.functions.split(lower($"text"), "\\s+")))
      .write.parquet(s"$bdir/b")
    val batchDf = spark.read.parquet(s"$bdir/b")
    val filtered = Streams.nearDupFilter(batchDf, history, "doc_id")
    filtered.collect()
    val plan = graft.core.TestSpark.finalPlan(filtered)
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"), plan)
  }

  test("ingest auto-compaction bounds txn partitions without losing dedup history") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.core.{Dimension, MatSchema, ValueCol}
    import org.apache.spark.sql.types.StringType
    graft.functions.Fingerprint64.register(spark)
    val schema = MatSchema(Seq(Dimension("doc_id", 1000)),
      Seq(ValueCol("fp"), ValueCol("text", StringType)))
    val dir = sinkTable("compact_ingest", schema)
    def history = Streams.committedRows(spark, dir)
    val checkpoint = java.nio.file.Files.createTempDirectory("graft-compact-ingest").toString

    val input = MemoryStream[(Long, String)]
    val q = Streams.dedupedIngest(input.toDF().toDF("doc_id", "text"),
      dir, textCol = "text", fpCol = "fp", checkpoint, compactEvery = 2).start()
    try {
      input.addData((1L, "alpha")); q.processAllAvailable()            // batch 0
      input.addData((2L, "beta")); q.processAllAvailable()             // batch 1
      input.addData((3L, "gamma"), (4L, "delta")); q.processAllAvailable() // batch 2 + compact
      // the fold collapsed batches 0-2 (+ the compaction txn) into ONE
      // live txn; batch 3 then lands on top of it
      val txnsAfterCompact = history.select(col("_txn_id")).distinct().count()
      assert(txnsAfterCompact === 1L, s"expected 1 txn after compact, got $txnsAfterCompact")
      // the committed segment listing collapsed with it
      assert(MatDb.open(spark, dir).committedSegments.map(_.txnId).distinct.size === 1)
      input.addData((5L, "epsilon"), (6L, "alpha")); q.processAllAvailable() // batch 3
      // dedup still holds against the COMPACTED history: "alpha" dropped
      val texts = history.select("text").as[String].collect().sorted
      assert(texts.toSeq === Seq("alpha", "beta", "delta", "epsilon", "gamma"))
      assert(history.select(col("_txn_id")).distinct().count() === 2L)
    } finally q.stop()
  }

  test("semantic filter nprobe >= 3: catches a dup stored under the query's 3rd-nearest bucket") {
    import spark.implicits._
    // axis-aligned centroids; history vector h sits just inside bucket 2
    // (its primary), query v is a near-copy of h whose dots rank bucket 2
    // THIRD — the exact miss class nprobe=2 accepts (standard IVF recall
    // loss) and nprobe=3 must close. cosine(v,h) ≈ 0.9997 >= tau.
    val cents = Seq(Seq(1.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0), Seq(0.0, 0.0, 1.0))
    val h = Seq(0.575, 0.570, 0.587) // primary bucket 2
    val v = Seq(0.587, 0.575, 0.570) // ranks: 0 > 1 > 2
    val hist = Seq((1L, h, 2L)).toDF("vec_id", "embedding", "bucket")
    val batch = Seq((10L, v)).toDF("vec_id", "embedding")
    def survivors(np: Int): Seq[Long] = Streams.semanticNoveltyFilter(
      batch, hist, "vec_id", "embedding", cents, tau = 0.999, nprobe = np)
      .select("vec_id").as[Long].collect().toSeq
    assert(survivors(2) === Seq(10L)) // 3rd-nearest bucket never probed
    assert(survivors(3) === Seq())    // generic top-n path reaches it
    // nprobe beyond k clamps to k rather than erroring
    assert(survivors(5) === Seq())
    // intra-batch side under the generic path: candidate probes its top-3,
    // incumbent sits at its primary — smaller id survives, larger drops
    val batch2 = Seq((1L, h), (10L, v)).toDF("vec_id", "embedding")
    val out = Streams.semanticNoveltyFilter(
      batch2, hist.limit(0), "vec_id", "embedding", cents, tau = 0.999, nprobe = 3)
      .select("vec_id").as[Long].collect().toSeq
    assert(out === Seq(1L))
  }

  test("semantic ingest: cosine gate vs committed history, exactly-once replay") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.core.{Dimension, MatSchema, ValueCol}
    import graft.sources.GraftInsert
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val schema = MatSchema(Seq(Dimension("vec_id", 1000)),
      Seq(ValueCol("bucket"), ValueCol("embedding", ArrayType(DoubleType))))
    val dir = sinkTable("sem_ingest", schema)
    def history = Streams.committedRows(spark, dir)
    val checkpoint = java.nio.file.Files.createTempDirectory("graft-sem-ingest").toString

    // two well-separated clusters in 4 dims; centroids trained offline on
    // a seed sample, riding the sink's closure like a production deploy
    val seed = Seq((0L, Seq(1.0, 0.01, 0.0, 0.0)), (1L, Seq(0.0, 1.0, 0.02, 0.0)),
      (2L, Seq(0.99, 0.0, 0.01, 0.0)), (3L, Seq(0.01, 0.98, 0.0, 0.0)))
      .toDF("vec_id", "embedding")
    val centroids = graft.operators.IvfIndex
      .train(seed, "vec_id", "embedding", k = 2, iters = 2).toSeq.map(_.toSeq)

    val input = MemoryStream[(Long, Seq[Double])]
    val q = Streams.semanticIngest(
      input.toDF().toDF("vec_id", "embedding"), dir,
      idCol = "vec_id", vecCol = "embedding", centroids = centroids,
      tau = 0.999, checkpoint = checkpoint).start()
    try {
      input.addData((10L, Seq(1.0, 0.01, 0.0, 0.0)), (11L, Seq(0.0, 1.0, 0.02, 0.0)))
      q.processAllAvailable()
      assert(history.select("vec_id").distinct().count() === 2)
      // batch 2: 12 is a jitter of committed 10 (cosine ≈ 1 → drops);
      // 13 is genuinely novel (orthogonal-ish) and lands; 14 jitters 13
      // within the same batch (larger id loses intra-batch)
      input.addData(
        (12L, Seq(1.0001, 0.0100, 0.00005, 0.0)),
        (13L, Seq(0.0, 0.0, 0.0, 1.0)),
        (14L, Seq(0.00002, 0.0, 0.0, 0.9999)))
      q.processAllAvailable()
      val landed = history.select("vec_id").as[Long].collect().sorted
      assert(landed.toSeq === Seq(10L, 11L, 13L))
      // persisted bucket matches the closure assignment rule (history is
      // bucket-addressable for every future batch)
      assert(history.where($"bucket".isNull).count() === 0)

      // replay of batch 2: survivors meet their own committed copy at
      // cosine exactly 1.0 — gate empties the batch, no txn claimed
      val next = watermark(dir)
      val replay = Seq((12L, Seq(1.0001, 0.0100, 0.00005, 0.0)),
        (13L, Seq(0.0, 0.0, 0.0, 1.0)),
        (14L, Seq(0.00002, 0.0, 0.0, 0.9999))).toDF("vec_id", "embedding")
      val fresh = Streams.semanticNoveltyFilter(replay, history,
        "vec_id", "embedding", centroids, tau = 0.999)
      assert(fresh.count() === 0L)
      assert(GraftInsert.append(spark, dir, fresh
        .withColumn("bucket", org.apache.spark.sql.functions.lit(0L))) === None)
      assert(watermark(dir) === next)
    } finally q.stop()

    // scale shape: the history side streams through one broadcast join
    // un-exchanged; only batch-derived sides shuffle or broadcast
    val bdir = java.nio.file.Files.createTempDirectory("graft-sem-batch").toString
    Seq((21L, Seq(1.0, 0.0101, 0.0, 0.0)), (22L, Seq(0.5, 0.0, 0.5, 0.70)))
      .toDF("vec_id", "embedding").write.parquet(s"$bdir/b")
    val filteredS = Streams.semanticNoveltyFilter(
      spark.read.parquet(s"$bdir/b"), history,
      "vec_id", "embedding", centroids, tau = 0.999)
    assert(filteredS.select("vec_id").as[Long].collect().toSeq === Seq(22L))
    val planS = graft.core.TestSpark.finalPlan(filteredS)
    assert(!planS.contains("SortMergeJoin") && !planS.contains("ShuffledHashJoin"), planS)
  }

  test("media near-dup ingest: pHash gate for images and videos, exactly-once replay") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.core.{Dimension, MatSchema, ValueCol}
    import graft.sources.GraftInsert
    import graft.multimodal.Multimodal
    import MediaFixtures.{muxAvi, structuredFrame}
    val schema = MatSchema(Seq(Dimension("doc_id", 1000)),
      Seq(ValueCol("frame_idx", org.apache.spark.sql.types.IntegerType),
        ValueCol("phash")))
    val dir = sinkTable("media_ingest", schema)
    def history = Streams.committedRows(spark, dir)
    val checkpoint = java.nio.file.Files.createTempDirectory("graft-media-ingest").toString

    val imgA = Multimodal.renderDocImage("the quick brown fox jumps over the dog")
    val imgC = Multimodal.renderDocImage("a third distinct image payload entirely")
    val imgD = Multimodal.renderDocImage("fresh fourth unseen image bytes")
    val vid1 = muxAvi(Seq(structuredFrame(0), structuredFrame(7),
      structuredFrame(13)), 40000, 64, 48)
    // 3 of vid2's 4 frames are byte-identical to committed vid1 frames
    val vid2 = muxAvi(Seq(structuredFrame(21), structuredFrame(0),
      structuredFrame(7), structuredFrame(13)), 40000, 64, 48)

    val input = MemoryStream[(Long, String, Array[Byte])]
    val q = Streams.mediaNearDupIngest(
      input.toDF().toDF("doc_id", "kind", "media"),
      dir, checkpoint = checkpoint).start()
    try {
      input.addData((1L, "image", imgA), (10L, "video", vid1))
      q.processAllAvailable()
      assert(history.select("doc_id").distinct().count() === 2)
      // batch 2: doc 3 is a brightness-jittered re-encode of committed
      // imgA (pHash-invariant edit → Hamming 0 vs history); doc 5 jitters
      // doc 4 within the batch (larger id loses); doc 6 is fresh; video 11
      // shares 3 frames with committed video 10
      input.addData(
        (3L, "image", Multimodal.brightenPng(imgA, 16)),
        (4L, "image", imgC),
        (5L, "image", Multimodal.brightenPng(imgC, 16)),
        (6L, "image", imgD),
        (11L, "video", vid2))
      q.processAllAvailable()
      val landed = history.select("doc_id").distinct()
        .as[Long].collect().sorted
      assert(landed.toSeq === Seq(1L, 4L, 6L, 10L))

      // replay of batch 2: survivors are Hamming-0 to their own committed
      // signatures, so the gate empties the batch and no txn is claimed
      val next = watermark(dir)
      val replayMedia = Seq(
        Multimodal.MediaRow(3L, "image", Multimodal.brightenPng(imgA, 16)),
        Multimodal.MediaRow(4L, "image", imgC),
        Multimodal.MediaRow(5L, "image", Multimodal.brightenPng(imgC, 16)),
        Multimodal.MediaRow(6L, "image", imgD),
        Multimodal.MediaRow(11L, "video", vid2)).toDS()
      val replaySigs = Multimodal.mediaPhashes(replayMedia)
      val fresh = Streams.mediaNearDupFilter(replaySigs, history)
      assert(fresh.count() === 0L)
      assert(GraftInsert.append(spark, dir, fresh) === None)
      assert(watermark(dir) === next)

      // minFrames semantics: vid2 matches only 3 committed frames, so a
      // 4-frame threshold lets it through while doc 3 (1 of 1 frame
      // matched… but below the 4-frame bar) also survives — the knob is
      // per-DOCUMENT distinct matched frames
      val survive4 = Streams.mediaNearDupFilter(
        replaySigs, history, minFrames = 4)
      assert(survive4.select("doc_id").distinct().as[Long].collect().sorted
        .toSeq === Seq(3L, 4L, 5L, 6L, 11L))
    } finally q.stop()

    // scale shape: the committed-signature side explodes to band rows as a
    // per-row map and is NEVER exchanged — every join broadcasts a
    // batch-derived side (parquet-backed batch so AQE can't fold it away)
    val bdir = java.nio.file.Files.createTempDirectory("graft-media-batch").toString
    Seq((21L, "image", Multimodal.brightenPng(imgD, 16)),
      (22L, "image", Multimodal.renderDocImage("genuinely novel content")))
      .toDF("doc_id", "kind", "media").write.parquet(s"$bdir/b")
    val batchSigs = Multimodal.mediaPhashes(
      spark.read.parquet(s"$bdir/b").as[Multimodal.MediaRow])
    val filteredM = Streams.mediaNearDupFilter(batchSigs, history)
    assert(filteredM.select("doc_id").distinct().as[Long].collect().toSeq === Seq(22L))
    val planM = graft.core.TestSpark.finalPlan(filteredM)
    assert(!planM.contains("SortMergeJoin") && !planM.contains("ShuffledHashJoin"), planM)
    assert("BroadcastHashJoin".r.findAllIn(planM).size >= 2, planM)
  }

  test("admission: an oversized batch slices through the exact sink, dedup intact") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.core.{Dimension, MatSchema, ValueCol}
    import org.apache.spark.sql.types.StringType
    val schema = MatSchema(Seq(Dimension("doc_id", 1000)),
      Seq(ValueCol("fp"), ValueCol("text", StringType)))
    val dir = sinkTable("admit_exact", schema)
    def history = Streams.committedRows(spark, dir)
    val checkpoint = java.nio.file.Files.createTempDirectory("graft-admit-exact").toString
    val input = MemoryStream[(Long, String)]
    // maxBatchRows=2 forces a 7-row batch into ⌈7/2⌉ = 4 hash slices
    val q = Streams.dedupedIngest(input.toDF().toDF("doc_id", "text"),
      dir, textCol = "text", fpCol = "fp", checkpoint, maxBatchRows = 2L).start()
    try {
      input.addData((1L, "alpha"), (2L, "beta"), (3L, "gamma"), (4L, "delta"),
        (5L, "epsilon"), (6L, "alpha"), (7L, "zeta"))
      q.processAllAvailable()
      // exact dedup outcome is IDENTICAL to unsliced (equal fingerprints
      // hash to the same slice; dropDuplicates ran before slicing)
      val texts = history.select("text").as[String].collect().sorted
      assert(texts.toSeq === Seq("alpha", "beta", "delta", "epsilon", "gamma", "zeta"))
      // more than one txn for the single micro-batch proves slicing ran
      val txns = history.select(col("_txn_id")).distinct().count()
      assert(txns >= 2, s"expected >=2 slice txns, got $txns")
      // replay of the oversized batch: every slice finds its fingerprints
      // committed and claims nothing
      val next = watermark(dir)
      input.addData((1L, "alpha"), (2L, "beta"), (3L, "gamma"), (4L, "delta"),
        (5L, "epsilon"), (6L, "alpha"), (7L, "zeta"))
      q.processAllAvailable()
      assert(history.count() === 6)
      assert(watermark(dir) === next)
    } finally q.stop()
  }

  test("admission: oversized batches slice through the near-dup and semantic sinks") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.core.{Dimension, MatSchema, ValueCol}
    import org.apache.spark.sql.types.{ArrayType, DoubleType, StringType}

    // --- SimHash sink at maxBatchRows=2 with an intra-batch dup pair ---
    val ndSchema = MatSchema(Seq(Dimension("doc_id", 1000)),
      Seq(ValueCol("simhash"), ValueCol("text", StringType)))
    val ndDir = sinkTable("admit_nd", ndSchema)
    val ndCp = java.nio.file.Files.createTempDirectory("graft-admit-nd").toString
    val tDup = "a repeated document about bucketed layouts and manifests"
    val ndIn = MemoryStream[(Long, String)]
    val ndQ = Streams.nearDupIngest(ndIn.toDF().toDF("doc_id", "text"),
      ndDir, textCol = "text", idCol = "doc_id", ndCp, maxBatchRows = 2L).start()
    try {
      ndIn.addData(
        (1L, "the quick brown fox jumps over the lazy dog"),
        (2L, "completely unrelated text about spark physical plans"),
        (3L, tDup), (4L, tDup),
        (5L, "novel content never seen before anywhere"),
        (6L, "a sixth distinct document on watermarks and state stores"))
      ndQ.processAllAvailable()
      val landed = Streams.committedRows(spark, ndDir).select("doc_id").as[Long].collect().toSet
      // at-most-one of the dup pair commits whichever slice each lands in;
      // every non-dup doc commits
      assert(Set(1L, 2L, 5L, 6L).subsetOf(landed), s"lost novel docs: $landed")
      assert((landed & Set(3L, 4L)).size === 1, s"dup pair mishandled: $landed")
      assert(landed.size === 5)
    } finally ndQ.stop()

    // --- semantic sink at maxBatchRows=2 with a cosine-dup pair ---
    val smSchema = MatSchema(Seq(Dimension("vec_id", 1000)),
      Seq(ValueCol("bucket"), ValueCol("embedding", ArrayType(DoubleType))))
    val smDir = sinkTable("admit_sem", smSchema)
    val smCp = java.nio.file.Files.createTempDirectory("graft-admit-sem").toString
    val seed = Seq((0L, Seq(1.0, 0.01, 0.0, 0.0)), (1L, Seq(0.0, 1.0, 0.02, 0.0)),
      (2L, Seq(0.99, 0.0, 0.01, 0.0)), (3L, Seq(0.01, 0.98, 0.0, 0.0)))
      .toDF("vec_id", "embedding")
    val centroids = graft.operators.IvfIndex
      .train(seed, "vec_id", "embedding", k = 2, iters = 2).toSeq.map(_.toSeq)
    val smIn = MemoryStream[(Long, Seq[Double])]
    val smQ = Streams.semanticIngest(
      smIn.toDF().toDF("vec_id", "embedding"), smDir,
      idCol = "vec_id", vecCol = "embedding", centroids = centroids,
      tau = 0.999, checkpoint = smCp, maxBatchRows = 2L).start()
    try {
      smIn.addData(
        (10L, Seq(1.0, 0.01, 0.0, 0.0)),
        (11L, Seq(0.0, 1.0, 0.02, 0.0)),
        (12L, Seq(1.0001, 0.0100, 0.00001, 0.0)), // cosine ~1 vs vec 10
        (13L, Seq(0.0, 0.0, 0.0, 1.0)),
        (14L, Seq(0.5, 0.5, 0.5, 0.5)))
      smQ.processAllAvailable()
      val landed = Streams.committedRows(spark, smDir).select("vec_id").as[Long].collect().toSet
      assert(Set(11L, 13L, 14L).subsetOf(landed), s"lost novel vectors: $landed")
      assert((landed & Set(10L, 12L)).size === 1, s"cosine pair mishandled: $landed")
      assert(landed.size === 4)
    } finally smQ.stop()
  }

  test("admission: an oversized media batch slices without re-pairing committed docs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.core.{Dimension, MatSchema, ValueCol}
    import graft.multimodal.Multimodal
    val schema = MatSchema(Seq(Dimension("doc_id", 1000)),
      Seq(ValueCol("frame_idx", org.apache.spark.sql.types.IntegerType),
        ValueCol("phash")))
    val dir = sinkTable("admit_media", schema)
    def history = Streams.committedRows(spark, dir)
    val checkpoint = java.nio.file.Files.createTempDirectory("graft-admit-media").toString
    val imgs = (0 until 5).map(i =>
      Multimodal.renderDocImage(s"admission media payload number $i"))
    val input = MemoryStream[(Long, String, Array[Byte])]
    val q = Streams.mediaNearDupIngest(
      input.toDF().toDF("doc_id", "kind", "media"),
      dir, checkpoint = checkpoint, maxBatchRows = 2L).start()
    try {
      // 6 single-frame docs → 6 signature rows → 3 slices; doc 6 reuses
      // doc 1's exact image (Hamming 0 — pHash jitter-invariance is
      // content-dependent and not what this test pins): whichever slices
      // the pair lands in, exactly one member must commit
      input.addData(
        (1L, "image", imgs(0)), (2L, "image", imgs(1)), (3L, "image", imgs(2)),
        (4L, "image", imgs(3)), (5L, "image", imgs(4)),
        (6L, "image", imgs(0)))
      q.processAllAvailable()
      val landed = history.select("doc_id").as[Long].collect().toSet
      assert(Set(2L, 3L, 4L, 5L).subsetOf(landed), s"lost novel docs: $landed")
      assert((landed & Set(1L, 6L)).size === 1, s"jitter pair mishandled: $landed")
      assert(landed.size === 5)
      // replay of the oversized batch: identity guard + Hamming-0 gate
      // drop every slice to empty
      val next = watermark(dir)
      input.addData(
        (1L, "image", imgs(0)), (2L, "image", imgs(1)), (3L, "image", imgs(2)),
        (4L, "image", imgs(3)), (5L, "image", imgs(4)),
        (6L, "image", imgs(0)))
      q.processAllAvailable()
      assert(history.select("doc_id").distinct().count() === 5)
      assert(watermark(dir) === next)
    } finally q.stop()
  }

  test("media ingest replay guard: docs with fewer frames than minFrames stay exactly-once") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.core.{Dimension, MatSchema, ValueCol}
    import graft.multimodal.Multimodal
    val schema = MatSchema(Seq(Dimension("doc_id", 1000)),
      Seq(ValueCol("frame_idx", org.apache.spark.sql.types.IntegerType),
        ValueCol("phash")))
    val dir = sinkTable("media_replay", schema)
    def history = Streams.committedRows(spark, dir)
    val checkpoint = java.nio.file.Files.createTempDirectory("graft-media-replay").toString

    // single-frame image docs under minFrames=2: the Hamming-0 gate alone
    // can NEVER drop them (1 matched frame < 2), so exactly-once replay
    // rests entirely on the doc-identity guard
    val imgA = Multimodal.renderDocImage("solo image alpha for the replay guard")
    val imgB = Multimodal.renderDocImage("solo image beta, distinct content")
    val input = MemoryStream[(Long, String, Array[Byte])]
    val q = Streams.mediaNearDupIngest(
      input.toDF().toDF("doc_id", "kind", "media"),
      dir, checkpoint = checkpoint, minFrames = 2).start()
    try {
      input.addData((1L, "image", imgA), (2L, "image", imgB))
      q.processAllAvailable()
      assert(history.count() === 2)
      val next = watermark(dir)
      // crash-replay: the same docs arrive again — identity guard drops
      // them, no duplicate signature rows, no txn claimed
      input.addData((1L, "image", imgA), (2L, "image", imgB))
      q.processAllAvailable()
      assert(history.count() === 2)
      assert(watermark(dir) === next)
    } finally q.stop()
  }

  test("media ingest compaction: refused on a doc_id key, keeps every frame on (doc_id, frame_idx)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.multimodal.Multimodal
    import MediaFixtures.{muxAvi, structuredFrame}
    val vid = muxAvi(Seq(structuredFrame(0), structuredFrame(7),
      structuredFrame(13)), 40000, 64, 48)
    def media = MemoryStream[(Long, String, Array[Byte])]
    def ckpt() = java.nio.file.Files.createTempDirectory("graft-media-compact").toString

    // keyed by doc_id alone, compaction (newest-wins per key) would keep
    // one of the video's three frame rows: refused at call time
    val docKeyed = sinkTable("media_compact_doc", MatSchema(Seq(Dimension("doc_id", 1000)),
      Seq(ValueCol("frame_idx", org.apache.spark.sql.types.IntegerType), ValueCol("phash"))))
    val refused = intercept[IllegalArgumentException](Streams.mediaNearDupIngest(
      media.toDF().toDF("doc_id", "kind", "media"), docKeyed, ckpt(), compactEvery = 1))
    assert(refused.getMessage.contains("doc_id") && refused.getMessage.contains("frame_idx"),
      refused.getMessage)

    val frameKeyed = sinkTable("media_compact_frame",
      MatSchema(Seq(Dimension("doc_id", 1000), Dimension("frame_idx", 64)), Seq(ValueCol("phash"))))
    def frames(doc: Long) =
      Streams.committedRows(spark, frameKeyed).where($"doc_id" === doc).count()
    val input = media
    val q = Streams.mediaNearDupIngest(input.toDF().toDF("doc_id", "kind", "media"),
      frameKeyed, ckpt(), compactEvery = 1).start()
    try {
      input.addData((10L, "video", vid))
      q.processAllAvailable()
      assert(frames(10L) === 3)
      // batch 1 appends an image, then compacts the table
      input.addData((1L, "image", Multimodal.renderDocImage("one image after the video")))
      q.processAllAvailable()
      val committed = MatDb.open(spark, frameKeyed).committedSegments
      assert(committed.map(_.txnId).distinct.size === 1, s"batch 1 must compact: $committed")
      assert(frames(10L) === 3, "compaction must keep every frame of the video")
      assert(frames(1L) === 1)
    } finally q.stop()
  }

  test("catalog change stream: readStream.table(<cat>.<t>.stream) tails commits, options flow") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-cat-stream")
    spark.conf.set("spark.sql.catalog.gstr", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gstr.root", root.toString)
    val schema = MatSchema(Seq(Dimension("k", 10)), Seq(ValueCol("v")))
    val db = MatDb.create(spark, schema, root.resolve("t").toString, "manifest")
    def write(rows: (Long, Long)*): Unit = {
      val t = db.newTransaction(); t.addRows(rows.toSeq.toDF("k", "v")); t.commit()
    }
    write((1L, 10L), (2L, 20L)) // txn 1
    write((1L, 11L))            // txn 2
    write((3L, 30L))            // txn 3

    val batches = scala.collection.concurrent.TrieMap[Long, Seq[(Long, Long, Long)]]()
    val q = spark.readStream
      .option("startingTxn", "1")      // skip txn 1 — option must reach the source
      .option("maxTxnsPerBatch", "1")  // one txn per micro-batch
      .table("gstr.t.stream")
      .writeStream
      .option("checkpointLocation",
        Files.createTempDirectory("graft-cat-stream-ckpt").toString)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, bid: Long) =>
        batches(bid) = df.select("k", "v", "_txn_id").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      }
      .start()
    try { q.processAllAvailable() } finally q.stop()

    val all = batches.values.flatten.toSeq
    assert(all.map(t => (t._1, t._2)).sorted === Seq((1L, 11L), (3L, 30L)),
      s"must tail txns 2 and 3 only, got $all")
    assert(batches.values.filter(_.nonEmpty).forall(_.map(_._3).distinct.size == 1),
      "maxTxnsPerBatch=1 must align batches to single transactions")

    // the sub-table is streaming-only and does not shadow the base table
    assert(spark.sql("SELECT k, v FROM gstr.t ORDER BY k").collect().map(_.getLong(1)).toSeq
      === Seq(11L, 20L, 30L))
    val e = intercept[Exception](spark.sql("SELECT * FROM gstr.t.stream").collect())
    assert(e.getMessage.toLowerCase.matches("(?s).*(batch|read|support).*"),
      s"batch reads of the stream sub-table must fail loudly: ${e.getMessage}")
  }
}
