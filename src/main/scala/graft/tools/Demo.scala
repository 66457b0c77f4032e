package graft.tools

import graft.core._

/** End-to-end demo of the graft core table format: create, insert, flush,
  * commit, reopen, upsert, time travel, rollback, chunk-pruned query.
  * Usage: runMain graft.tools.Demo /tmp/demo-db */
object Demo {
  def main(args: Array[String]): Unit = {
    val path = args.headOption.getOrElse("/tmp/graft-demo-db")
    val spark = graft.GraftSession()

    val schema = MatSchema(
      Seq(Dimension("time", 50), Dimension("sensor_id", 10)),
      Seq(ValueCol("value")))
    val db = MatDb.createOrOpen(spark, schema, path)
    println(s"[demo] opened $path, committed segments: ${db.committedSegments}")

    val txn = db.newTransaction()
    txn.addRowsSeq(for (t <- 0 until 10; s <- 0 until 5)
      yield Seq[Any](t.toLong, s.toLong, (t * 100 + s).toLong))
    txn.flush()
    txn.addRowsSeq(Seq(Seq[Any](0L, 0L, 9999L))) // upsert over (0,0)
    println(s"[demo] in-txn count: ${txn.query().count()}")
    txn.commit()
    println(s"[demo] committed; segments now: ${db.committedSegments}")

    println("[demo] ordered scan, first 5 rows (expect (0,0)->9999):")
    db.orderedScan().show(5)

    val db2 = MatDb.open(spark, path)
    println(s"[demo] reopened; snapshot count: ${db2.snapshot().count()}")

    val t2 = db2.newTransaction()
    t2.addRowsSeq(Seq(Seq[Any](0L, 0L, -1L)))
    t2.commit()
    println("[demo] after upsert txn, (0,0) row:")
    db2.snapshot().where("time = 0 and sensor_id = 0").show()
    println("[demo] time travel to txn 1, (0,0) row:")
    db2.asOf(1L).where("time = 0 and sensor_id = 0").show()

    val t3 = db2.newTransaction()
    t3.addRowsSeq(Seq(Seq[Any](500L, 500L, 0L)))
    t3.flush()
    t3.rollback()
    println(s"[demo] after rollback, count: ${db2.snapshot().count()} (expect 50)")

    val t4 = db2.newTransaction()
    val pruned = t4.query(Some(Scan.chunkRange(schema, "time", Some(5L), Some(7L))))
    println(s"[demo] chunk-pruned time in [5,7]: ${pruned.count()} rows (expect 15)")
    pruned.explain()
    t4.rollback()

    // automatic chunk pruning: plain dimension predicate + the Catalyst rule
    graft.plans.GraftPlans.enable(spark)
    val auto = db2.snapshot().where("time >= 5 and time <= 7")
    println(s"[demo] rule-pruned time in [5,7]: ${auto.count()} rows (expect 15)")
    val pf = auto.queryExecution.executedPlan.toString.linesIterator
      .filter(_.contains("PartitionFilters")).mkString("\n")
    println(s"[demo] rule-derived partition filters:\n$pf")

    // compaction: many segments -> one transaction, same data
    println(s"[demo] segments before compact: ${db2.committedSegments.size}")
    val cid = db2.compact()
    println(s"[demo] compacted into txn $cid; segments now: ${db2.committedSegments.size}; " +
      s"count still ${db2.snapshot().count()} (expect 50)")

    // format("graft") interop
    val srcPath = java.nio.file.Files.createTempDirectory("demo-src").toString
    import spark.implicits._
    Seq((1L, 1L, 100L)).toDF("time", "sensor_id", "value")
      .write.format("graft").option("dimensions", "time:50,sensor_id:10").save(srcPath)
    Seq((1L, 1L, 200L)).toDF("time", "sensor_id", "value")
      .write.format("graft").mode("append").save(srcPath)
    println("[demo] format(\"graft\") read (expect value=200), asOf 1 (expect 100):")
    spark.read.format("graft").load(srcPath).show()
    spark.read.format("graft").option("asOf", "1").load(srcPath).show()

    // full Spark SQL over a graft table via registerView
    db2.registerView("demo_sensors")
    println("[demo] SQL over registered view (expect 50 rows, sum over sensor 0):")
    spark.sql("SELECT count(*) n, sum(value) s FROM demo_sensors WHERE sensor_id = 0").show()

    spark.stop()
    println("[demo] done")
  }
}
