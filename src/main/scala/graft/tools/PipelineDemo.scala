package graft.tools

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.core.{Dimension, MatDb, MatSchema, ValueCol}
import graft.functions.Fingerprint64
import graft.ingest.Ingest
import graft.multimodal.Multimodal
import graft.streaming.Streams

/** End-to-end demo of ingest -> dictionary encode -> graft table commit ->
  * query, plus streaming sink, fingerprint64 SQL, and multimodal features.
  * Usage: runMain graft.tools.PipelineDemo */
object PipelineDemo {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession()
    import spark.implicits._

    // 1. sensor-log ingest: TSV + gz + glob -> parse -> fixed point
    val dir = Files.createTempDirectory("pipe-demo")
    Files.write(dir.resolve("x.tsv"),
      ("31/12/1995 11:59:59 p.m.\tpump\ttemp\tC\t12.345\n" +
        "1/1/1996 12:00:01 a.m.\tpump\ttemp\tC\t-3.2\n" +
        "garbage line that should be skipped\n" +
        "2/1/1996 6:30:00 a.m.\tfan\trpm\tr\t850.5").getBytes)
    val parsed = Ingest.parseSensorLog(Ingest.readSensorLog(spark, s"$dir/*.tsv"))
    println(s"[pipe] parsed rows (expect 3): ${parsed.count()}")

    // 2. dictionary get-or-create + encode
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("component", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("sensor", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType))))
    val dict = Ingest.dictionaryGetOrCreate(empty, parsed, Seq("component", "sensor"))
    println("[pipe] dictionary:")
    dict.orderBy("id").show()
    val encoded = Ingest.encodeWithDictionary(parsed, dict, Seq("component", "sensor"))
      .select(col("time"), col("id").as("sensor_id"), col("value"))

    // 3. commit into a graft table, read back ordered
    val dbPath = Files.createTempDirectory("pipe-db").toString
    val db = MatDb.create(spark,
      MatSchema(Seq(Dimension("time", 86400000), Dimension("sensor_id", 16)),
        Seq(ValueCol("value"))), dbPath)
    val txn = db.newTransaction()
    txn.addRows(encoded)
    txn.commit()
    println("[pipe] graft table ordered scan:")
    db.orderedScan().show()

    // 4. fingerprint64 as SQL over documents
    Fingerprint64.register(spark)
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .createOrReplaceTempView("docs")
    println("[pipe] fingerprint64 sample (expect 3 distinct longs):")
    spark.sql("SELECT doc_id, fingerprint64(text) fp FROM docs ORDER BY doc_id LIMIT 3").show()

    // 5. multimodal decode-stub features
    val media = Multimodal.mediaFromDocuments(
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet"), 4)
    println("[pipe] multimodal features sample:")
    Multimodal.extractFeatures(media).orderBy("doc_id").show(3, truncate = 40)

    // 6. streaming: micro-batches -> transactions via foreachBatch sink
    implicit val sqlCtx = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long)]
    val sdbPath = Files.createTempDirectory("pipe-sdb").toString
    val sdb = MatDb.create(spark,
      MatSchema(Seq(Dimension("k", 10)), Seq(ValueCol("v"))), sdbPath)
    val q = Streams.matDbSink(input.toDF().toDF("k", "v"), sdb,
      Files.createTempDirectory("pipe-ckpt").toString).start()
    input.addData((1L, 100L), (2L, 200L)); q.processAllAvailable()
    input.addData((1L, 111L)); q.processAllAvailable()
    q.stop()
    println(s"[pipe] after 2 streamed micro-batches, txns=${sdb.committedSegments.map(_.txnId).distinct.size} (expect 2)")
    println("[pipe] streamed table snapshot (expect k=1 -> 111 upserted):")
    sdb.snapshot().orderBy("k").show()

    // 7. skew-resistant salted aggregation over the events table
    val ev = graft.queries.Q.table(spark, "/root/testdata/sf0.001", "events")
    val salted = graft.operators.SaltedAgg.aggregate(
      ev.select(col("event_type"), col("user_id")), Seq("event_type"), 8,
      graft.operators.SaltedAgg.countAll(), graft.operators.SaltedAgg.maxLong("user_id"))
    println("[pipe] salted aggregation per event_type (expect 5 rows, plausible counts):")
    salted.orderBy("event_type").show()

    // 8. skew-resistant salted join: events (skewed) x event-type dim
    import spark.implicits._
    val typeDim = Seq(("click", 1L), ("view", 2L), ("purchase", 3L), ("signup", 4L), ("error", 5L))
      .toDF("event_type", "type_id")
    val sj = graft.operators.SaltedJoin.join(ev, typeDim, Seq("event_type"), 8)
    println(s"[pipe] salted join rows (expect ${ev.count()}): ${sj.count()}")

    // 9. near-dup detection with a df-capped shingle join
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val pairs = graft.operators.NearDup.jaccardPairs(
      docs, "doc_id", "text", minJaccard = 0.25, dfCap = 100L)
    println(s"[pipe] near-dup pairs at J>=0.25 (expect a handful): ${pairs.count()}")

    // 10. trained IVF ANN: k-means centroids + multi-probe search
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val centroids = graft.operators.IvfIndex.train(emb, "vec_id", "embedding", k = 8, iters = 2)
      .map(_.toSeq).toSeq
    val ann = graft.operators.IvfIndex.searchTopK(
      emb, emb.where(col("vec_id") < 2), "vec_id", "embedding", centroids, nprobe = 2, k = 3)
    println("[pipe] trained-IVF top-3 per query (expect 6 rows, scores <= 1):")
    ann.orderBy("qid", "rn").show()

    // 11. migrate a reference-format matdb database into a graft table
    val mdir = Files.createTempDirectory("pipe-matdb").toString
    graft.ingest.MatdbFormat.writeDatabase(
      Seq((1L, 1L, 10L), (2L, 1L, 20L)).toDF("time", "sensor_id", "value"),
      mdir, MatSchema(Seq(Dimension("time", 50), Dimension("sensor_id", 10)),
        Seq(ValueCol("value"))))
    val migrated = graft.ingest.MatdbFormat.migrate(
      spark, mdir, Files.createTempDirectory("pipe-migrated").toString)
    println(s"[pipe] migrated matdb-format rows (expect 2): ${migrated.snapshot().count()}")

    // 12. exactly-once txn-aligned stream over the streamed table
    val seen = scala.collection.concurrent.TrieMap[Long, Long]()
    val q2 = spark.readStream.format("graft-stream")
      .option("maxTxnsPerBatch", "1").load(sdbPath)
      .writeStream
      .option("checkpointLocation", Files.createTempDirectory("pipe-ckpt2").toString)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, bid: Long) =>
        seen(bid) = df.count()
      }.start()
    q2.processAllAvailable(); q2.stop()
    println(s"[pipe] graft-stream: ${seen.size} txn-aligned batches, " +
      s"${seen.values.sum} rows (expect 2 batches, 3 rows)")

    spark.stop()
    println("[pipe] done")
  }
}
