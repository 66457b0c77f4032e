package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DecimalType, FloatType, LongType}

import graft.core.{Dimension, MatDb, MatSchema, ValueCol}

/** Phase-level wall-clock breakdown of the two commit-bound maintenance
  * scenarios (q123 multi-view, q139 streaming index maintenance) so the
  * optimization work attacks the real term, not the assumed one. Not a
  * gate — a diagnostic. Usage:
  * SPARK_GRAFT_SF_DIR=... runMain graft.tools.MaintProfile */
object MaintProfile {
  private val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
  private val tasks = new java.util.concurrent.atomic.AtomicInteger(0)
  private def listen(spark: SparkSession): Unit =
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
      override def onStageCompleted(
          s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        tasks.addAndGet(s.stageInfo.numTasks); ()
      }
    })

  private def t[A](label: String)(f: => A): A = {
    val s = System.nanoTime(); val j0 = jobs.get(); val t0 = tasks.get()
    val r = f
    println(f"[maintprof] $label%-28s ${(System.nanoTime() - s) / 1e9}%.2f s  " +
      f"jobs=${jobs.get() - j0}%3d tasks=${tasks.get() - t0}%5d")
    r
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession()
    listen(spark)

    // ---- q123 shape: 3 base txns, 2 views, streaming maintenance ----------
    locally {
      val root = java.nio.file.Files.createTempDirectory("graft-mprof-mv")
      val dec = DecimalType(18, 4)
      val basePath = root.resolve("base").toString
      val base = t("mv: create tables") {
        MatDb.create(spark, MatSchema(Seq(Dimension("event_id", 100)),
          Seq(ValueCol("grp", LongType), ValueCol("src", LongType), ValueCol("v", dec))),
          basePath)
      }
      val viewA = MatDb.create(spark, MatSchema(Seq(Dimension("grp", 1000)),
        Seq(ValueCol("sum_v", dec), ValueCol("cnt", LongType))),
        root.resolve("va").toString)
      val viewB = MatDb.create(spark, MatSchema(Seq(Dimension("src", 10)),
        Seq(ValueCol("min_v", dec), ValueCol("max_v", dec), ValueCol("cnt", LongType))),
        root.resolve("vb").toString)
      val e = spark.read.parquet(s"$sfDir/events.parquet")
      def rows(df: org.apache.spark.sql.DataFrame) = df.select(col("event_id"),
        col("user_id").as("grp"), (col("user_id") % 10).as("src"),
        col("value").cast(dec).as("v"))
      t("mv: base txn1 (bulk)") {
        val t1 = base.newTransaction()
        t1.addRows(rows(e.where(col("event_id") < 600))); t1.commit()
      }
      t("mv: base txn2 (upsert)") {
        val t2 = base.newTransaction()
        t2.addRows(rows(e.where(col("event_id") < 150))
          .withColumn("v", (col("v") + lit(5.0)).cast(dec)))
        t2.commit()
      }
      t("mv: base txn3 (delete)") {
        val t3 = base.newTransaction()
        t3.deleteRows(e.where(col("event_id").between(300, 379)).select(col("event_id")))
        t3.commit()
      }
      // direct drive first (fresh views A2/B2): isolates maintenance work
      // from streaming-engine overhead
      val viewA2 = MatDb.create(spark, MatSchema(Seq(Dimension("grp", 1000)),
        Seq(ValueCol("sum_v", dec), ValueCol("cnt", LongType))),
        root.resolve("va2").toString)
      val viewB2 = MatDb.create(spark, MatSchema(Seq(Dimension("src", 10)),
        Seq(ValueCol("min_v", dec), ValueCol("max_v", dec), ValueCol("cnt", LongType))),
        root.resolve("vb2").toString)
      (1L to 3L).foreach { txn =>
        val delta = t(s"mv: changesBetween($txn)") {
          val d = base.changesBetween(txn - 1, txn, includeOld = true).persist()
          d.count(); d
        }
        t(s"mv: maintain A txn$txn") {
          graft.operators.IncrementalAgg.maintainAbsoluteMultiKeys(
            base, viewA2, txn - 1, txn, Seq("grp"), Some(delta))
        }
        t(s"mv: maintain B txn$txn") {
          graft.operators.IncrementalAgg.maintainAbsoluteMultiKeys(
            base, viewB2, txn - 1, txn, Seq("src"), Some(delta))
        }
        delta.unpersist()
      }
      t("mv: stream 3 batches") {
        val q = graft.streaming.Streams.viewMaintSink(
          spark.readStream.format("graft-stream").option("maxTxnsPerBatch", "1")
            .load(basePath),
          basePath, Seq(viewA -> "grp", viewB -> "src"),
          root.resolve("ckpt").toString).start()
        try q.processAllAvailable() finally q.stop()
      }
      t("mv: final read") {
        viewA.snapshot().count(); viewB.snapshot().count(); ()
      }
    }

    // ---- q139 shape: IVF train + 3 base txns + streaming index maint ------
    locally {
      graft.functions.VectorOps.register(spark)
      val root = java.nio.file.Files.createTempDirectory("graft-mprof-ix")
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select(col("vec_id"), col("embedding"))
      val trained = t("ix: kmeans train") {
        graft.operators.IvfIndex.train(emb.where(col("vec_id") % 3 === 0),
          "vec_id", "embedding", k = 8, iters = 2).map(_.toSeq).toSeq
      }
      val idx = root.resolve("index").toString
      t("ix: writeIndex (empty)") {
        graft.operators.IvfIndex.writeIndex(emb.limit(0), "vec_id", "embedding",
          trained, idx)
      }
      val basePath = root.resolve("base").toString
      val base = MatDb.create(spark, MatSchema(Seq(Dimension("vec_id", 1000)),
        Seq(ValueCol("embedding", ArrayType(FloatType)))), basePath)
      t("ix: base txn1 (bulk)") {
        val t1 = base.newTransaction(); t1.addRows(emb); t1.commit()
      }
      t("ix: base txn2 (upsert)") {
        val t2 = base.newTransaction()
        t2.addRows(emb.where(col("vec_id") % 7 === 1)
          .select(col("vec_id"), expr("transform(embedding, x -> -x)").as("embedding")))
        t2.commit()
      }
      t("ix: base txn3 (delete)") {
        val t3 = base.newTransaction()
        t3.deleteRows(emb.where(col("vec_id") % 11 === 3 && col("vec_id") % 7 =!= 1)
          .select(col("vec_id")))
        t3.commit()
      }
      // direct drive first (fresh index copy): isolates the fold work from
      // streaming-engine overhead
      val idx2 = root.resolve("index2").toString
      graft.operators.IvfIndex.writeIndex(emb.limit(0), "vec_id", "embedding",
        trained, idx2)
      (1L to 3L).foreach { txn =>
        val delta = t(s"ix: changesBetween($txn)") {
          val d = base.changesBetween(txn - 1, txn).persist(); d.count(); d
        }
        t(s"ix: maintainIndex txn$txn") {
          val ups = delta.where(col("op").isin("I", "U") && col("embedding").isNotNull)
            .select(col("vec_id"), col("embedding"))
          val dels = delta.where(col("op") === "D" ||
              (col("op").isin("I", "U") && col("embedding").isNull))
            .select(col("vec_id"))
          graft.operators.IvfIndex.maintainIndex(spark, idx2, "vec_id", ups, dels,
            Some(trained))
        }
        delta.unpersist()
      }
      t("ix: stream 3 batches") {
        val q = graft.streaming.Streams.indexMaintSink(
          spark.readStream.format("graft-stream").option("maxTxnsPerBatch", "1")
            .load(basePath),
          basePath, idx, "embedding", root.resolve("ckpt").toString).start()
        try q.processAllAvailable() finally q.stop()
      }
      t("ix: searchIndex") {
        base.refresh()
        val postQ = base.snapshot().where(col("vec_id") < 3)
        graft.operators.IvfIndex.searchIndex(spark, idx, postQ, "vec_id", "embedding",
          nprobe = 2, k = 5).collect()
        ()
      }
    }
    // ---- q140 shape: IVF-PQ train + write + maintain + search -------------
    locally {
      graft.functions.VectorOps.register(spark)
      val root = java.nio.file.Files.createTempDirectory("graft-mprof-pq")
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val cent = t("pq: ivf train") {
        graft.operators.IvfIndex.train(emb.where(col("vec_id") % 3 === 0),
          "vec_id", "embedding", k = 8, iters = 2).map(_.toSeq).toSeq
      }
      val cb = t("pq: pq train") {
        graft.operators.PqIndex.train(emb.where(col("vec_id") % 3 === 1),
          "vec_id", "embedding", m = 8, k = 16, iters = 2)
      }
      val idx = root.resolve("index").toString
      t("pq: writeIvfPq (full corpus)") {
        graft.operators.PqIndex.writeIvfPq(emb, "vec_id", "embedding", cent, cb, idx)
      }
      val upserts = emb.where(col("vec_id") % 7 === 1)
        .select(col("vec_id"), expr("transform(embedding, x -> -x)").as("embedding"))
      val deletes = emb.where(col("vec_id") % 11 === 3 && col("vec_id") % 7 =!= 1)
        .select(col("vec_id"))
      t("pq: maintainIvfPq") {
        graft.operators.PqIndex.maintainIvfPq(spark, idx, "vec_id", upserts, deletes)
      }
      val post = emb.where(!(col("vec_id") % 11 === 3 && col("vec_id") % 7 =!= 1))
        .select(col("vec_id"), when(col("vec_id") % 7 === 1,
          expr("transform(embedding, x -> -x)")).otherwise(col("embedding")).as("embedding"))
      t("pq: searchIvfPq") {
        graft.operators.PqIndex.searchIvfPq(spark, idx, post,
          post.where(col("vec_id") < 3), "vec_id", "embedding",
          nprobe = 2, k = 5, shortlist = 10).collect()
        ()
      }
    }
    spark.stop()
  }
}
