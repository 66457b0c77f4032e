package graft.tools

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.core.{Dimension, MatDb, MatSchema, ValueCol}

/** Core-engine scale probe: write N million rows through the transaction
  * path (multiple flushes), then measure resolved scans, pruned scans, and
  * compaction — the table-format analog of the reference's only timed
  * workloads (tests/matdb.rs, sensor-log ingest).
  * Usage: runMain graft.tools.ScaleProbe [millions=5] */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val millions = args.headOption.map(_.toInt).getOrElse(5)
    val n = millions * 1000000L
    val spark = graft.GraftSession()

    val path = Files.createTempDirectory("graft-scale").toString
    // time chunk = 1 day of millis, 1000 sensors chunked by 100
    val schema = MatSchema(
      Seq(Dimension("time", 86400000L), Dimension("sensor_id", 100L)),
      Seq(ValueCol("value")))
    val db = MatDb.create(spark, schema, path)

    def timed[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"[scale] $label%-34s ${(System.nanoTime() - t0) / 1e9}%8.2f s"); r
    }

    // ~n rows over 30 days x 1000 sensors; 3 batches with a flush each
    val rows = spark.range(n).select(
      ((col("id") * 2654435761L) % (30L * 86400000L)).as("time"),
      (col("id") % 1000).as("sensor_id"),
      col("id").as("value"))
    val txn = db.newTransaction()
    timed(s"insert+flush+commit ${millions}M rows") {
      txn.addRows(rows)
      txn.commit()
    }
    val t2 = db.newTransaction()
    timed("upsert 1M overlapping rows") {
      t2.addRows(rows.limit(1000000))
      t2.commit()
    }

    timed("full resolved scan (count)")(println(s"[scale]   rows=${db.snapshot().count()}"))
    timed("pruned scan: 1 of 30 days") {
      println(s"[scale]   rows=${db.snapshot().where(col("time") >= 0 && col("time") < 86400000L).count()}")
    }
    timed("agg over resolved scan") {
      db.snapshot().groupBy(col("sensor_id")).agg(sum(col("value"))).count()
    }
    timed("ordered scan (single-exchange)") {
      println(s"[scale]   rows=${db.orderedScan().count()}")
    }
    timed("compact()")(db.compact())
    timed("full resolved scan post-compact")(println(s"[scale]   rows=${db.snapshot().count()}"))
    timed("pruned scan post-compact") {
      println(s"[scale]   rows=${db.snapshot().where(col("time") >= 0 && col("time") < 86400000L).count()}")
    }
    spark.stop()
  }
}
