package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Dimension, MatDb, MatSchema, ValueCol}
import graft.ingest.Ingest

/** Sensor-log example parity (reference: examples/sensor-log.rs commands
  * `load`, `list`, `count`): ingest TSV/gz sensor logs into a graft table
  * with a dictionary-encoded sensor dimension.
  *
  * The (component, sensor, kind) -> id dictionary is itself a graft table
  * at `<db>/_dict` — dogfooding string VALUE columns (the reference
  * persists a side sensors.json, sensor-log.rs:27-105, and its engine
  * could not store strings at all).
  *
  * Re-loading the same file is idempotent: same keys upsert to the same
  * values (the reference's integration test relies on the same property).
  *
  * Usage:
  *   runMain graft.tools.SensorLogCli load    <dbDir> <glob>
  *   runMain graft.tools.SensorLogCli list    <dbDir> [limit]
  *   runMain graft.tools.SensorLogCli count   <dbDir>
  *   runMain graft.tools.SensorLogCli migrate <matdbDir> <dbDir>
  *
  * `migrate` opens a database written by the reference Rust binary itself
  * (its segment format, via [[graft.ingest.MatdbFormat]]) and lands it as
  * a graft table — the switch-over path for an existing matdb user.
  */
object SensorLogCli {

  val mainSchema: MatSchema = MatSchema(
    Seq(Dimension("time", 86400000L), Dimension("sensor_id", 1024L)),
    Seq(ValueCol("value")))

  val dictSchema: MatSchema = MatSchema(
    Seq(Dimension("id", 4096L)),
    Seq(
      ValueCol("component", org.apache.spark.sql.types.StringType),
      ValueCol("sensor", org.apache.spark.sql.types.StringType),
      ValueCol("kind", org.apache.spark.sql.types.StringType)))

  private val dictKeys = Seq("component", "sensor", "kind")

  def load(spark: SparkSession, dbDir: String, glob: String): (Long, Long) = {
    val db = MatDb.createOrOpen(spark, mainSchema, dbDir)
    val dictDb = MatDb.createOrOpen(spark, dictSchema, s"$dbDir/_dict")

    val parsed = Ingest.parseSensorLog(Ingest.readSensorLog(spark, glob))
    val existing = dictDb.snapshot()
      .select((dictKeys.map(col) :+ col("id")): _*)
    val dict = Ingest.dictionaryGetOrCreate(existing, parsed, dictKeys)

    // persist only the new dictionary entries (append txn on the dict table)
    val newEntries = dict.join(existing.select("id"), Seq("id"), "left_anti")
    val dictTxn = dictDb.newTransaction()
    dictTxn.addRows(newEntries.select((col("id") +: dictKeys.map(col)): _*))
    dictTxn.commit()

    val encoded = Ingest.encodeWithDictionary(parsed, dict, dictKeys)
      .select(col("time"), col("id").as("sensor_id"), col("value"))
    val txn = db.newTransaction()
    txn.addRows(encoded)
    txn.commit()
    (db.snapshot().count(), dictDb.snapshot().count())
  }

  /** Decoded, key-ordered listing (the reference's `list`). Ordering goes
    * AFTER the decode join — Spark does not preserve sort order through a
    * join, so ordering first would silently shuffle away. */
  def list(spark: SparkSession, dbDir: String): DataFrame = {
    val db = MatDb.open(spark, dbDir)
    val dictDb = MatDb.open(spark, s"$dbDir/_dict")
    db.snapshot()
      .join(broadcast(dictDb.snapshot()), col("sensor_id") === col("id"), "left")
      .select(col("time"), col("sensor_id"), col("component"), col("sensor"), col("kind"), col("value"))
      .orderBy(col("time"), col("sensor_id"))
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession()
    args.toList match {
      case "load" :: dbDir :: glob :: Nil =>
        val t0 = System.nanoTime()
        val (rows, sensors) = load(spark, dbDir, glob)
        println(f"[sensor-log] loaded: $rows rows, $sensors sensors, " +
          f"${(System.nanoTime() - t0) / 1e9}%.2f s")
      case "list" :: dbDir :: rest =>
        list(spark, dbDir).show(rest.headOption.map(_.toInt).getOrElse(20), truncate = false)
      case "count" :: dbDir :: Nil =>
        println(s"[sensor-log] count: ${MatDb.open(spark, dbDir).snapshot().count()}")
      case "migrate" :: matdbDir :: dbDir :: Nil =>
        val t0 = System.nanoTime()
        val db = graft.ingest.MatdbFormat.migrate(spark, matdbDir, dbDir)
        println(f"[sensor-log] migrated: ${db.snapshot().count()} rows, " +
          f"${(System.nanoTime() - t0) / 1e9}%.2f s")
      case other =>
        System.err.println(s"usage: load <db> <glob> | list <db> [n] | count <db>; got: $other")
    }
    spark.stop()
  }
}
