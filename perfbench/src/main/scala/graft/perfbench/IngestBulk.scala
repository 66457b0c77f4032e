package graft.perfbench

import java.nio.file.Path

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.core.{Dimension, MatDb, MatSchema, ValueCol}

/** `ingest_bulk`: the large-batch write path of a matdb-style sensor log.
  *
  * A manifest-protocol table keyed (sensor, t) with four value columns.
  * Each batch holds the next time window for every sensor, about 10% late
  * overwrites scattered over all earlier history, and about 2% tombstones.
  * Batches are staged once as zstd parquet, one directory per batch, the
  * way matdb's sensor log lands them. Each operation commits one batch as
  * addRows + deleteRows, flush, commit (timed apart), then runs
  * checkpointIfNeeded. Late writes touch one chunk directory per (sensor
  * chunk, history window) they land in, so the late share sets how many
  * files a commit writes.
  */
final class IngestBulk(ctx: Ctx) extends Workload {
  import IngestBulk._
  private val spark = ctx.spark
  private val seed = ctx.seed
  private val shape = if (ctx.smoke) Shape.smoke else Shape.default
  import shape._

  private var stage: Path = _
  private var db: MatDb = _
  private var committed = 0 // batches 1..committed are in the table
  private var liveRows = 0L

  val schema: MatSchema = MatSchema(
    Seq(Dimension("sensor", SensorChunk), Dimension("t", Window)),
    Seq(ValueCol("temp", DoubleType), ValueCol("hum", DoubleType),
      ValueCol("pres", DoubleType), ValueCol("status", LongType)))

  def opKind = "commit"

  override def exhausted: Boolean = committed >= Batches

  def inputs(dir: Path): Unit = {
    stage = dir.resolve("stage")
    generate(spark.range(0L, History.toLong * Sensors * Window, 1, Main.cores).toDF("id"), seed, shape)
      .write.option("compression", "zstd").partitionBy("batch").parquet(stage.toString)
  }

  def setup(dir: Path): Unit = {
    db = MatDb.create(spark, schema, dir.resolve("readings").toString, "manifest")
    commit(0, Main0 * History, 0L)
    committed = 0
  }

  /** Commit staged batch `b`: addRows + deleteRows, flush, commit. */
  private def commit(b: Int, ups: Long, dels: Long): Unit = {
    val in = spark.read.parquet(stage.resolve(s"batch=$b").toString)
    val bytes = ups * RowBytes + dels * KeyBytes
    ctx.time("commit")(ctx.span("core.txn.commit") {
      ctx.attr("user_bytes", bytes)
      val tx = db.newTransaction()
      tx.addRows(in.where(col("op") === "U"))
      tx.deleteRows(in.where(col("op") === "D"))
      val before = if (ctx.trace.enabled) PlanFiles.count(db.root) else 0L
      ctx.span("core.txn.flush") {
        tx.flush()
        if (ctx.trace.enabled) ctx.attr("files_written", (PlanFiles.count(db.root) - before).toDouble)
      }
      ctx.span("core.txn.publish")(tx.commit())
    })
  }

  def op(): Unit = {
    commit(committed + 1, Main0 + Late, Tombs)
    committed += 1
    ctx.span("core.db.checkpoint") {
      val folded = db.checkpointIfNeeded(MaxSegments, RetainTxns)
      ctx.attr("folded", if (folded.isDefined) 1.0 else 0.0)
    }
  }

  def verify(): Unit = {
    val all = spark.read.parquet(stage.toString).where(col("batch") <= committed)
    val last = all.groupBy("sensor", "t").agg(
      max_by(struct(col("op"), col("temp"), col("hum"), col("pres"), col("status")),
        col("batch")).as("r"))
    val model = last.where(col("r.op") === "U")
      .select(col("sensor"), col("t"), col("r.temp"), col("r.hum"), col("r.pres"), col("r.status"))
    val want = RowHash.of(model)
    val got = RowHash.of(db.snapshot().select(schema.columnNames.map(col): _*))
    Oracle.check(s"ingest_bulk snapshot after $committed batches", got, want)
    liveRows = got.count
  }

  def details(windowS: Double): Seq[Metric] = {
    val commits = ctx.sample("commit")
    val tail = Stats.tail(commits)
    val stored = PlanFiles.bytes(db.root).toDouble
    Seq(Metric("ingest_rows_per_s", committed * PerBatch / windowS, "rows/s"),
      Metric("commit_p50_s", Stats.median(commits), "s"),
      Metric("commit_tail_s", tail.map(_._2).getOrElse(Double.NaN), "s"),
      Metric("commit_tail_percentile", tail.map(_._1.toDouble).getOrElse(Double.NaN), "pct"),
      Metric("commit_samples", commits.size.toDouble, "count"),
      Metric("stored_bytes_per_user_byte", stored / math.max(1L, liveRows) / RowBytes, "ratio"),
      Metric("visible_segments", db.committedSegments.size.toDouble, "count"))
  }
}

object IngestBulk {
  /** Bytes of one user row (six 8-byte columns) and of one tombstone key. */
  val RowBytes = 48.0
  val KeyBytes = 16.0
  val MaxSegments = 8
  val RetainTxns = 4

  final case class Shape(Sensors: Int, Window: Int, History: Int, Batches: Int) {
    val SensorChunk: Long = math.max(1, Sensors / 4).toLong
    val Main0: Long = Sensors.toLong * Window
    val Late: Long = Main0 / 8   // ~10% of the batch
    val Tombs: Long = Main0 / 40 // ~2% of the batch
    val PerBatch: Long = Main0 + Late + Tombs
  }
  object Shape {
    val default: Shape = Shape(Sensors = 400, Window = 128, History = 16, Batches = 24)
    val smoke: Shape = Shape(Sensors = 40, Window = 32, History = 4, Batches = 4)
  }

  private def h(seed: Long, parts: Column*): Column = xxhash64((lit(seed) +: parts): _*)

  /** History (batch 0) from `history` ids, then batches 1..Batches; every
    * column cast to the table's types. */
  def generate(history: DataFrame, seed: Long, s: Shape): DataFrame = {
    import s._
    val spark = history.sparkSession
    val hw = History.toLong * Window
    val hist = history.select(lit(0).as("batch"), (col("id") / hw).cast(LongType).as("sensor"),
      (col("id") % hw).as("t"), lit("U").as("op"))
    val ids = spark.range(0L, Batches * PerBatch, 1, Main.cores).toDF("id")
    val b = (col("id") / PerBatch).cast(LongType) + 1
    val j = col("id") % PerBatch
    val start = (lit(History.toLong) + b - 1) * Window // first t of batch b's window
    val late = j >= Main0 && j < Main0 + Late
    val tomb = j >= Main0 + Late
    val sensor = when(j < Main0, (j / Window).cast(LongType))
      .otherwise(pmod(h(seed, b, j, lit(1)), lit(Sensors.toLong)))
    val t = when(j < Main0, start + j % Window)
      .when(late, pmod(h(seed, b, j, lit(2)), (start / 10).cast(LongType)) * 10 +
        pmod(h(seed, b, j, lit(3)), lit(9L)))
      .otherwise(pmod(h(seed, b, j, lit(4)), ((start - 9) / 10).cast(LongType) + 1) * 10 + 9)
    val batches = ids.select(b.cast("int").as("batch"), sensor.as("sensor"), t.as("t"),
      when(tomb, "D").otherwise("U").as("op"))
    val keyed = hist.unionByName(batches)
    def v(k: Int, scale: Double) =
      (pmod(h(seed, col("batch"), col("sensor"), col("t"), lit(k)), lit(100000L)) / scale)
        .cast(DoubleType)
    keyed.select(col("batch"), col("sensor"), col("t"), v(5, 100.0).as("temp"),
      v(6, 1000.0).as("hum"), v(7, 10.0).as("pres"),
      pmod(h(seed, col("batch"), col("sensor"), col("t"), lit(8)), lit(8L)).as("status"),
      col("op"))
  }
}
