package graft.perfbench

import java.nio.file.Path

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.core.{Dimension, MatDb, MatSchema, ValueCol}

/** `read_mix`: the read path over a table built during set-up.
  *
  * A manifest-protocol table keyed (sensor, t): one full version of every
  * key, then further commits that rewrite a share of the keys and tombstone
  * a few, so about ten segments are visible; and a small sensor dimension
  * table, far below the broadcast threshold. Both sit under one
  * GraftCatalog root. Each operation is one round of eight queries, one of
  * each type, with key ranges rotating through a small pool; each result's
  * (count, hash) must equal the reference computed with plain Spark over
  * the same in-memory inputs, once per query type and pool slot.
  */
final class ReadMix(ctx: Ctx) extends Workload {
  import ReadMix._
  private val spark = ctx.spark
  private val seed = ctx.seed
  private val shape = if (ctx.smoke) Shape.smoke else Shape.default
  import shape._

  private var db: MatDb = _
  private var catalogRoot: Path = _
  private var txns: IndexedSeq[Long] = IndexedSeq.empty // txn id of version k (1-based)
  private var versions: IndexedSeq[DataFrame] = IndexedSeq.empty
  private var sensorsDf: DataFrame = _
  private var states: Map[Int, DataFrame] = Map.empty // oracle states by version
  private var refs: Map[(String, Int), Digest] = Map.empty
  private var filesVisible = 0L
  private var round = 0

  val schema: MatSchema = MatSchema(
    Seq(Dimension("sensor", SensorChunk), Dimension("t", TChunk)),
    Seq(ValueCol("temp", DoubleType), ValueCol("hum", DoubleType), ValueCol("status", LongType)))
  val dimSchema: MatSchema = MatSchema(Seq(Dimension("sensor", 1L << 20)),
    Seq(ValueCol("site", LongType), ValueCol("kind", LongType)))

  def opKind = "round"

  private def h(parts: Column*): Column = xxhash64((lit(seed) +: parts): _*)

  /** Version k of the inputs: k = 1 writes every key; later versions
    * rewrite about RewritePct% of keys and tombstone about DeletePct%. */
  def inputs(dir: Path): Unit = {
    val keys = spark.range(0L, Sensors.toLong * Steps, 1, Main.cores).toDF("id")
      .select((col("id") / Steps).cast(LongType).as("sensor"), (col("id") % Steps).as("t"))
    versions = (1 to Versions).map { k =>
      val pick = pmod(h(lit(k), col("sensor"), col("t"), lit(0)), lit(100L))
      val rows = if (k == 1) keys.withColumn("del", lit(false))
        else keys.where(pick < RewritePct + DeletePct).withColumn("del", pick >= RewritePct)
      def v(i: Int, scale: Double) =
        (pmod(h(lit(k), col("sensor"), col("t"), lit(i)), lit(100000L)) / scale).cast(DoubleType)
      rows.select(lit(k).as("ver"), col("sensor"), col("t"), col("del"),
        v(1, 100.0).as("temp"), v(2, 1000.0).as("hum"),
        pmod(h(lit(k), col("sensor"), col("t"), lit(3)), lit(16L)).as("status"))
        .cache()
    }
    sensorsDf = spark.range(0L, Sensors.toLong, 1, 1).toDF("sensor")
      .select(col("sensor"), (col("sensor") % 7).as("site"), (col("sensor") % 3).as("kind")).cache()
    (versions :+ sensorsDf).foreach(_.count())
  }

  def setup(dir: Path): Unit = {
    catalogRoot = dir.resolve("catalog")
    val dim = MatDb.create(spark, dimSchema, catalogRoot.resolve("sensors").toString, "manifest")
    val dtx = dim.newTransaction(); dtx.addRows(sensorsDf); dtx.commit()
    db = MatDb.create(spark, schema, catalogRoot.resolve("readings").toString, "manifest")
    txns = versions.map { v =>
      val tx = db.newTransaction()
      tx.addRows(v.where(!col("del")))
      tx.deleteRows(v.where(col("del")))
      tx.commit()
      tx.id.get
    }
  }

  /** Newest-wins state of the inputs as of version k, in plain Spark. */
  private def state(k: Int): DataFrame = {
    val last = versions.take(k).reduce(_ unionByName _).groupBy("sensor", "t")
      .agg(max_by(struct(col("del"), col("temp"), col("hum"), col("status")), col("ver")).as("r"))
    last.where(!col("r.del"))
      .select(col("sensor"), col("t"), col("r.temp"), col("r.hum"), col("r.status"))
  }

  // query parameters of pool slot p: a key, a sensor range and a time range
  private def keyOf(p: Int) = (Hash.mod(seed, p, 1, Sensors), Hash.mod(seed, p, 2, Steps))
  private def sensorsOf(p: Int) = { val s0 = Hash.mod(seed, p, 3, Sensors - RangeSensors); (s0, s0 + RangeSensors - 1) }
  private def stepsOf(p: Int) = { val t0 = Hash.mod(seed, p, 4, Steps - RangeSteps); (t0, t0 + RangeSteps - 1) }
  private def inBox(p: Int): Column = {
    val (s0, s1) = sensorsOf(p); val (t0, t1) = stepsOf(p)
    col("sensor").between(s0, s1) && col("t").between(t0, t1)
  }
  private def point(p: Int): Column = { val (s, t) = keyOf(p); col("sensor") === s && col("t") === t }
  private val AsOf = Versions / 2
  private val ChangesTo = math.min(Versions, AsOf + 4)

  private def joinSql(readings: String, sensors: String, p: Int) = {
    val (t0, t1) = stepsOf(p)
    s"""SELECT s.site, count(*) AS n, sum(r.status) AS st, max(r.temp) AS mt
       |FROM $readings r JOIN $sensors s ON r.sensor = s.sensor
       |WHERE r.t BETWEEN $t0 AND $t1 GROUP BY s.site""".stripMargin
  }
  private def versionSql(table: String, version: String, p: Int) = {
    val (s0, s1) = sensorsOf(p)
    s"""SELECT count(*) AS n, sum(status) AS st, max(temp) AS mt FROM $table $version
       |WHERE sensor BETWEEN $s0 AND $s1""".stripMargin
  }

  /** Oracle states, then one untimed warm-up round: the window measures
    * rounds of a session that has run each query shape before, as a
    * long-lived reader's session has. */
  override def prepare(): Unit = {
    spark.conf.set(s"spark.sql.catalog.$Catalog", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$Catalog.root", catalogRoot.toString)
    filesVisible = PlanFiles.count(db.root)
    states = Seq(Versions, AsOf, ChangesTo).map(k => k -> state(k).cache()).toMap
    states(Versions).createOrReplaceTempView("pb_cur")
    states(ChangesTo).createOrReplaceTempView("pb_to")
    sensorsDf.createOrReplaceTempView("pb_sensors")
    op()
  }

  /** The plain-Spark reference of one query type and pool slot, computed
    * the first time it is needed (outside the timed window) and kept. */
  private def reference(kind: String, p: Int): Digest = refs.getOrElse((kind, p), {
    val cur = states(Versions)
    val cols = Seq("sensor", "t", "temp", "hum", "status").map(col)
    def changes = {
      val j = states(AsOf).as("o").join(states(ChangesTo).as("n"), Seq("sensor", "t"), "full_outer")
      val oldLive = col("o.temp").isNotNull || col("o.status").isNotNull
      val newLive = col("n.temp").isNotNull || col("n.status").isNotNull
      val diff = Seq("temp", "hum", "status").map(c => !(col(s"o.$c") <=> col(s"n.$c"))).reduce(_ || _)
      j.select(when(!oldLive && newLive, "I").when(oldLive && !newLive, "D")
        .when(oldLive && newLive && diff, "U").as("op"),
        col("sensor"), col("t"), col("n.temp"), col("n.hum"), col("n.status"))
        .where(col("op").isNotNull)
    }
    val d = ctx.untimed(RowHash.of(kind match {
      case "point" => cur.where(point(p)).select(cols: _*)
      case "range" => cur.where(inBox(p)).select(cols: _*)
      case "full" => cur.agg(count(lit(1)))
      case "ordered" => cur.select(cols: _*)
      case "asof" => states(AsOf).where(inBox(p)).select(cols: _*)
      case "changes" => changes
      case "sql_join" => spark.sql(joinSql("pb_cur", "pb_sensors", p))
      case "sql_version" => spark.sql(versionSql("pb_to", "", p))
    }))
    refs += (kind, p) -> d
    d
  })

  def op(): Unit = {
    val p = round % Pool
    round += 1
    val cols = schema.columnNames.map(col)
    def check(kind: String, slot: Int, out: Query.Out): Unit =
      Oracle.check(s"read_mix $kind (pool slot $slot)", out.digest, reference(kind, slot))
    def snapshot() = ctx.span("core.db.snapshot")(db.snapshot())
    ctx.time("round") {
      // files visible to a lookup, recorded on its span for the prune ratio
      def visible(df: DataFrame): Unit = ctx.attr("files_visible", filesVisible.toDouble)
      ctx.time("lookup")(check("point", p, Query.run(ctx, "core.scan.point", observe = visible)(
        snapshot().where(point(p)).select(cols: _*))))
      ctx.time("lookup")(check("range", p, Query.run(ctx, "core.scan.range", observe = visible)(
        snapshot().where(inBox(p)).select(cols: _*))))
      check("full", 0, Query.run(ctx, "core.scan.full")(snapshot().agg(count(lit(1)))))
      val ordered = Query.run(ctx, "core.scan.ordered", orderedKeys = 2)(
        db.orderedScan().select(cols: _*))
      check("ordered", 0, ordered)
      if (!ordered.sorted) throw new OracleMismatch("read_mix ordered: rows not in key order")
      check("asof", p, Query.run(ctx, "core.scan.asof")(
        db.asOf(txns(AsOf - 1)).where(inBox(p)).select(cols: _*)))
      check("changes", 0, Query.run(ctx, "core.scan.changes")(
        db.changesBetween(txns(AsOf - 1), txns(ChangesTo - 1))))
      check("sql_join", p, Query.run(ctx, "sources.catalog.sql_join")(spark.sql(joinSql(s"$Catalog.readings", s"$Catalog.sensors", p))))
      check("sql_version", p, Query.run(ctx, "sources.catalog.sql_version")(
        spark.sql(versionSql(s"$Catalog.readings", s"VERSION AS OF ${txns(ChangesTo - 1)}", p))))
    }
    ctx.gauges("visible_segments") = db.committedSegments.size.toDouble
  }

  override def releaseHarnessMemory(): Unit =
    (states.values.toSeq ++ versions :+ sensorsDf).foreach(_.unpersist(blocking = true))

  def verify(): Unit = () // every query was checked as it ran

  def details(windowS: Double): Seq[Metric] = {
    val lookups = ctx.sample("lookup")
    val tail = Stats.tail(lookups)
    Seq(Metric("read_round_p50_s", Stats.median(ctx.sample("round")), "s"),
      Metric("lookup_p50_s", Stats.median(lookups), "s"),
      Metric("lookup_tail_s", tail.map(_._2).getOrElse(Double.NaN), "s"),
      Metric("lookup_tail_percentile", tail.map(_._1.toDouble).getOrElse(Double.NaN), "pct"),
      Metric("lookup_samples", lookups.size.toDouble, "count"),
      Metric("visible_segments", db.committedSegments.size.toDouble, "count"),
      Metric("table_bytes", PlanFiles.bytes(db.root).toDouble, "bytes"))
  }
}

object ReadMix {
  val Catalog = "pb"
  val Versions = 10
  val RewritePct = 4L
  val DeletePct = 1L
  val Pool = 3

  final case class Shape(Sensors: Int, Steps: Int) {
    val SensorChunk: Long = math.max(1, Sensors / 4).toLong
    val TChunk: Long = math.max(1, Steps / 4).toLong
    val RangeSensors: Int = math.max(1, Sensors / 50)
    val RangeSteps: Int = math.max(1, Steps / 20)
  }
  object Shape {
    val default: Shape = Shape(Sensors = 200, Steps = 500)
    val smoke: Shape = Shape(Sensors = 50, Steps = 100)
  }
}

/** Seeded query parameters, drawn in the harness's own process. */
object Hash {
  def mod(seed: Long, a: Long, b: Long, n: Int): Long = {
    var x = seed * 0x9E3779B97F4A7C15L + a * 0xC2B2AE3D27D4EB4FL + b * 0x165667B19E3779F9L
    x ^= x >>> 33; x *= 0xff51afd7ed558ccdL; x ^= x >>> 33; x *= 0xc4ceb9fe1a85ec53L; x ^= x >>> 33
    java.lang.Math.floorMod(x, n.toLong)
  }
}
