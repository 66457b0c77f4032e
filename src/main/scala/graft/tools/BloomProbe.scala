package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

import graft.core.{Dimension, MatDb, MatSchema, Storage, ValueCol}

/** Evidence for round-13 bloom-filter point-lookup skipping
  * (`graft.bloom.columns`, Storage.parquetWriteOptions): needle lookups on
  * a high-cardinality VALUE column have no skip index — values are
  * unsorted within a chunk, so every row group's min/max covers the whole
  * domain and a `fp = ?` lookup decodes the entire table. With per-column
  * parquet blooms written at segment-write time, row groups that provably
  * lack the needle are skipped at the footer.
  *
  * The probe builds the SAME table twice (bloom on/off), optimizes both
  * (the unique-baseline path pushes value predicates into parquet), and
  * measures a needle lookup: rows decoded by the scan (numOutputRows of
  * the leaves — the row groups that survived skipping) and wall time,
  * min of 5.
  *
  * Usage: runMain graft.tools.BloomProbe [rows]
  * → one JSON line + bench/bloom_probe.json. */
object BloomProbe {

  def main(args: Array[String]): Unit = {
    val rows = args.lift(0).map(_.toLong).getOrElse(5000000L)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def build(bloom: Boolean): MatDb = {
      val root = java.nio.file.Files.createTempDirectory(
        s"graft-bloom-probe-$bloom")
      val sch = MatSchema(Seq(Dimension("k", rows + 1)),
        Seq(ValueCol("fp"),
          ValueCol("payload", org.apache.spark.sql.types.StringType)))
      val db = MatDb.create(spark, sch, root.toString)
      // 4 MB row groups on BOTH tables: the skip unit. (A 100 TB table has
      // thousands of default-size row groups per chunk; the smaller groups
      // model that granularity at probe scale without changing what is
      // measured — the control still decodes every group.)
      Storage.writeProps(root,
        Map("parquet.block.size" -> "4194304") ++
          (if (bloom) Map("graft.bloom.columns" -> "fp")
          else Map.empty))
      val t = db.newTransaction()
      // 64 hex chars of incompressible payload: decode volume is realistic,
      // so skipped row groups show up in wall time, not just row counts
      t.addRows(spark.range(rows).select(col("id").as("k"),
        expr("xxhash64(id)").as("fp"),
        expr("concat(hex(xxhash64(id, 1)), hex(xxhash64(id, 2)), " +
          "hex(xxhash64(id, 3)), hex(xxhash64(id, 4)))").as("payload")))
      t.commit()
      db.optimize() // resolved baseline: value predicates reach parquet
      db
    }

    def scannedRows(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      def leaves(p: SparkPlan): Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
        case l if l.children.isEmpty && l.subqueries.isEmpty => Seq(l)
        case other => (other.children ++ other.subqueries).flatMap(leaves)
      }
      leaves(df.queryExecution.executedPlan)
        .flatMap(_.metrics.get("numOutputRows").map(_.value)).sum
    }

    val needle = spark.range(1)
      .select(expr(s"xxhash64(cast(${rows / 2} as bigint))")).head.getLong(0)
    def lookup(db: MatDb): (Double, Long) = {
      def once(): (Double, Long) = {
        val q = db.snapshot().where(col("fp") === needle)
        val t0 = System.nanoTime()
        val decoded = scannedRows(q)
        ((System.nanoTime() - t0) / 1e9, decoded)
      }
      once() // warm
      (1 to 5).map(_ => once()).minBy(_._1)
    }

    val plain = build(bloom = false)
    val bloomed = build(bloom = true)
    val (wallPlain, decodedPlain) = lookup(plain)
    val (wallBloom, decodedBloom) = lookup(bloomed)

    if (sys.env.contains("SPARK_GRAFT_BLOOM_DIAG")) {
      import scala.jdk.CollectionConverters._
      val file = java.nio.file.Files.walk(
          java.nio.file.Paths.get(bloomed.root.toString))
        .filter(_.toString.endsWith(".parquet")).findFirst().get()
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(file.toString),
          spark.sessionState.newHadoopConf()))
      val gs = reader.getRowGroups.asScala
      println(s"[diag] file=$file rowGroups=${gs.size} " +
        s"rowsPerGroup=${gs.map(_.getRowCount).take(5).mkString(",")}...")
      val fpChunks = gs.map(_.getColumns.asScala
        .find(_.getPath.toDotString == "fp").get)
      println(s"[diag] fp bloom offsets=${fpChunks.take(5).map(_.getBloomFilterOffset).mkString(",")} " +
        s"lengths=${fpChunks.take(5).map(_.getBloomFilterLength).mkString(",")}")
      reader.close()
      // same lookup with bloom reading disabled at scan time
      spark.sparkContext.hadoopConfiguration.set("parquet.filter.bloom.enabled", "false")
      val (w, d) = lookup(bloomed)
      println(f"[diag] bloom-read-disabled lookup: wall $w%.3f s, decoded $d")
      spark.sparkContext.hadoopConfiguration.unset("parquet.filter.bloom.enabled")
    }
    println(f"[probe] needle lookup over $rows rows: decoded " +
      f"$decodedPlain -> $decodedBloom rows, wall $wallPlain%.3f s -> $wallBloom%.3f s")
    require(decodedPlain > rows / 2,
      s"control must decode ~everything, saw $decodedPlain of $rows")
    require(decodedBloom * 10 <= decodedPlain,
      s"bloom must skip 10x+ of the decode: $decodedPlain -> $decodedBloom")

    val json =
      s"""{"metric":"bloom_probe","rows":$rows,
         |"decoded_rows_plain":$decodedPlain,"decoded_rows_bloom":$decodedBloom,
         |"lookup_sec_plain":$wallPlain,"lookup_sec_bloom":$wallBloom}"""
        .stripMargin.replace("\n", "")
    println(json)
    val out = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_REPO_ROOT", "."), "bench", "bloom_probe.json")
    java.nio.file.Files.write(out, json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    System.err.println(s"[probe] wrote $out")
    Storage.deleteRecursively(java.nio.file.Paths.get(plain.root.toString))
    Storage.deleteRecursively(java.nio.file.Paths.get(bloomed.root.toString))
    spark.stop()
  }
}
