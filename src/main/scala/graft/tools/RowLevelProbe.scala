package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scale probe for the SQL row-level DML path ([[graft.sources.GraftRowLevel]]):
  * a catalog table far beyond the spec fixtures (1M keys across 1000 chunk
  * dirs by default), one statement UPDATE over 10% of the keyspace and one
  * MERGE whose source upserts 10% + inserts 5% new keys, then a correctness
  * fold and the physical layout of the delta segments.
  *
  * What to look at in the JSON line:
  *   - `update_sec` / `merge_sec` — wall for each statement (plan + ordered
  *     delta shuffle + parquet write + protocol publish);
  *   - `update_files`, `merge_files` vs `update_chunks`, `merge_chunks` —
  *     the ordered distribution should keep files ≈ touched chunk dirs
  *     (each task writes each chunk once, rolling on chunk change), NOT
  *     tasks × chunks;
  *   - `ok` — the post-DML table equals the relational replay computed
  *     directly over the seed data.
  */
object RowLevelProbe {

  private def dataFiles(dir: java.nio.file.Path): (Long, Long) = {
    val s = java.nio.file.Files.walk(dir)
    try {
      val files = new java.util.ArrayList[String]()
      s.filter(p => p.toString.endsWith(".parquet")).forEach(p => { files.add(p.toString); () })
      import scala.jdk.CollectionConverters._
      val fs = files.asScala
      (fs.size.toLong, fs.map(f => f.substring(0, f.lastIndexOf('/'))).distinct.size.toLong)
    } finally s.close()
  }

  def main(args: Array[String]): Unit = {
    val nKeys = args.lift(0).map(_.toLong).getOrElse(1000000L)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val root = java.nio.file.Files.createTempDirectory("graft-rowlevel-probe")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.catalog.grp", "graft.sources.GraftCatalog")
      .config("spark.sql.catalog.grp.root", root.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val chunk = 1000L
    spark.sql("CREATE TABLE grp.t (k BIGINT, v BIGINT, w DOUBLE) " +
      s"TBLPROPERTIES('graft.dims' = 'k:$chunk')")
    spark.sql(s"INSERT INTO grp.t SELECT id, id * 3, id * 0.5 FROM range(0, $nKeys)")

    def segDirs: Seq[java.nio.file.Path] = {
      val s = java.nio.file.Files.list(root.resolve("t"))
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(p =>
          graft.core.Storage.decode(p.getFileName.toString).isDefined).toSeq
      } finally s.close()
    }
    val preSegs = segDirs.toSet

    // UPDATE 10% of the keyspace (a contiguous 10% of the chunks)
    val t0 = System.nanoTime()
    spark.sql(s"UPDATE grp.t SET v = v + 1 WHERE k < ${nKeys / 10}")
    val updateSec = (System.nanoTime() - t0) / 1e9
    val updateSeg = (segDirs.toSet -- preSegs).head
    val (updFiles, updChunks) = dataFiles(updateSeg)

    // MERGE: upsert 10% (every 10th key) + insert 5% new keys above range
    val t1 = System.nanoTime()
    spark.sql(
      s"""MERGE INTO grp.t t
         |USING (SELECT id * 10 AS k, -id AS nv FROM range(0, ${nKeys / 10})
         |       UNION ALL
         |       SELECT $nKeys + id, -1 FROM range(0, ${nKeys / 20})) s
         |ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET v = s.nv
         |WHEN NOT MATCHED THEN INSERT (k, v, w) VALUES (s.k, s.nv, 0.0)""".stripMargin)
    val mergeSec = (System.nanoTime() - t1) / 1e9
    val mergeSeg = (segDirs.toSet -- preSegs - updateSeg).head
    val (mrgFiles, mrgChunks) = dataFiles(mergeSeg)

    // correctness fold vs the relational replay
    val replay = spark.range(nKeys).select(col("id").as("k"))
      .withColumn("v0", col("k") * 3)
      .withColumn("v1", when(col("k") < nKeys / 10, col("k") * 3 + 1).otherwise(col("v0")))
      .withColumn("v", when(col("k") % 10 === 0 && col("k") / 10 < nKeys / 10,
        -(col("k") / 10)).otherwise(col("v1")))
      .select(col("k"), col("v"))
      .unionByName(spark.range(nKeys / 20)
        .select((lit(nKeys) + col("id")).as("k"), lit(-1L).as("v")))
    val got = spark.sql("SELECT k, v FROM grp.t")
    val ok = got.count() == nKeys + nKeys / 20 &&
      got.exceptAll(replay).isEmpty && replay.exceptAll(got).isEmpty

    println(s"""{"metric":"rowlevel_probe","keys":$nKeys,""" +
      s""""update_sec":$updateSec,"update_files":$updFiles,"update_chunks":$updChunks,""" +
      s""""merge_sec":$mergeSec,"merge_files":$mrgFiles,"merge_chunks":$mrgChunks,""" +
      s""""ok":$ok}""")
    graft.core.Storage.deleteRecursively(root)
    spark.stop()
  }
}
