package graft.core

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.GraftCatalog

/** Every graft write path lays a segment out the same way: the same rows
  * written through a Transaction commit (with tombstones), catalog
  * `INSERT INTO`, `INSERT OVERWRITE` on a manifest and on a rename table,
  * `checkpoint`, `optimize` with z-order and SQL `UPDATE` produce parquet
  * files whose fields are exactly [[Scan.provenanceStruct]] (names, order,
  * types) in the same `_ck_*` chunk directories, and every DataFrame
  * segment write runs exactly one sort. */
class SegmentLayoutSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = TestSpark.spark

  private val schema = MatSchema(Seq(Dimension("a", 10), Dimension("b", 10)),
    Seq(ValueCol("v"), ValueCol("w", DoubleType)))

  private val rows: Seq[(Long, Long, Long, Double)] =
    (0L until 40L).map(i => (i, (i * 7) % 30, i, i / 4.0))

  // value types with primitive aggregation buffers: the MVCC resolve that
  // feeds checkpoint and optimize stays a hash aggregate, so the one sort
  // a write plan holds is the segment writer's
  private def frame(rs: Seq[(Long, Long, Long, Double)]): DataFrame = {
    val st = StructType(Seq(StructField("a", LongType), StructField("b", LongType),
      StructField("v", LongType), StructField("w", DoubleType)))
    spark.createDataFrame(spark.sparkContext.parallelize(
      rs.map { case (a, b, v, w) => Row(a, b, v, w) }, 3), st)
  }

  private lazy val root = {
    val dir = Files.createTempDirectory("graft-segment-layout-spec")
    spark.conf.set("spark.sql.catalog.gseg", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gseg.root", dir.toString)
    frame(rows).createOrReplaceTempView("seg_rows")
    frame(rows.take(5)).createOrReplaceTempView("seg_rows_head")
    dir
  }

  /** (output path, number of SortExec) of every V1 file write that ran. */
  private val writes = new java.util.concurrent.ConcurrentLinkedQueue[(Path, Int)]

  private def fileWrites(p: SparkPlan): Seq[(Path, Int)] =
    collect(p) { case d: DataWritingCommandExec => d }.flatMap(d => d.cmd match {
      case c: InsertIntoHadoopFsRelationCommand =>
        Seq(Paths.get(c.outputPath.toUri).normalize ->
          collect(d.child) { case s: SortExec => s }.size)
      case _ => Nil
    })

  private lazy val listener = {
    val l = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        fileWrites(qe.executedPlan).foreach(writes.add)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    l
  }

  private def segmentDirs(dir: Path): Set[Path] = {
    val proto = Protocol.at(dir)
    proto.listCommitted(dir).map(Storage.segmentPath(dir, _).normalize).toSet
  }

  /** The segment directories `write` committed to the table at `dir`. */
  private def newSegments(dir: Path)(write: => Unit): Set[Path] = {
    val before = segmentDirs(dir)
    write
    val added = segmentDirs(dir) -- before
    assert(added.nonEmpty, s"no segment committed under $dir")
    added
  }

  private def parquetFields(segDir: Path): Seq[Seq[(String, String)]] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sessionState.newHadoopConf()
    val converter = new org.apache.spark.sql.execution.datasources.parquet
      .ParquetToSparkSchemaConverter(spark.sessionState.conf)
    val files = Files.walk(segDir).iterator().asScala.toSeq
      .filter(_.getFileName.toString.endsWith(".parquet"))
    assert(files.nonEmpty, s"segment $segDir has no parquet file")
    files.map { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.toUri), conf))
      try converter.convert(reader.getFooter.getFileMetaData.getSchema)
        .fields.toSeq.map(fl => fl.name -> fl.dataType.simpleString)
      finally reader.close()
    }
  }

  /** A segment's identity: its table directory and decoded id. */
  private def segmentKey(p: Path) =
    (p.getParent, Storage.decode(p.getFileName.toString))

  /** SortExec counts of the captured writes into `seg` — listener events
    * arrive asynchronously, so wait (bounded) for the first. */
  private def sortsPerWrite(seg: Path): Seq[Int] = {
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    def seen = writes.asScala.toSeq
      .filter(w => segmentKey(w._1) == segmentKey(seg)).map(_._2)
    while (seen.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
    seen
  }

  test("every write path lays out the same rows in the same segment format") {
    root
    listener
    val expectedFields = Scan.provenanceStruct(schema).fields.toSeq
      .map(f => f.name -> f.dataType.simpleString)
    val expectedChunks = rows.map { case (a, b, _, _) => s"_ck_a=${a / 10}/_ck_b=${b / 10}" }.toSet

    def table(name: String, protocol: String): Path = {
      spark.sql(s"CREATE TABLE gseg.$name (a BIGINT, b BIGINT, v BIGINT, w DOUBLE) " +
        s"TBLPROPERTIES('graft.dims' = 'a:10,b:10', 'graft.protocol' = '$protocol')")
      root.resolve(name)
    }
    def core(name: String): (MatDb, Path) = {
      val dir = root.resolve(name)
      val db = MatDb.create(spark, schema, dir.toString, "manifest")
      Seq(rows.take(20), rows.drop(20)).foreach { rs =>
        val tx = db.newTransaction(); tx.addRows(frame(rs)); tx.commit()
      }
      (db, dir)
    }

    val txnDir = root.resolve("txn")
    val txnDb = MatDb.create(spark, schema, txnDir.toString, "manifest")
    val viaTxn = newSegments(txnDir) {
      val tx = txnDb.newTransaction()
      tx.addRows(frame(rows))
      tx.deleteRows(frame(rows.filter(_._1 % 3 == 0)))
      tx.commit()
    }
    val ins = table("ins", "manifest")
    val viaInsert = newSegments(ins)(spark.sql("INSERT INTO gseg.ins SELECT * FROM seg_rows"))
    val ovwM = table("ovw_m", "manifest")
    spark.sql("INSERT INTO gseg.ovw_m SELECT * FROM seg_rows_head")
    val viaOverwriteManifest =
      newSegments(ovwM)(spark.sql("INSERT OVERWRITE gseg.ovw_m SELECT * FROM seg_rows"))
    // a rename-committed directory (no _log/): INSERT OVERWRITE upgrades it
    // to manifest version 0 and takes the same replace publish
    val ovwR = table("ovw_r", "manifest")
    spark.sql("INSERT INTO gseg.ovw_r SELECT * FROM seg_rows_head")
    Storage.deleteRecursively(ovwR.resolve("_log"))
    val viaOverwriteRename =
      newSegments(ovwR)(spark.sql("INSERT OVERWRITE gseg.ovw_r SELECT * FROM seg_rows"))
    val (ckDb, ckDir) = core("ckpt")
    val viaCheckpoint = newSegments(ckDir)(assert(ckDb.checkpoint(2L) == 2L))
    val (optDb, optDir) = core("opt")
    val viaOptimize = newSegments(optDir)(optDb.optimize(zorderDims = Seq("a", "b")))
    val upd = table("upd", "manifest")
    spark.sql("INSERT INTO gseg.upd SELECT * FROM seg_rows")
    val viaUpdate = newSegments(upd)(spark.sql("UPDATE gseg.upd SET v = v + 1"))

    val paths = Seq(
      ("Transaction commit with deleteRows", viaTxn, true),
      ("INSERT INTO", viaInsert, true),
      ("INSERT OVERWRITE (manifest)", viaOverwriteManifest, true),
      ("INSERT OVERWRITE (upgraded rename layout)", viaOverwriteRename, true),
      ("checkpoint", viaCheckpoint, true),
      ("optimize zorder(a, b)", viaOptimize, true),
      ("SQL UPDATE", viaUpdate, false))
    paths.foreach { case (what, segs, dataFrameWrite) =>
      assert(segs.size == 1, s"$what committed ${segs.size} segments")
      val seg = segs.head
      parquetFields(seg).foreach(fields =>
        assert(fields == expectedFields, s"$what wrote parquet fields $fields"))
      assert(Storage.chunkDirsOf(seg).toSet == expectedChunks,
        s"$what wrote chunk directories ${Storage.chunkDirsOf(seg).sorted}")
      if (dataFrameWrite) {
        val sorts = sortsPerWrite(seg)
        assert(sorts.nonEmpty, s"$what: no file write captured for $seg")
        assert(sorts.forall(_ == 1), s"$what: SortExec count per write $sorts")
      }
    }
    spark.listenerManager.unregister(listener)
  }
}
