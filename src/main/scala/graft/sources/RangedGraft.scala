package graft.sources

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{Column, DataFrame, GraftInternals, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Ascending, SortOrder}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.functions._

import graft.core.{MatSchema, Scan, Storage}

/** The RANGE-partitioned graft layout: the ordered-read counterpart of
  * the catalog's chunk-partitioned read (SURVEY.md §9.4 #7). Range boundaries on the leading
  * dimension are fixed at table creation and recorded in a manifest; every
  * append routes rows to their range piece (`_range_id=<i>` subdirectories,
  * plain dynamic-partition write — NO shuffle), so piece i of EVERY segment
  * holds the same contiguous key slice.
  *
  * The ordered scan therefore needs ZERO exchanges end to end: piece i of
  * all visible segments is unioned into RDD partition i (pieces in
  * ascending boundary order), and the resulting DataFrame DECLARES
  * `RangePartitioning(dims)` through [[org.apache.spark.sql.GraftInternals]]
  * — a claim TRUE by construction. Catalyst then plans the MVCC dedup
  * aggregate with no Exchange (range clustering co-locates every version of
  * a key) and the global `orderBy(dims)` as a LOCAL sort per piece (ranges
  * are contiguous and emitted in order). Compare:
  *   - directory layout `MatDb.orderedScan`: one range Exchange (the whole
  *     table moves once);
  *   - catalog read under v2 bucketing: zero-Exchange RESOLVE (chunk
  *     key groups), but global ORDER still range-exchanges (key groups
  *     carry no global order);
  *   - ranged layout: zero Exchange for resolve AND order.
  * RangedGraftSpec pins the Exchange-free plan and row parity.
  *
  * Cost model: the append pays range routing (a codegen'd when-chain, no
  * shuffle — the directory layout's writer pays a chunk-keyed exchange) but needs
  * representative BOUNDARIES up front (from a sample or a previous table's
  * statistics; `boundariesFromSample` below). Skewed boundaries skew pieces
  * — the usual range-partitioning trade. Pieces play the role
  * `spark.sql.shuffle.partitions` plays for a shuffle: size them so a
  * piece's LIVE rows fit one task.
  *
  * Single-writer contract like the reference (database.rs:74-79): segment
  * numbering is read-then-write. Production multi-writer would port the
  * put-if-absent claim of [[GraftInsert]]; this layout's contribution is
  * the read side.
  *
  * Scale note: the scan builds one small parquet-read plan per piece and
  * unions their RDDs — O(pieces) driver-side plan nodes (pieces ≈ hundreds
  * to low thousands at 100 TB, each a multi-file read). A custom
  * FilePartition packing could collapse this to one scan node; the plan
  * SHAPE (zero exchanges) is already the scale-right property. */
object RangedGraft {

  val RangeCol = "_range_id"

  /** Create the table directory: schema + range manifest. `bounds` are the
    * leading dimension's upper-exclusive piece boundaries, ascending;
    * pieces = bounds.size + 1 (last piece is unbounded above). */
  def create(spark: SparkSession, path: String, schema: MatSchema, bounds: Seq[Long]): Unit = {
    require(bounds == bounds.sorted && bounds.distinct.size == bounds.size,
      "bounds must be strictly ascending")
    val root = Paths.get(path)
    Files.createDirectories(root)
    Storage.writeSchema(root, schema)
    Files.writeString(root.resolve("ranges.json"),
      s"""{"dim":"${schema.dimNames.head}","bounds":[${bounds.mkString(",")}]}""")
  }

  /** Derive boundaries from a sample: `pieces`-quantiles of the leading
    * dimension (one approx-percentile pass; sample ~1% upstream for big
    * inputs). */
  def boundariesFromSample(df: DataFrame, dim: String, pieces: Int): Seq[Long] = {
    require(pieces >= 1, "pieces must be >= 1")
    if (pieces == 1) Seq.empty
    else {
      val probs = (1 until pieces).map(_.toDouble / pieces)
      // percentile_approx preserves the input type (LongType dim -> Longs)
      val row = df.select(percentile_approx(col(dim), typedLit(probs), lit(10000)).as("q"))
        .head()
      // empty (or all-null-dim) sample: NULL percentile — one piece, not NPE
      if (row.isNullAt(0)) Seq.empty
      else row.getSeq[Any](0)
        .map { case l: Long => l; case d: Double => d.toLong; case i: Int => i.toLong }
        .distinct.sorted
    }
  }

  def readBounds(path: String): Seq[Long] = {
    val txt = Files.readString(Paths.get(path).resolve("ranges.json"))
    val inner = txt.substring(txt.indexOf('[') + 1, txt.indexOf(']')).trim
    if (inner.isEmpty) Seq.empty else inner.split(",").toSeq.map(_.trim.toLong)
  }

  /** Piece id of a leading-dimension value: count of bounds <= value,
    * spelled as a codegen-friendly when-chain. NULL routes to piece 0 —
    * the declared `RangePartitioning(dim ASC)` sorts nulls FIRST, so the
    * first piece is the only placement that keeps the partitioning claim
    * true (a null falling through to the last piece would silently break
    * orderedScan's global order). */
  def rangeId(lead: Column, bounds: Seq[Long]): Column =
    when(lead.isNull, lit(0)).otherwise(
      bounds.zipWithIndex.foldRight(lit(bounds.size): Column) {
        case ((b, i), acc) => when(lead < b, lit(i)).otherwise(acc)
      })

  /** Commit `df` as one transaction: rows routed to `_range_id` piece
    * subdirectories by the recorded boundaries — dynamic-partition write,
    * no shuffle. Returns the txn id. */
  def append(spark: SparkSession, path: String, schema: MatSchema, df: DataFrame): Long = {
    val bounds = readBounds(path)
    val txn = nextTxnId(path)
    val seg = segDir(path, txn)
    df.select(schema.columnNames.map(col): _*)
      .withColumn(Scan.TxnCol, lit(txn))
      .withColumn(Scan.SeqCol, lit(0L))
      .withColumn(RangeCol, rangeId(col(schema.dimNames.head), bounds))
      .write.partitionBy(RangeCol)
      .option("compression", "zstd")
      .options(Storage.parquetWriteOptions(
        Storage.readProps(java.nio.file.Paths.get(path))))
      .parquet(seg.toString)
    txn
  }

  /** Zero-copy SHALLOW CLONE of a ranged table: schema, bounds manifest
    * and every segment's piece files hard-linked into `dstPath` — no data
    * bytes copied, independent appends afterwards (the single-writer
    * contract applies to each side separately). */
  def shallowClone(spark: SparkSession, srcPath: String, dstPath: String): Unit = {
    val src = Paths.get(srcPath)
    val dst = Paths.get(dstPath)
    require(Files.exists(src.resolve("ranges.json")), s"no ranged table at $srcPath")
    require(!Files.exists(dst) || !Files.exists(dst.resolve("ranges.json")),
      s"clone target $dstPath already exists")
    Files.createDirectories(dst)
    val store = Storage.casStore(src)
    Seq("schema.json", "ranges.json", "_stats.json").foreach { f =>
      val p = src.resolve(f)
      if (Files.exists(p)) Storage.linkOrCopyFile(store, p, dst.resolve(f))
    }
    segments(srcPath).foreach(seg =>
      Storage.linkOrCopyTree(store, seg, dst.resolve(seg.getFileName.toString)))
  }

  /** Resolved-snapshot statistics: post-MVCC row count + per-piece live
    * row counts, persisted as `_stats.json` (and returned). The per-piece
    * counts are the skew diagnostic this layout needs — range boundaries
    * are fixed at CREATE, and a piece that outgrew its siblings is the
    * signal to re-create with fresh [[boundariesFromSample]] boundaries.
    *
    * PRICED, not just diagnostic (round 13): the stats also record the
    * RAW (pre-dedup) row count and the segment watermark they describe;
    * while the watermark still matches, [[claimedRaw]] attaches the raw
    * logical size to its LogicalRDD (`originStats` — the slot
    * Dataset.checkpoint uses), replacing the default "effectively
    * infinite" pricing that made every ranged relation unbroadcastable.
    * Raw (not resolved) numbers on the raw node keep staleness pointing
    * in the safe over-estimate direction; any later append invalidates by
    * watermark mismatch. */
  def analyze(spark: SparkSession, path: String, schema: MatSchema): (Long, Long) = {
    val bounds = readBounds(path)
    val watermark = nextTxnId(path) - 1L
    val perPiece = snapshot(spark, path, schema)
      .withColumn(RangeCol, rangeId(col(schema.dimNames.head), bounds))
      .groupBy(col(RangeCol)).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val n = perPiece.values.sum
    val rowBytes = schema.toStructType.defaultSize
    val bytes = n * rowBytes
    val rawN = claimedRaw(spark, path, schema, None).count()
    val pieces = (0 to bounds.size).map(i => perPiece.getOrElse(i, 0L))
    // stamped AFTER the aggregates with the watermark read BEFORE them: a
    // segment landing mid-analyze makes the stamp stale (txn mismatch)
    // rather than claiming rows it never counted
    if (nextTxnId(path) - 1L == watermark)
      Files.writeString(Paths.get(path).resolve("_stats.json"),
        s"""{"rowcount":$n,"bytes":$bytes,"raw_rows":$rawN,""" +
          s""""raw_bytes":${rawN * rowBytes},"txn":$watermark,""" +
          s""""piece_rows":[${pieces.mkString(",")}]}""")
    (n, bytes)
  }

  /** Analyzed raw (pre-dedup) pricing for the read path: (rawBytes,
    * rawRows) while the recorded watermark still matches the CURRENT
    * segment set and the read is not time-traveled; None otherwise (the
    * LogicalRDD then keeps the default conservative pricing). */
  private def pricedRawStats(path: String, asOf: Option[Long]): Option[(Long, Long)] = {
    val p = Paths.get(path).resolve("_stats.json")
    if (asOf.isDefined || !Files.isRegularFile(p)) None
    else {
      val body = Files.readString(p)
      def field(name: String): Option[Long] =
        s""""$name"\\s*:\\s*(-?\\d+)""".r.findFirstMatchIn(body).map(_.group(1).toLong)
      for {
        txn <- field("txn")
        if txn == nextTxnId(path) - 1L
        bytes <- field("raw_bytes")
        rows <- field("raw_rows")
      } yield (bytes, rows)
    }
  }

  private def segDir(path: String, txn: Long): Path =
    Paths.get(path).resolve(f"seg-$txn%08d")

  private def nextTxnId(path: String): Long =
    segments(path).map(p => p.getFileName.toString.stripPrefix("seg-").toLong)
      .maxOption.getOrElse(0L) + 1L

  private def segments(path: String): Seq[Path] = {
    val s = Files.list(Paths.get(path))
    try {
      val it = s.iterator()
      val buf = Seq.newBuilder[Path]
      while (it.hasNext) {
        val p = it.next()
        if (p.getFileName.toString.startsWith("seg-")) buf += p
      }
      buf.result().sortBy(_.getFileName.toString)
    } finally s.close()
  }

  /** The raw union of all visible pieces, DECLARING its range partitioning:
    * RDD partition i = piece i of every segment. Provenance columns ride
    * along for the dedup. */
  private def claimedRaw(spark: SparkSession, path: String, schema: MatSchema,
      asOf: Option[Long]): DataFrame = {
    val bounds = readBounds(path)
    val pieces = bounds.size + 1
    val segs = segments(path)
      .filter(p => asOf.forall(p.getFileName.toString.stripPrefix("seg-").toLong <= _))
    val readSchema = Scan.provenanceStruct(schema)
    val cols = readSchema.fieldNames.map(col).toSeq
    def pieceDf(i: Int): Option[DataFrame] = {
      val dirs = segs.map(_.resolve(s"$RangeCol=$i")).filter(Files.isDirectory(_))
        .map(_.toString)
      if (dirs.isEmpty) None
      else Some(spark.read.schema(readSchema).parquet(dirs: _*).select(cols: _*))
    }
    val dfs = (0 until pieces).map(pieceDf)
    val template = dfs.flatten.headOption
      .getOrElse(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], readSchema)
        .select(cols: _*))
    val rdds = dfs.map {
      case Some(df) =>
        val r = df.queryExecution.toRdd
        if (r.getNumPartitions == 0)
          spark.sparkContext.parallelize(Seq.empty[org.apache.spark.sql.catalyst.InternalRow], 1)
        else r.coalesce(1)
      case None =>
        spark.sparkContext.parallelize(Seq.empty[org.apache.spark.sql.catalyst.InternalRow], 1)
    }
    val union = spark.sparkContext.union(rdds)
    val attrs = template.queryExecution.analyzed.output
    val dimAttrs = schema.dimNames.map(n => attrs.find(_.name == n).get)
    val orders = dimAttrs.map(a => SortOrder(a, Ascending))
    // the claim: piece i holds exactly the i-th contiguous leading-dim
    // range, pieces ascend — true by construction of the write path
    GraftInternals.dataFrameWithPartitioning(
      spark, attrs, union, RangePartitioning(orders, pieces), Nil,
      pricedRawStats(path, asOf).map { case (bytes, rows) =>
        (BigInt(bytes), Some(BigInt(rows))) })
  }

  /** Newest version of every key point — dedup with NO exchange (range
    * clustering co-locates key versions). */
  def snapshot(spark: SparkSession, path: String, schema: MatSchema,
      asOf: Option[Long] = None): DataFrame =
    Scan.dedup(claimedRaw(spark, path, schema, asOf), schema)

  /** Key-ordered resolved scan with ZERO exchanges: the declared range
    * partitioning satisfies the global sort's ordered distribution, so the
    * sort runs piece-locally. */
  def orderedScan(spark: SparkSession, path: String, schema: MatSchema,
      asOf: Option[Long] = None): DataFrame =
    snapshot(spark, path, schema, asOf).orderBy(schema.dimNames.map(col): _*)
}
