package graft.perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XxHash64}

/** The row count and order-independent hash of a result: the sum, modulo
  * 2^64, of each row's xxhash64 over all its columns. Addition commutes, so
  * two results with the same rows in any order and any partitioning have
  * the same digest. */
final case class Digest(count: Long, hash: Long) {
  def +(o: Digest): Digest = Digest(count + o.count, hash + o.hash)
  override def toString: String = f"(rows=$count, hash=$hash%016x)"
}

object Digest {
  val Zero: Digest = Digest(0L, 0L)
}

object RowHash {
  /** Run `df`'s own physical plan and digest every row it returns. */
  def of(df: DataFrame): Digest = ordered(df, keys = 0)._1

  /** As [[of]], and also whether the rows arrive sorted ascending on their
    * first `keys` columns (which must be LONG), across partitions in
    * partition order. */
  def ordered(df: DataFrame, keys: Int): (Digest, Boolean) = {
    val qe = df.queryExecution
    val attrs = qe.executedPlan.output
    val parts = qe.toRdd.mapPartitions { it =>
      val proj = UnsafeProjection.create(Seq(XxHash64(attrs, 42L)), attrs)
      var d = Digest.Zero
      var sorted = true
      var first: Array[Long] = null
      var last: Array[Long] = null
      it.foreach { r =>
        d = Digest(d.count + 1, d.hash + proj(r).getLong(0))
        if (keys > 0) {
          val k = Array.tabulate(keys)(r.getLong)
          if (first == null) first = k
          if (last != null && cmp(last, k) > 0) sorted = false
          last = k
        }
      }
      Iterator((d, sorted, Option(first).map(_.toSeq), Option(last).map(_.toSeq)))
    }.collect()
    val digest = parts.map(_._1).foldLeft(Digest.Zero)(_ + _)
    val bounds = parts.toSeq.flatMap(p => p._3.zip(p._4))
    val across = bounds.zip(bounds.drop(1)).forall { case ((_, hi), (lo, _)) => cmp(hi.toArray, lo.toArray) <= 0 }
    (digest, parts.forall(_._2) && across)
  }

  private def cmp(a: Array[Long], b: Array[Long]): Int = {
    var i = 0
    while (i < a.length) { val c = java.lang.Long.compare(a(i), b(i)); if (c != 0) return c; i += 1 }
    0
  }
}
