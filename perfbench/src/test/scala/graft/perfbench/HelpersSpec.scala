package graft.perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class HelpersSpec extends AnyFunSuite {

  test("tail is the highest percentile with at least ten samples above its rank") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.tail(xs) == Some(90 -> 90.0))
    assert(Stats.tail((1 to 40).map(_.toDouble)) == Some(75 -> 30.0))
    // fewer than twenty samples: the rule would land at or below the median
    assert(Stats.tail((1 to 19).map(_.toDouble)).isEmpty)
    assert(Stats.tail((1 to 20).map(_.toDouble)).isEmpty)
    assert(Stats.tail((1 to 21).map(_.toDouble)) == Some(52 -> 11.0))
  }

  test("percentile is nearest-rank and median averages the middle pair") {
    assert(Stats.percentile(Seq(5.0, 1.0, 3.0), 50) == 3.0)
    assert(Stats.percentile(Seq(1.0, 2.0, 3.0, 4.0), 100) == 4.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.median(Seq(7.0)) == 7.0)
    assert(Stats.median(Nil).isNaN)
  }

  test("failed-op ratio counts failures against attempts and rejects nonsense") {
    assert(Stats.failedRatio(0, 5) == 0.0)
    assert(Stats.failedRatio(1, 4) == 0.25)
    assertThrows[IllegalArgumentException](Stats.failedRatio(0, 0))
    assertThrows[IllegalArgumentException](Stats.failedRatio(3, 2))
  }

  private def span(id: Int, parent: Int, a: Long, b: Long): Span = {
    val s = new Span(id, s"s$id", parent, 1); s.startNs = a; s.endNs = b; s
  }

  test("self time subtracts the union of child intervals, overlaps counted once") {
    val spans = Seq(span(0, -1, 0, 100), span(1, 0, 10, 30), span(2, 0, 20, 50),
      span(3, 0, 70, 80), span(4, 1, 12, 14))
    val self = Trace.selfSeconds(spans)
    assert(self(0) == (100 - 40 - 10) / 1e9) // children cover [10,50) and [70,80)
    assert(self(1) == (20 - 2) / 1e9)
    assert(self(3) == 10 / 1e9)
    // inclusive work sums a span's subtree
    spans(4).work.jobs = 2; spans(1).work.jobs = 1; spans(0).work.jobs = 4
    val incl = Trace.inclusive(spans)
    assert(incl(0).jobs == 7 && incl(1).jobs == 3 && incl(2).jobs == 0)
  }

  test("environment guard names every tuning override") {
    val env = Map("GRAFT_FASTPLAN" -> "0", "GRAFT_FASTPLAN_PARTITIONS" -> "32",
      "SPARK_GRAFT_BENCH_CONF" -> "a=b", "HOME" -> "/h")
    val props = Map("graft.fastplan.small.bytes" -> "1", "graft.index.delta.maxpending" -> "2",
      "graft.index.drift.warn" -> "4")
    assert(EnvGuard.violations(env, props) == Seq("GRAFT_FASTPLAN", "GRAFT_FASTPLAN_PARTITIONS",
      "SPARK_GRAFT_BENCH_CONF", "-Dgraft.fastplan.small.bytes", "-Dgraft.index.delta.maxpending"))
    assert(EnvGuard.violations(Map("HOME" -> "/h"), Map.empty).isEmpty)
  }

  test("BENCHMARK.json lists exactly the harness's per-layer metrics") {
    val json = new String(Files.readAllBytes(Paths.get("..", "BENCHMARK.json")), "UTF-8")
    val perLayer = json.substring(json.indexOf("\"per_layer\""))
    val listed = "\"name\": \"([^\"]+)\"".r.findAllMatchIn(perLayer).map(_.group(1)).toSeq
    assert(listed == PerLayer.names.map(_._1) ++ Seq("host.steal_share", "trace.overhead_share"))
  }

  test("row digest ignores row order and partitioning but not content; order check works") {
    val spark = SparkSession.builder().master("local[2]").config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      import spark.implicits._
      val rows = (1L to 50L).map(i => (i % 7, i, s"v$i"))
      val a = rows.toDF("k", "t", "v").repartition(3)
      val b = rows.reverse.toDF("k", "t", "v").coalesce(1)
      assert(RowHash.of(a) == RowHash.of(b))
      assert(RowHash.of(a).count == 50)
      val changed = rows.updated(3, (3L, 4L, "other")).toDF("k", "t", "v")
      assert(RowHash.of(changed) != RowHash.of(a))
      val sorted = rows.toDF("k", "t", "v").repartitionByRange(3, $"k", $"t").sortWithinPartitions("k", "t")
      assert(RowHash.ordered(sorted, keys = 2)._2)
      assert(!RowHash.ordered(sorted.orderBy($"t".desc), keys = 2)._2)
    } finally spark.stop()
  }
}
