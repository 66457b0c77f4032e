package graft.tools

import java.nio.file.Files

import graft.core.{Protocol, SegmentId, Storage}

/** Evidence for round 11's `_log/_last` pointer + lazy GC scan
  * (VERDICT r10 "what's missing" #4): before it, every `open()` /
  * snapshot read / stream-progress poll LISTED the whole `_log/`
  * directory (O(commit count) names) and `recover()` additionally READ
  * every manifest version (`everReferenced`) — a 1M-commit table paid a
  * large metadata scan to read one manifest. Now:
  *
  *   - `listCommitted` / `txnWatermark` (the stream-poll path) read the
  *     pointer + one manifest — O(1);
  *   - `recover()` (the open path) adds one directory listing of the
  *     SEGMENT dirs (data-proportional, not commit-proportional) and
  *     consults `everReferenced` only when expired non-live dirs exist.
  *
  * The probe builds manifest tables at two commit counts (default 200 vs
  * 5000), measures both paths (median of `reps`), and requires the
  * per-call latency to stay flat across the 25× commit-count growth. The
  * pointer-DELETED fallback (pure listing) is also measured, reported
  * for contrast, and required to grow — proving the pointer is what
  * flattens the curve. Pure driver-side file IO; no Spark session.
  * Usage: runMain graft.tools.MetaLatencyProbe [small] [big] [reps]
  * → one JSON line + bench/meta_latency_probe.json. */
object MetaLatencyProbe {

  def main(args: Array[String]): Unit = {
    val small = args.lift(0).map(_.toInt).getOrElse(200)
    val big = args.lift(1).map(_.toInt).getOrElse(5000)
    val reps = args.lift(2).map(_.toInt).getOrElse(300)

    def build(n: Int): java.nio.file.Path = {
      val root = Files.createTempDirectory(s"graft-meta-$n")
      Files.createDirectories(root.resolve("_log"))
      // ONE segment dir serves every commit (the probe measures metadata
      // paths; manifest content size stays constant so the variable under
      // test is the COUNT of manifest versions alone)
      var prev = Vector.empty[SegmentId]
      (1 to n).foreach { t =>
        val id = SegmentId(t.toLong, 0)
        val dir = Storage.segmentPath(root, id)
        Files.createDirectories(dir)
        Files.write(dir.resolve("part-0.parquet"), Array[Byte](1))
        // cap the visible set at the newest 8 segments so manifest SIZE is
        // constant while VERSION COUNT grows — the variable under test
        val next = (prev :+ id).takeRight(8)
        Protocol.replace(root, Seq(id), next, expectedBase = prev, prodTxn = t.toLong)
        prev = next
      }
      // vacuum the replaced-away history: open() pays one listing of the
      // SEGMENT dirs (data-proportional), so the probe holds segment count
      // constant (8 live) while VERSION COUNT grows — the healthy
      // vacuumed-table shape the flat-open claim is about
      Protocol.sweepUnreferenced(root, prev)
      root
    }

    def medianNanos(rep: Int)(body: => Unit): Double = {
      val times = (1 to rep).map { _ =>
        val t0 = System.nanoTime(); body; (System.nanoTime() - t0).toDouble
      }.sorted
      times(times.size / 2)
    }

    def measure(root: java.nio.file.Path): (Double, Double, Double) = {
      val poll = medianNanos(reps)(Protocol.txnWatermark(root))
      val open = medianNanos(math.max(reps / 10, 20))(Protocol.recover(root))
      // fallback: pointer removed -> pure listing path
      val last = root.resolve("_log").resolve("_last")
      val saved = Files.readAllBytes(last)
      Files.delete(last)
      val fallback = medianNanos(reps)(Protocol.txnWatermark(root))
      Files.write(last, saved)
      (poll / 1e6, open / 1e6, fallback / 1e6)
    }

    val (pollS, openS, fbS) = measure(build(small))
    val bigRoot = build(big)
    val (pollB, openB, fbB) = measure(bigRoot)

    // round 13: the remaining O(all-commits-ever) paths are the LINEAGE
    // walks (time travel across replaces, everReferenced). vacuum's
    // manifest-history prune bounds them: once the sweep reclaimed the
    // replaced dirs, the versions referencing them are dead metadata.
    def manifestCount(root: java.nio.file.Path): Long =
      Files.list(root.resolve("_log")).filter(_.getFileName.toString
        .matches("[0-9a-f]{8}\\.json")).count()
    val lineageReps = math.max(reps / 10, 20)
    val lineageBefore = medianNanos(lineageReps)(
      Protocol.listCommittedAsOf(bigRoot, 1L)) / 1e6
    val filesBefore = manifestCount(bigRoot)
    val prunedCount = Protocol.pruneManifestHistory(bigRoot)
    val lineageAfter = medianNanos(lineageReps)(
      Protocol.listCommittedAsOf(bigRoot, 1L)) / 1e6
    val filesAfter = manifestCount(bigRoot)
    println(f"[probe] prune: manifests $filesBefore -> $filesAfter " +
      f"(removed $prunedCount), lineage walk ${lineageBefore}%8.4f ms -> ${lineageAfter}%8.4f ms")
    require(filesAfter * 100 <= filesBefore,
      s"prune must collapse the version count 100x+ here: $filesBefore -> $filesAfter")
    require(lineageAfter * 5 < lineageBefore,
      s"the lineage walk must stop paying O(commits ever): $lineageBefore -> $lineageAfter ms")
    val ratioPoll = pollB / pollS
    val ratioOpen = openB / openS
    val ratioFb = fbB / fbS
    println(f"[probe] commits=$small%5d poll=${pollS}%8.4f ms open=${openS}%8.4f ms fallback=${fbS}%8.4f ms")
    println(f"[probe] commits=$big%5d poll=${pollB}%8.4f ms open=${openB}%8.4f ms fallback=${fbB}%8.4f ms")
    println(f"[probe] ratios at ${big.toDouble / small}%.0fx commits: poll=$ratioPoll%.2f open=$ratioOpen%.2f fallback=$ratioFb%.2f")

    require(ratioPoll < 3.0,
      s"stream-poll latency must stay flat across commit growth, grew $ratioPoll x")
    require(ratioOpen < 3.0,
      s"open/recover latency must stay flat across commit growth, grew $ratioOpen x")
    require(ratioFb > ratioPoll * 2,
      s"the pointer-less fallback must be the one that grows ($ratioFb x) — " +
        "otherwise the pointer isn't what flattens the curve")

    val json =
      s"""{"metric":"meta_latency_probe","reps":$reps,
         |"small":{"commits":$small,"poll_ms":$pollS,"open_ms":$openS,"fallback_poll_ms":$fbS},
         |"big":{"commits":$big,"poll_ms":$pollB,"open_ms":$openB,"fallback_poll_ms":$fbB},
         |"ratio":{"poll":$ratioPoll,"open":$ratioOpen,"fallback_poll":$ratioFb},
         |"prune":{"manifests_before":$filesBefore,"manifests_after":$filesAfter,
         |"lineage_ms_before":$lineageBefore,"lineage_ms_after":$lineageAfter}}"""
        .stripMargin.replace("\n", "")
    println(json)
    val out = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_REPO_ROOT", "."), "bench", "meta_latency_probe.json")
    java.nio.file.Files.write(out, json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    System.err.println(s"[probe] wrote $out")
  }
}
