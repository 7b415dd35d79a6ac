package graft

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.graft.Storage

import graft.Harness.{json, median, obj, r2, r3, seconds, StageRec}

/** The suite timer: `graft.Bench [query ...]` times the named queries
  * (all of them without names) at `SPARK_GRAFT_SF_DIR` and prints one
  * JSON line; per-query evidence goes to `docs/BENCH_last_full.json` and
  * `docs/BENCH_storage_last.jsonl` (docs/BENCH_NOTES.md reads them). */
object Bench {

  /** Queries whose stages are replayed in the aged session whatever
    * their suite time: the ones a session-age CPU multiplier has hit. */
  private val AlwaysReplay = Seq("q_minhash_pairs", "q_pagerank",
    "q_pagerank_converged", "q_reachability")

  /** The slowest queries replayed in the aged session. */
  private val ReplayTop = 6

  /** Storage and host state at a query's start (flat under working
    * sweeps; accumulation in any channel shows as a monotone ramp), plus
    * host channels measured over its timed runs. Written snake-cased. */
  final case class QueryRow(query: String, bcBlocks: Int, bcMem: Long,
      bcDisk: Long, spillMemCum: Long, spillDiskCum: Long, storageUsed: Long,
      storageMax: Long, localDiskFiles: Int, localDiskBytes: Long,
      shuffles: Int, gcCumMs: Long, wallRunsSec: Double, cpuRunsSec: Double,
      gcRunsMs: Long, jitCumMs: Long, jitRunsMs: Long, codeCacheUsed: Long,
      classesLoaded: Long)

  final case class PivotRow(pivot: String, atIndex: Int, after: String,
      sec: Double, gcCumMs: Long)

  final case class ReplayRow(name: String, suite: Double, aged: Double,
      cpu: Double, jit: Long) {
    def ratio: Double = if (suite > 0 && aged >= 0) aged / suite else -1.0
  }

  // Host channels for the session-age effects Spark's own counters do
  // not show: GC, process CPU against wall (wall ≫ cpu means host
  // contention), cumulative JIT time (the compiler re-doing work),
  // code-cache occupancy (a full cache stops compilation and generated
  // code runs interpreted) and loaded classes (codegen churn).
  private def gcCumMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum
  private def procCpuNs: Long = ManagementFactory.getOperatingSystemMXBean match {
    case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
    case _ => -1L
  }
  private def jitCumMs: Long = Option(ManagementFactory.getCompilationMXBean)
    .filter(_.isCompilationTimeMonitoringSupported)
    .map(_.getTotalCompilationTime).getOrElse(-1L)
  private def codeCacheUsed: Long = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getName.contains("CodeHeap") || p.getName.contains("Code Cache"))
    .flatMap(p => Option(p.getUsage)).map(_.getUsed).sum

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // fixed name order: Map order shifts whenever a query is added, which
    // would reshuffle cache/GC inheritance between captures
    val selected = Harness.select(args.toSeq)
    val spark = Session.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sc = spark.sparkContext
    // warm the JVM/codegen paths so the first measured query doesn't pay
    // session-startup cost (classloading, codegen compiler init)
    spark.range(1000000).selectExpr("sum(id)").collect()
    try SparkEntry.entry(spark).count() catch { case _: Throwable => }
    // broadcasts resident after warm-up are session infrastructure
    val bcBaseline = graft.operators.Eager.broadcastSnapshot(spark)
    def sweep(): Unit = Harness.sweep(spark, bcBaseline)
    val recorder = new Harness.Recorder(spark)
    val classBean = ManagementFactory.getClassLoadingMXBean

    val pivotLog = ArrayBuffer.empty[PivotRow]
    def probePivot(at: Int, after: String): Unit =
      pivotLog += PivotRow("q_star_join", at, after,
        Harness.pivot(spark, sfDir, bcBaseline), gcCumMs)
    val storageLog = ArrayBuffer.empty[QueryRow]
    val stageLog = ArrayBuffer.empty[(String, Seq[StageRec])]
    val guardLog = ArrayBuffer.empty[(String, graft.operators.Guards.Decision)]
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]

    /** `n` swept runs of `fn`, each timed, and the last failure. A failed
      * run is logged loudly and timed as -1: its near-zero time would
      * otherwise read as a speedup. */
    def timedRuns(label: String, fn: Harness.Query, n: Int): (Seq[Double], Option[String]) = {
      var failure = Option.empty[String]
      val ts = (1 to n).map { _ =>
        var failed = false
        val dt = seconds {
          try fn(spark, sfDir).count()
          catch { case e: Throwable =>
            System.err.println(s"[bench] $label FAILED: $e")
            failure = Some(e.toString.takeWhile(_ != '\n').take(200))
            failed = true
          }
        }
        // release this run's persisted frames and checkpoint blocks
        sweep()
        if (failed) -1.0 else dt
      }
      (ts, failure)
    }

    probePivot(0, "<start>")
    val results = selected.zipWithIndex.map { case ((name, fn), i) =>
      val (bcN, bcMem, bcDisk) = Storage.broadcastSummary(sc)
      val (stUsed, stMax) = Storage.storageMemory(sc)
      val (diskN, diskBytes) = Storage.localDiskUsage(sc)
      val shufflesAtStart = Storage.shuffleIds(sc).size
      val (gcAtStart, jitAtStart, ccAtStart) = (gcCumMs, jitCumMs, codeCacheUsed)
      val classesAtStart = classBean.getTotalLoadedClassCount
      // one untimed warm-up run per query: a fresh JVM pays seconds of
      // whole-stage-codegen JIT inside a heavy pipeline's first run
      try fn(spark, sfDir).count() catch { case _: Throwable => }
      sweep()
      // codegen'd classes stay referenced by the codegen cache, so the
      // JIT warm-up survives the GC
      System.gc()
      val blockT0 = System.nanoTime()
      val (cpuT0, gcT0, jitT0) = (procCpuNs, gcCumMs, jitCumMs)
      val ((times, failure), stages) =
        recorder.stages(10)(timedRuns(name, fn, Harness.Runs))
      failure.foreach(errors(name) = _)
      stageLog += name -> stages
      // cpu against wall over the whole timed block (runs and sweeps)
      storageLog += QueryRow(name, bcN, bcMem, bcDisk, recorder.spillMem.get,
        recorder.spillDisk.get, stUsed, stMax, diskN, diskBytes,
        shufflesAtStart, gcAtStart, (System.nanoTime() - blockT0) / 1e9,
        if (cpuT0 < 0) -1.0 else (procCpuNs - cpuT0) / 1e9, gcCumMs - gcT0,
        jitAtStart, if (jitT0 < 0) -1L else jitCumMs - jitT0, ccAtStart,
        classesAtStart)
      // the size-guard decisions this query's runs took, deduped across runs
      guardLog ++= graft.operators.Guards.drain().map(d => name -> d).distinct
      // a full GC between queries, not between the runs of one query: a
      // GC inside the repeat loop makes micro-batch-heavy streaming
      // queries re-JIT every run (q_stream_interval_outer 5.4 s → 12 s)
      System.gc()
      if ((i + 1) % 25 == 0) probePivot(i + 1, name)
      name -> median(times)
    }
    probePivot(results.length, "<end>")

    // Same-JVM fresh-against-aged replay: re-time the slowest queries
    // (and AlwaysReplay) in this aged session, faster of two runs. An
    // aged/suite ratio above 1.5 is flagged.
    val suiteOf = results.toMap
    val fnOf = selected.toMap
    val replayLog = ArrayBuffer.empty[ReplayRow]
    val replayNames = (results.filter(_._2 >= 0).sortBy(-_._2).take(ReplayTop).map(_._1) ++
      AlwaysReplay.filter(suiteOf.contains)).distinct
    replayNames.foreach { name =>
      val cpuT0 = procCpuNs
      val jitT0 = jitCumMs
      val ((ts, _), stages) =
        recorder.stages(10)(timedRuns(s"replay $name", fnOf(name), 2))
      stageLog += s"replay:$name" -> stages
      replayLog += ReplayRow(name, suiteOf(name), if (ts.contains(-1.0)) -1.0 else ts.min,
        if (cpuT0 < 0) -1.0 else (procCpuNs - cpuT0) / 1e9,
        if (jitT0 < 0) -1L else jitCumMs - jitT0)
      System.gc()
    }
    if (results.nonEmpty) probePivot(results.length, "<post-replay>")

    // Micro-batch floors: for each streaming query benched, the faster of
    // two EMPTY-batch streams of the same batch count through the same
    // sink machinery, separating plan time from scheduling/commit floors.
    val floorSpecs = SparkEntry.streamFloorSpec.filter { case (q, _) => suiteOf.contains(q) }
    val floorBySpec = floorSpecs.values.toSeq.distinct.map { case spec @ (n, c) =>
      val ok = (1 to 2).map { _ =>
        val t =
          try graft.streaming.Streaming.streamFloor(spark, n, c)
          catch { case e: Throwable =>
            System.err.println(s"[bench] floor($n,$c) FAILED: $e"); -1.0
          }
        sweep()
        t
      }.filter(_ >= 0.0)
      spec -> (if (ok.isEmpty) -1.0 else ok.min)
    }.toMap
    val floorOf = floorSpecs.toSeq.map { case (q, spec) => q -> floorBySpec(spec) }.sortBy(_._1)

    // one line per query, then the pivot probes, stage records and guard
    // decisions, each told apart by its first key
    write("BENCH_storage_last.jsonl", (
      storageLog.map(r => json(r.copy(wallRunsSec = r2(r.wallRunsSec),
        cpuRunsSec = r2(r.cpuRunsSec)))) ++
      pivotLog.map(r => json(r.copy(sec = r3(r.sec)))) ++
      stageLog.map { case (q, recs) => json(obj("stages_for" -> q, "stages" -> recs)) } ++
      guardLog.map { case (q, d) =>
        json(obj("guard" -> d.site, "query" -> q, "n" -> d.n, "decision" -> d.decision))
      }).mkString("", "\n", "\n"))

    val total = results.map(_._2).sum
    val gcTotalMs = storageLog.map(_.gcRunsMs).sum
    val cpuTotal = r2(storageLog.map(r => math.max(0.0, r.cpuRunsSec)).sum)
    val wallTotal = r2(storageLog.map(_.wallRunsSec).sum)
    val pivotSeries = pivotLog.map(r => r3(r.sec))
    // each median divided by the pivot interpolated to the query's place
    // in the run, so a mid-session host-epoch shift divides out; unit:
    // pivot multiples (q_star_join ≈ 1.0)
    val pivotByIdx = pivotLog.map(p => (p.atIndex, p.sec)).sortBy(_._1)
    def pivotAt(j: Int): Double =
      (pivotByIdx.filter(_._1 <= j).lastOption, pivotByIdx.find(_._1 >= j)) match {
        case (Some((i0, p0)), Some((i1, p1))) if i1 > i0 =>
          p0 + (p1 - p0) * (j - i0).toDouble / (i1 - i0).toDouble
        case (Some((_, p0)), _) => p0
        case (_, Some((_, p1))) => p1
        case _ => 1.0
      }
    val normVals = results.zipWithIndex.map { case ((k, v), idx) =>
      val p = pivotAt(idx + 1)
      k -> (if (v < 0 || p <= 0) -1.0 else v / p)
    }
    // poisoned to -1 when any query failed: a missing term would read as
    // a speedup on the very gate this total feeds
    val totalPivotNorm =
      if (errors.nonEmpty) -1.0 else r2(normVals.map(_._2).filter(_ >= 0).sum)
    val replayFlagged = replayLog.filter(_.ratio > 1.5).map(_.name)
    // floor-adjusted medians' heaviest streaming query, failed floors
    // (f < 0) left out
    val heaviestPlanStream = floorOf
      .collect { case (q, f) if f >= 0.0 && suiteOf(q) >= 0 => q -> (suiteOf(q) - f) }
      .sortBy(-_._2).headOption.map { case (q, s) => s"$q@${r3(s)}" }.getOrElse("")
    val tail = Seq("sf" -> sfDir, "runs_per_query" -> Harness.Runs)

    // The full-precision per-query map goes to a file: the stdout line
    // must fit a ~2000-char capture window, so it carries the total and
    // the slowest queries only.
    val full = json(obj(Seq("metric" -> "total", "value" -> total, "unit" -> "sec",
      "total_pivot_norm" -> totalPivotNorm, "queries" -> obj(results: _*),
      "queries_pivot_norm" -> obj(normVals.map { case (k, v) => k -> r3(v) }: _*),
      "pivot_drift" -> pivotSeries, "gc_total_ms" -> gcTotalMs, "cpu_total_sec" -> cpuTotal,
      "wall_total_sec" -> wallTotal,
      "replay" -> obj(replayLog.toSeq.map(r => r.name -> obj("suite" -> r3(r.suite),
        "aged" -> r3(r.aged), "ratio" -> r3(r.ratio), "cpu_sec" -> r2(r.cpu),
        "jit_ms" -> r.jit)): _*),
      "replay_flagged" -> replayFlagged,
      "stages" -> obj(stageLog.toSeq.map { case (q, recs) => q -> recs.take(3) }: _*),
      "floors" -> obj(floorOf.map { case (q, f) => q -> r3(f) }: _*),
      "heaviest_plan_stream" -> heaviestPlanStream) ++ tail: _*))
    // advertise the file only if THIS run wrote it, so no consumer reads
    // a previous run's medians as this run's
    val fullRef = write("BENCH_last_full.json", full + "\n")
      .map(p => "full" -> p.toAbsolutePath.toString).toSeq
    val byTime = results.sortBy(-_._2)
    def line(n: Int): String = json(obj(Seq("metric" -> "total", "value" -> r3(total),
      "unit" -> "sec", "total_pivot_norm" -> totalPivotNorm,
      "queries" -> obj(byTime.take(n).sortBy(_._1).map { case (k, v) => k -> r3(v) }: _*),
      "n_queries" -> results.length, "n_errors" -> errors.size,
      "top_n" -> math.min(n, results.length)) ++ fullRef ++ Seq(
      "bc_max_blocks" -> storageLog.map(_.bcBlocks).maxOption.getOrElse(0),
      "bc_max_mem" -> storageLog.map(_.bcMem).maxOption.getOrElse(0L),
      "disk_max_bytes" -> storageLog.map(_.localDiskBytes).maxOption.getOrElse(0L),
      "spill_disk_total" -> recorder.spillDisk.get, "gc_total_ms" -> gcTotalMs,
      "cpu_total_sec" -> cpuTotal, "wall_total_sec" -> wallTotal,
      "replay_aged_ratio" -> obj(replayLog.toSeq.map(r => r.name -> r3(r.ratio)): _*),
      "replay_flagged" -> replayFlagged,
      "floor_total_sec" -> r2(floorOf.map(f => math.max(0.0, f._2)).sum),
      "heaviest_plan_stream" -> heaviestPlanStream, "pivot_drift" -> pivotSeries) ++
      tail: _*))
    if (errors.nonEmpty)
      System.err.println(s"[bench] ${errors.size} QUERY FAILURE(S): " +
        errors.map { case (q, e) => s"$q -> $e" }.mkString("; "))
    // the largest top-N by time that keeps the printed line under budget
    println((results.length to 1 by -1).view.map(line).find(_.length <= 1500)
      .getOrElse(line(1)))
    spark.stop()
  }

  /** Write `text` to `docs/<name>`; the path, or None (with a warning)
    * when the write failed. */
  private def write(name: String, text: String): Option[java.nio.file.Path] =
    try {
      val p = java.nio.file.Paths.get("docs", name)
      java.nio.file.Files.createDirectories(p.getParent)
      Some(java.nio.file.Files.write(p, text.getBytes("UTF-8")))
    } catch { case e: Exception =>
      System.err.println(s"warn: could not write docs/$name: ${e.getMessage}")
      None
    }
}
