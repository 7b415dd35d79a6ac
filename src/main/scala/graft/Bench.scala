package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // per-query repeat count; the recorded time is the MEDIAN of the runs
    // so one GC pause / host-noise spike can't masquerade as a plan
    // regression (round-2 lesson: two unchanged queries "regressed" 10×
    // in a single-run bench)
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    val spark = Session.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warm the JVM/codegen paths so the first measured query doesn't pay
    // session-startup cost (classloading, codegen compiler init)
    spark.range(1000000).selectExpr("sum(id)").collect()
    try SparkEntry.entry(spark).count() catch { case _: Throwable => }
    // FIXED sorted order: Map iteration order shifts whenever an entry is
    // added, which reshuffles cache/GC inheritance between rounds and
    // makes per-query times incomparable across BENCH_r{N} files
    // optional comma-separated subset (local iteration on one slow query
    // without paying for the other 80) — driver runs leave it unset
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // a typo'd or stale name would otherwise bench zero queries and emit
    // an empty results array that LOOKS like a (vacuously fast) success
    only.foreach { o =>
      val unknown = o -- SparkEntry.queries.keySet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_BENCH_ONLY names unknown queries: ${unknown.toSeq.sorted.mkString(",")}")
    }
    // Broadcasts resident at session start (post-warm-up) are session
    // infrastructure, never swept; everything above this baseline was
    // created by a completed query and is fair game for the sweep.
    val bcBaseline = graft.operators.Eager.broadcastSnapshot(spark)
    // Cumulative spill counters (round-8 verdict #1): the two channels
    // the storage log did NOT cover while the persist-heavy family kept
    // inflating in the driver session only. Task-metrics listener —
    // public API, counts memory- and disk-spilled bytes across all
    // tasks since session start; the per-query JSONL samples the
    // cumulative value at each query's start so the delta per query is
    // readable straight off adjacent lines.
    val spillMem = new java.util.concurrent.atomic.AtomicLong(0)
    val spillDisk = new java.util.concurrent.atomic.AtomicLong(0)
    // Stage-level CPU attribution (round-10 verdict #1a): for the
    // queries named in SPARK_GRAFT_STAGE_QUERIES (default: the
    // long-inflating q_minhash_pairs), every stage completed during the
    // TIMED runs is recorded with its executor CPU/run time and the
    // ObjectHashAggregate "sort fallback" SQL metric — so a venue
    // comparison (driver vs isolated) names WHICH stage multiplies its
    // CPU, and whether collect_set/min-agg fell back to sort-based
    // aggregation (which burns CPU while every spill counter stays 0).
    final case class StageRec(name: String, cpuMs: Long, runMs: Long,
      sortFallback: Long, tasks: Int)
    // default now covers the graph family (round-11 verdict #1a): the
    // session-age CPU multiplier migrated from q_minhash_pairs to the
    // chained q_pagerank, and the committed r11 capture had no stage
    // records for it because only the minhash default was armed
    val stageQueries = sys.env.get("SPARK_GRAFT_STAGE_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set("q_minhash_pairs", "q_pagerank",
        "q_pagerank_converged", "q_reachability"))
    val stageBuf = new java.util.concurrent.ConcurrentLinkedQueue[StageRec]()
    @volatile var stageCapture = false
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = e.taskMetrics
          if (m != null) {
            spillMem.addAndGet(m.memoryBytesSpilled)
            spillDisk.addAndGet(m.diskBytesSpilled)
          }
        }
        override def onStageCompleted(
            e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
          if (stageCapture) {
            val si = e.stageInfo
            val tm = si.taskMetrics
            if (tm != null) {
              val fb = si.accumulables.values
                .filter(a => a.name.exists(_.contains("sort fallback")))
                .flatMap(_.value.map(_.toString).flatMap(v =>
                  scala.util.Try(v.toLong).toOption))
                .sum
              stageBuf.add(StageRec(si.name.takeWhile(_ != '\n').take(120),
                tm.executorCpuTime / 1000000L, tm.executorRunTime, fb,
                si.numTasks))
              ()
            }
          }
      })
    val stageLog =
      scala.collection.mutable.ArrayBuffer.empty[(String, Seq[StageRec])]
    // Round-10 verdict #2: round 9 proved the driver-session-only
    // inflation is OUTSIDE Spark's storage accounting (every instrumented
    // channel flat at zero in the driver's own JSONL), so instrument the
    // channels that are still dark — cumulative JVM GC time, process CPU
    // vs wall over each query's timed runs (wall ≫ cpu ⇒ external/host
    // contention; cpu ≈ wall but gc-heavy ⇒ heap), and a PIVOT DRIFT
    // probe (re-time q_star_join periodically) so a mid-run host-epoch
    // shift is visible and per-query medians can be drift-normalized.
    def gcCumMs: Long = {
      val it = java.lang.management.ManagementFactory
        .getGarbageCollectorMXBeans.iterator()
      var s = 0L
      while (it.hasNext) { val t = it.next().getCollectionTime; if (t > 0) s += t }
      s
    }
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    def procCpuNs: Long = osBean match {
      case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
      case _ => -1L
    }
    // Round-11 verdict #1: twice now a query has multiplied its CPU only
    // in the aged driver session while GC/spill/storage/shuffle all read
    // flat — the remaining dark channels are the JIT itself. Cumulative
    // JIT compilation time names "the compiler is re-doing work";
    // code-cache occupancy names "the compiler STOPPED doing work" (a
    // full code cache silently disables compilation and generated code
    // runs interpreted — exactly a ~5× CPU multiplier with every Spark
    // channel flat); loaded-class count tracks codegen-class churn.
    val compBean = java.lang.management.ManagementFactory.getCompilationMXBean
    def jitCumMs: Long =
      if (compBean != null && compBean.isCompilationTimeMonitoringSupported)
        compBean.getTotalCompilationTime
      else -1L
    def codeCacheUsed: Long = {
      val it = java.lang.management.ManagementFactory
        .getMemoryPoolMXBeans.iterator()
      var s = 0L
      while (it.hasNext) {
        val p = it.next()
        val n = p.getName
        if (n.contains("CodeHeap") || n.contains("Code Cache")) {
          val u = p.getUsage
          if (u != null) s += u.getUsed
        }
      }
      s
    }
    val classBean = java.lang.management.ManagementFactory.getClassLoadingMXBean
    // Deterministic storage sweep: clearCache drops table caches but is
    // blind to localCheckpoint blocks (terminal results, any round
    // frames an operator failed to release), which otherwise wait for
    // a driver GC to let the ContextCleaner run — demonstrably too
    // late 150 queries into a suite (round-6 driver medians for the
    // checkpoint-heavy family inflated 3.5–4.8× vs isolated runs while
    // System.gc() alone was in place). Between queries NOTHING is
    // legitimately persisted, so unpersist every surviving RDD by
    // handle — synchronous map removal, no GC required. Round 7's
    // residual driver-only inflation moved the same mechanism to
    // BROADCAST blocks (one per broadcast join, GC+ContextCleaner
    // reclaimed), so the sweep destroys those by id too — every
    // broadcast created since session baseline is from a completed
    // run of this single-query-at-a-time loop, so none can be read
    // again. ...and shuffle state (round 9): each completed wide stage
    // leaves map-output files on local disk plus driver-side
    // ShuffleStatus, reclaimed only via GC + ContextCleaner — swept by
    // id for the same reason.
    def sweep(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      graft.operators.Eager
        .releaseBroadcastsSince(spark, bcBaseline, force = true)
      val sc = spark.sparkContext
      org.apache.spark.graft.Storage.shuffleIds(sc)
        .foreach(id =>
          org.apache.spark.graft.Storage.removeShuffle(sc, id, blocking = false))
    }
    // The pivot probe: q_star_join (the round-6 adjudication pivot) timed
    // as min-of-2 at suite start, every 25th query, and suite end. Its
    // trajectory IS the host epoch: a flat pivot with an inflated query
    // median means the query; a ramping pivot means the session/host.
    final case class PivotRow(atIndex: Int, afterQuery: String, sec: Double,
      gcCum: Long)
    val pivotLog = scala.collection.mutable.ArrayBuffer.empty[PivotRow]
    val pivotFn = SparkEntry.queries.get("q_star_join")
    def probePivot(at: Int, after: String): Unit = pivotFn.foreach { fn =>
      val t = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count() } catch { case _: Throwable => }
        sweep()
        (System.nanoTime() - t0) / 1e9
      }.min
      pivotLog += PivotRow(at, after, t, gcCumMs)
    }
    // Per-query storage + host evidence (round-7 verdict #2, widened
    // rounds 9–10): broadcast blocks, cumulative spill, storage-pool
    // occupancy, block-manager local-disk usage, and registered shuffles
    // at each query's START (flat under working sweeps; accumulation in
    // any channel shows as a monotone ramp), plus the round-10 host
    // channels measured OVER the timed runs.
    final case class StorageRow(name: String, bcN: Int, bcMem: Long,
      bcDisk: Long, spillM: Long, spillD: Long, stUsed: Long, stMax: Long,
      diskN: Int, diskBytes: Long, shuffles: Int,
      gcCum: Long, wallRuns: Double, cpuRuns: Double, gcRuns: Long,
      jitCum: Long, jitRuns: Long, ccUsed: Long, classes: Long)
    val storageLog = scala.collection.mutable.ArrayBuffer.empty[StorageRow]
    val guardLog = scala.collection.mutable.ArrayBuffer
      .empty[(String, graft.operators.Guards.Decision)]
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    var qIndex = 0
    probePivot(0, "<start>")
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
      qIndex += 1
      val sc = spark.sparkContext
      val (bcN, bcMem, bcDisk) =
        org.apache.spark.graft.Storage.broadcastSummary(sc)
      val (stUsed, stMax) = org.apache.spark.graft.Storage.storageMemory(sc)
      val (diskN, diskBytes) = org.apache.spark.graft.Storage.localDiskUsage(sc)
      val shufflesAtStart = org.apache.spark.graft.Storage.shuffleIds(sc).size
      val gcAtStart = gcCumMs
      val jitAtStart = jitCumMs
      val ccAtStart = codeCacheUsed
      val classesAtStart = classBean.getTotalLoadedClassCount
      // one UNTIMED warm-up execution first: a fresh JVM pays ~seconds of
      // whole-stage-codegen JIT inside the first run of a heavy pipeline
      // (round-4 driver capture: q_dedup_clusters 10.4 s cold vs 4.8 s
      // committed median on identical code), and the median of 3 can't
      // hide that when the cold run lands in the middle of a noisy pair.
      // Warming per-query (not one global pass) also keeps the isolated-
      // heap discipline below intact.
      try { fn(spark, sfDir).count() } catch { case _: Throwable => }
      sweep()
      // Codegen'd classes for this query's plan stay referenced by the
      // codegen cache, so the JIT warm-up survives the GC.
      System.gc()
      // A swallowed exception is WORSE than a crash here: the failed
      // run's wall time is near-zero and its "median" reads as a
      // spectacular speedup (round 9: an UNRESOLVED_ROUTINE registration
      // bug benched q_ann_recall at 0.2 s for a 14 s query). Failures
      // are LOUD — logged per run with the real exception, counted
      // into the stdout JSON's "errors" field, and the query's time is
      // poisoned to a sentinel so no one mistakes it for a result.
      val captureStages = stageQueries.contains(name)
      if (captureStages) { stageBuf.clear(); stageCapture = true }
      val blockT0 = System.nanoTime()
      val cpuT0 = procCpuNs
      val gcT0 = gcCumMs
      val jitT0 = jitCumMs
      val times = (1 to runs).map { _ =>
        val t0 = System.nanoTime()
        val failed =
          try { fn(spark, sfDir).count(); false }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: $e")
            errors(name) = e.toString.takeWhile(_ != '\n').take(200)
            true
          }
        val dt = (System.nanoTime() - t0) / 1e9
        // release per-query persisted frames (e.g. near-dup shingle
        // sets) AND this run's checkpoint blocks before the next run
        sweep()
        if (failed) -1.0 else dt
      }.sorted
      // cpu-vs-wall over the WHOLE timed block (runs + their sweeps):
      // same interval for both clocks, so the ratio is meaningful
      val wallRuns = (System.nanoTime() - blockT0) / 1e9
      val cpuRuns =
        if (cpuT0 < 0) -1.0 else (procCpuNs - cpuT0) / 1e9
      val gcRuns = gcCumMs - gcT0
      val jitRuns = if (jitT0 < 0) -1L else jitCumMs - jitT0
      if (captureStages) {
        stageCapture = false
        val recs = Iterator.continually(stageBuf.poll())
          .takeWhile(_ != null).toSeq
        // aggregate by stage name across the timed runs; top CPU burners
        // only — enough to name the multiplying stage without flooding
        val agg = recs.groupBy(_.name).map { case (n, rs) =>
          StageRec(n, rs.map(_.cpuMs).sum, rs.map(_.runMs).sum,
            rs.map(_.sortFallback).sum, rs.map(_.tasks).sum)
        }.toSeq.sortBy(-_.cpuMs).take(10)
        stageLog += name -> agg
      }
      storageLog += StorageRow(name, bcN, bcMem, bcDisk, spillMem.get,
        spillDisk.get, stUsed, stMax, diskN, diskBytes, shufflesAtStart,
        gcAtStart, wallRuns, cpuRuns, gcRuns,
        jitAtStart, jitRuns, ccAtStart, classesAtStart)
      // size-guard decisions this query's runs took (round-13 verdict
      // #5): drained per query, deduped across the repeat runs, written
      // to the storage JSONL so the capture carries the decisions its
      // timings were taken under (PlanLintSpec pins the sf0.001 set)
      guardLog ++= graft.operators.Guards.drain()
        .map(d => name -> d).distinct
      // Full GC BETWEEN queries, not between the runs of one query: the
      // sweep above already freed storage deterministically, but
      // broadcasts/codegen-cache churn still benefit from one collection
      // per query — while a GC INSIDE the repeat loop forces
      // micro-batch-heavy streaming queries to re-JIT every run
      // (measured: q_stream_interval_outer 5.4 s → 12 s). Each query
      // starts from an isolated heap; its repeats measure steady state.
      System.gc()
      if (qIndex % 25 == 0) probePivot(qIndex, name)
      name -> times(times.length / 2)
    }
    probePivot(qIndex, "<end>")
    // SAME-JVM fresh-vs-aged REPLAY (round-11 verdict #2): twice a query
    // has multiplied its CPU only in the aged driver session — each time
    // costing a round of cross-venue adjudication because the effect was
    // only reproducible as "driver vs isolated". After the full suite,
    // re-bench the worst-N queries (plus the stage-armed set) in THIS
    // aged JVM and emit per-query suite-median vs aged-replay deltas:
    // any query whose aged/suite ratio exceeds 1.5 is named
    // automatically, with stage attribution captured for the replay
    // runs. Replay uses min-of-2 (not median-of-3): the question is "is
    // even the BEST aged run inflated", and min is robust to one noise
    // spike while halving the replay cost.
    val replayN = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPLAY", "6").toInt
    final case class ReplayRow(name: String, suite: Double, aged: Double,
      cpu: Double, jit: Long)
    val replayLog = scala.collection.mutable.ArrayBuffer.empty[ReplayRow]
    if (replayN > 0 && results.nonEmpty) {
      val byMedian = results.filter(_._2 >= 0).sortBy(-_._2)
      val names = (byMedian.take(replayN).map(_._1) ++
        stageQueries.filter(q => results.exists(_._1 == q))).distinct
      val suiteOf = results.toMap
      names.foreach { name =>
        SparkEntry.queries.get(name).foreach { fn =>
          stageBuf.clear(); stageCapture = true
          val cpuT0 = procCpuNs
          val jitT0 = jitCumMs
          val ts = (1 to 2).map { _ =>
            val t0 = System.nanoTime()
            val failed =
              try { fn(spark, sfDir).count(); false }
              catch { case e: Throwable =>
                System.err.println(s"[bench] replay $name FAILED: $e"); true
              }
            val dt = (System.nanoTime() - t0) / 1e9
            sweep()
            if (failed) -1.0 else dt
          }
          val cpuD = if (cpuT0 < 0) -1.0 else (procCpuNs - cpuT0) / 1e9
          val jitD = if (jitT0 < 0) -1L else jitCumMs - jitT0
          stageCapture = false
          val recs = Iterator.continually(stageBuf.poll())
            .takeWhile(_ != null).toSeq
          val agg = recs.groupBy(_.name).map { case (n, rs) =>
            StageRec(n, rs.map(_.cpuMs).sum, rs.map(_.runMs).sum,
              rs.map(_.sortFallback).sum, rs.map(_.tasks).sum)
          }.toSeq.sortBy(-_.cpuMs).take(10)
          stageLog += s"replay:$name" -> agg
          val aged = if (ts.exists(_ < 0)) -1.0 else ts.min
          replayLog += ReplayRow(name, suiteOf.getOrElse(name, -1.0), aged,
            cpuD, jitD)
          System.gc()
        }
      }
      probePivot(qIndex, "<post-replay>")
    }
    // Micro-batch FLOOR channel (round-12 verdict #5): for each
    // streaming query benched above, time an EMPTY-batch stream of the
    // same batch count through the same sink machinery (min-of-2 per
    // distinct spec — the question is the fixed floor, not a median),
    // so the committed capture separates plan-attributable time from
    // scheduling/commit floors. ~60 s of the suite total is q_stream_*
    // and every cross-round dispute has landed there.
    val floorSpecs = SparkEntry.streamFloorSpec
      .filter { case (q, _) => results.exists(_._1 == q) }
    val floorBySpec = floorSpecs.values.toSet.toSeq.map { spec: (Int, Boolean) =>
      val (n, c) = spec
      // min over SUCCESSFUL attempts only (round-13 ADVICE): a failed
      // attempt's -1.0 sentinel must not shadow a good measurement —
      // -1.0 survives only when both attempts fail
      val attempts = (1 to 2).map { _ =>
        val t =
          try graft.streaming.Streaming.streamFloor(spark, n, c)
          catch { case e: Throwable =>
            System.err.println(s"[bench] floor($n,$c) FAILED: $e"); -1.0
          }
        sweep()
        t
      }.filter(_ >= 0.0)
      spec -> (if (attempts.isEmpty) -1.0 else attempts.min)
    }.toMap
    val floorOf = floorSpecs.toSeq
      .map { case (q, spec) => q -> floorBySpec(spec) }.sortBy(_._1)
    val total = results.map(_._2).sum
    def r3(d: Double): Double = math.rint(d * 1000) / 1000
    def r2(d: Double): Double = math.rint(d * 100) / 100
    // storage + host evidence file: one line per query (fields at query
    // start + the timed-block host channels), pivot probes interleaved
    // as their own records (distinguished by the "pivot" key)
    try {
      val p = java.nio.file.Paths.get("docs", "BENCH_storage_last.jsonl")
      java.nio.file.Files.createDirectories(p.getParent)
      val qLines = storageLog.map { r =>
        s"""{"query":"${r.name}","bc_blocks":${r.bcN},"bc_mem":${r.bcMem},""" +
          s""""bc_disk":${r.bcDisk},"spill_mem_cum":${r.spillM},""" +
          s""""spill_disk_cum":${r.spillD},"storage_used":${r.stUsed},""" +
          s""""storage_max":${r.stMax},"local_disk_files":${r.diskN},""" +
          s""""local_disk_bytes":${r.diskBytes},"shuffles":${r.shuffles},""" +
          s""""gc_cum_ms":${r.gcCum},"wall_runs_sec":${r2(r.wallRuns)},""" +
          s""""cpu_runs_sec":${r2(r.cpuRuns)},"gc_runs_ms":${r.gcRuns},""" +
          s""""jit_cum_ms":${r.jitCum},"jit_runs_ms":${r.jitRuns},""" +
          s""""code_cache_used":${r.ccUsed},"classes_loaded":${r.classes}}"""
      }
      val pLines = pivotLog.map { r =>
        s"""{"pivot":"q_star_join","at_index":${r.atIndex},""" +
          s""""after":"${r.afterQuery}","sec":${r3(r.sec)},""" +
          s""""gc_cum_ms":${r.gcCum}}"""
      }
      def esc(s: String): String =
        s.replace("\\", "\\\\").replace("\"", "\\\"")
      val sLines = stageLog.map { case (q, recs) =>
        val arr = recs.map(r =>
          s"""{"stage":"${esc(r.name)}","cpu_ms":${r.cpuMs},""" +
            s""""run_ms":${r.runMs},"sort_fallback_tasks":${r.sortFallback},""" +
            s""""tasks":${r.tasks}}""").mkString("[", ",", "]")
        s"""{"stages_for":"$q","stages":$arr}"""
      }
      val gLines = guardLog.map { case (q, d) =>
        s"""{"guard":"${esc(d.site)}","query":"$q","n":${d.n},""" +
          s""""decision":"${esc(d.decision)}"}"""
      }
      val lines = (qLines ++ pLines ++ sLines ++ gLines).mkString("", "\n", "\n")
      java.nio.file.Files.write(p, lines.getBytes("UTF-8"))
    } catch { case e: Exception =>
      System.err.println(s"warn: storage log not written: ${e.getMessage}")
    }
    val bcMaxBlocks = if (storageLog.isEmpty) 0 else storageLog.map(_.bcN).max
    val bcMaxMem = if (storageLog.isEmpty) 0L else storageLog.map(_.bcMem).max
    // headline accumulation indicators for the stdout line: peak
    // local-disk bytes at a query start (flat ≈ no file accumulation)
    // and total spill over the whole suite
    val diskMaxBytes = if (storageLog.isEmpty) 0L else storageLog.map(_.diskBytes).max
    val spillTotal = spillDisk.get
    // suite-level host summary: total GC ms, total cpu vs wall over all
    // timed blocks, and the pivot drift series (first→last trajectory)
    val gcTotalMs = if (storageLog.isEmpty) 0L else storageLog.map(_.gcRuns).sum
    val cpuTotal = storageLog.map(r => math.max(0.0, r.cpuRuns)).sum
    val wallTotal = storageLog.map(_.wallRuns).sum
    val pivotSeries = pivotLog.map(r => r3(r.sec)).mkString("[", ",", "]")
    // Pivot-drift-NORMALIZED medians (round-10 verdict #2): each
    // query's median divided by the pivot time interpolated to that
    // query's position in the run, so a mid-session host-epoch shift
    // divides out and the round-over-round 2× gate compares like with
    // like. Unit: pivot-multiples (q_star_join ≡ ~1.0).
    val pivotByIdx = pivotLog.map(p => (p.atIndex, p.sec)).toSeq.sortBy(_._1)
    def pivotAt(j: Int): Double =
      if (pivotByIdx.isEmpty) 1.0
      else {
        val before = pivotByIdx.filter(_._1 <= j)
        val after = pivotByIdx.filter(_._1 >= j)
        (before.lastOption, after.headOption) match {
          case (Some((i0, p0)), Some((i1, p1))) if i1 > i0 =>
            p0 + (p1 - p0) * (j - i0).toDouble / (i1 - i0).toDouble
          case (Some((_, p0)), _) => p0
          case (_, Some((_, p1))) => p1
          case _ => 1.0
        }
      }
    val normVals = results.zipWithIndex.map { case ((k, v), idx) =>
      val p = pivotAt(idx + 1)
      k -> (if (v < 0 || p <= 0) -1.0 else v / p)
    }
    val normQs = normVals.map { case (k, v) =>
      s"\"" + k + "\":" + (if (v < 0) -1.0 else r3(v))
    }.mkString("{", ",", "}")
    // pivot-normalized TOTAL (round-10 verdict #7): the round-over-round
    // gate should compare this, not the raw wall total — unit is
    // pivot-multiples (Σ median/pivot), immune to host-epoch shifts.
    // Poisoned to -1 when ANY query errored (round-11 ADVICE): a failed
    // query's missing term would otherwise read as a round-over-round
    // SPEEDUP on the very gate this metric feeds.
    val totalPivotNorm =
      if (errors.nonEmpty) -1.0
      else r2(normVals.collect { case (_, v) if v >= 0 => v }.sum)
    // Full-precision per-query map goes to a FILE: the harness captures
    // only the last ~2000 chars of stdout, and 90 queries at full double
    // precision overflow that window — round 3's bench line was cut
    // mid-JSON and recorded as unparseable. The stdout line stays compact
    // (total + the slowest queries, 3-decimal) and always fits.
    val fullQs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // replay columns (round-11 verdict #2): suite median vs same-JVM
    // aged replay (min-of-2) per replayed query, plus the replay block's
    // own CPU and JIT-compile time — the aged/fresh ratio IS the
    // session-age effect, reproducible from one committed capture
    def escJ(s: String): String =
      s.replace("\\", "\\\\").replace("\"", "\\\"")
    val replayJson = replayLog.map { r =>
      val ratio = if (r.suite > 0 && r.aged >= 0) r3(r.aged / r.suite) else -1.0
      s""""${r.name}":{"suite":${r3(r.suite)},"aged":${r3(r.aged)},""" +
        s""""ratio":$ratio,"cpu_sec":${r2(r.cpu)},"jit_ms":${r.jit}}"""
    }.mkString("{", ",", "}")
    val replayFlagged = replayLog
      .filter(r => r.suite > 0 && r.aged >= 0 && r.aged / r.suite > 1.5)
      .map(r => s"\"${r.name}\"").mkString("[", ",", "]")
    // per-armed-query stage summary PROMOTED into the committed full
    // JSON (round-11 verdict #7): top-3 stages by CPU + sort-fallback
    // task count, so round-over-round stage drift is diffable without
    // parsing the JSONL side-channel
    val stagesJson = stageLog.map { case (q, recs) =>
      val arr = recs.take(3).map(r =>
        s"""{"stage":"${escJ(r.name)}","cpu_ms":${r.cpuMs},""" +
          s""""run_ms":${r.runMs},"sort_fallback_tasks":${r.sortFallback},""" +
          s""""tasks":${r.tasks}}""").mkString("[", ",", "]")
      s""""${escJ(q)}":$arr"""
    }.mkString("{", ",", "}")
    // floors channel: per streaming query the measured empty-batch
    // floor, plus the floor-adjusted medians' heaviest entry (the
    // "heaviest plan-attributable streaming query" BENCH_NOTES names)
    val floorsJson = floorOf.map { case (q, f) =>
      s"\"" + q + "\":" + r3(f)
    }.mkString("{", ",", "}")
    val suiteOfAll = results.toMap
    // exclude failed-floor sentinels (f < 0, round-13 ADVICE): m−(−1)
    // would inflate the entry and could misname the heaviest query
    val heaviestPlanStream = floorOf
      .filter(_._2 >= 0.0)
      .flatMap { case (q, f) =>
        suiteOfAll.get(q).filter(_ >= 0).map(m => q -> (m - f))
      }.sortBy(-_._2).headOption
      .map { case (q, s) => s""""$q@${r3(s)}"""" }.getOrElse("\"\"")
    val fullLine = s"""{"metric":"total","value":$total,"unit":"sec","total_pivot_norm":$totalPivotNorm,"queries":$fullQs,"queries_pivot_norm":$normQs,"pivot_drift":$pivotSeries,"gc_total_ms":$gcTotalMs,"cpu_total_sec":${r2(cpuTotal)},"wall_total_sec":${r2(wallTotal)},"replay":$replayJson,"replay_flagged":$replayFlagged,"stages":$stagesJson,"floors":$floorsJson,"heaviest_plan_stream":$heaviestPlanStream,"sf":"$sfDir","runs_per_query":$runs}"""
    val fullPath = java.nio.file.Paths.get("docs", "BENCH_last_full.json")
    // advertise the file in the stdout line only if THIS run's write
    // succeeded — otherwise a consumer would resolve the path to a stale
    // committed file and read a previous run's medians as this run's
    val fullRef =
      try {
        java.nio.file.Files.createDirectories(fullPath.getParent)
        java.nio.file.Files.write(fullPath, (fullLine + "\n").getBytes("UTF-8"))
        s""""full":"${fullPath.toAbsolutePath}","""
      } catch { case e: Exception =>
        System.err.println(s"warn: could not write $fullPath: ${e.getMessage}")
        ""
      }
    // largest top-N (by time) that keeps the printed line under budget
    val byTime = results.sortBy(-_._2)
    def line(n: Int): String = {
      val qs = byTime.take(n).sortBy(_._1)
        .map { case (k, v) => s"\"" + k + "\":" + r3(v) }
        .mkString("{", ",", "}")
      val rp = replayLog.map { r =>
        val ratio = if (r.suite > 0 && r.aged >= 0) r3(r.aged / r.suite) else -1.0
        s""""${r.name}":$ratio"""
      }.mkString("{", ",", "}")
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","total_pivot_norm":$totalPivotNorm,"queries":$qs,"n_queries":${results.length},"n_errors":${errors.size},"top_n":${math.min(n, results.length)},$fullRef"bc_max_blocks":$bcMaxBlocks,"bc_max_mem":$bcMaxMem,"disk_max_bytes":$diskMaxBytes,"spill_disk_total":$spillTotal,"gc_total_ms":$gcTotalMs,"cpu_total_sec":${r2(cpuTotal)},"wall_total_sec":${r2(wallTotal)},"replay_aged_ratio":$rp,"replay_flagged":$replayFlagged,"floor_total_sec":${r2(floorOf.map(f => math.max(0.0, f._2)).sum)},"heaviest_plan_stream":$heaviestPlanStream,"pivot_drift":$pivotSeries,"sf":"$sfDir","runs_per_query":$runs}"""
    }
    if (errors.nonEmpty)
      System.err.println(s"[bench] ${errors.size} QUERY FAILURE(S): " +
        errors.map { case (q, e) => s"$q -> $e" }.mkString("; "))
    val out = (results.length to 1 by -1).view.map(line).find(_.length <= 1500).getOrElse(line(1))
    println(out)
    spark.stop()
  }
}
