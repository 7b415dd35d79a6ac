package graft

import org.apache.spark.sql.functions._

/** Round-15 verdict #7 measurement rig — the end-to-end 10× capstone:
  * the FULL curation assembly line (the exact `q_pipeline_curate`
  * fixture) plus the two stored-index builds it and the ANN family
  * depend on, timed in ONE JVM at the SF dir the env names, with a
  * per-stage CPU breakdown of the curate query's timed runs (the same
  * stage listener channel graft.Bench commits). Run it at sf0.1 and
  * sf1 back-to-back and the per-phase ratios ARE the 10× exponents.
  *
  * Phases (each `SPARK_GRAFT_AB_RUNS` timed runs, median):
  *  - build_neardup: [[graft.operators.NearDup.writeNearDupIndex]] of
  *    the curate corpus (docs ∪ exact copies ∪ truncated twins, the
  *    q_pipeline_curate fixture) into a FRESH scratch path per run —
  *    the from-nothing index build a new corpus pays once;
  *  - build_ivf: [[graft.operators.Similarity.writeIvfIndex]] of the
  *    embeddings table (nc=16) into fresh scratch — the ANN build;
  *  - curate: the declared `q_pipeline_curate` plan via
  *    [[SparkEntry.queries]], counted exactly as the bench counts it
  *    (the shared probe index exists after the warm-up, as in the
  *    bench, so this prices the PIPELINE, not the one-time build).
  *
  * The pivot (q_star_join, min-of-2) runs before and after so the
  * capture carries its own epoch context. Prints one JSON line.
  */
object CurateCapstone {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = sys.env.getOrElse("SPARK_GRAFT_AB_RUNS", "3").toInt
    val spark = Session.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // per-stage CPU attribution for the curate query's timed runs —
    // the graft.Bench stage channel, duplicated here because the rig
    // times non-query phases the bench cannot
    final case class StageRec(name: String, cpuMs: Long, runMs: Long,
      tasks: Int)
    val stageBuf = new java.util.concurrent.ConcurrentLinkedQueue[StageRec]()
    @volatile var capture = false
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
          if (capture) {
            val si = e.stageInfo
            val tm = si.taskMetrics
            if (tm != null) {
              stageBuf.add(StageRec(si.name.takeWhile(_ != '\n').take(120),
                tm.executorCpuTime / 1000000L, tm.executorRunTime,
                si.numTasks))
              ()
            }
          }
      })

    def table(n: String) = graft.sources.Sources.table(spark, sfDir, n)
    def sweep(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    def median(f: () => Unit): Double = {
      val ts = (1 to runs).map { _ =>
        val t0 = System.nanoTime()
        f()
        sweep()
        (System.nanoTime() - t0) / 1e9
      }.sorted
      ts(ts.length / 2)
    }
    def pivot(): Double = {
      val fn = SparkEntry.queries("q_star_join")
      (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        sweep()
        (System.nanoTime() - t0) / 1e9
      }.min
    }
    def r3(d: Double): Double = math.rint(d * 1000) / 1000

    val scratch = java.nio.file.Files.createTempDirectory("graft_capstone")
      .toString
    def fresh(tag: String): String = {
      val p = new java.io.File(scratch, tag)
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(p)
      p.toString
    }

    // the exact q_pipeline_curate corpus fixture
    val d = table("documents")
    val base = d.select(col("doc_id"), col("text"), col("lang"), col("source"))
    val corpus = base
      .unionByName(base.select((col("doc_id") + 1000000).as("doc_id"),
        col("text"), col("lang"), col("source")))
      .unionByName(base.select((col("doc_id") + 2000000).as("doc_id"),
        col("text").substr(lit(1), length(col("text")) - 10).as("text"),
        col("lang"), col("source")))
    val emb = table("embeddings").select("vec_id", "embedding")

    val pivot0 = pivot()
    // warm-up: one full curate run (also ensures the shared probe index
    // exists, exactly as the bench's untimed warm-up does) + one of
    // each build, so codegen/JIT is out of every phase's median
    val curateFn = SparkEntry.queries("q_pipeline_curate")
    curateFn(spark, sfDir).count()
    graft.operators.NearDup.writeNearDupIndex(corpus, col("doc_id"),
      col("text"), n = 5, k = 8, fresh("nd_warm"))
    graft.operators.Similarity.writeIvfIndex(emb, "vec_id", "embedding",
      nCentroids = 16, path = fresh("ivf_warm"))
    sweep()

    var i = 0
    val buildNd = median { () =>
      i += 1
      graft.operators.NearDup.writeNearDupIndex(corpus, col("doc_id"),
        col("text"), n = 5, k = 8, fresh(s"nd_$i"))
    }
    val buildIvf = median { () =>
      i += 1
      graft.operators.Similarity.writeIvfIndex(emb, "vec_id", "embedding",
        nCentroids = 16, path = fresh(s"ivf_$i"))
    }
    stageBuf.clear(); capture = true
    val curate = median(() => { curateFn(spark, sfDir).count(); () })
    capture = false
    val recs = Iterator.continually(stageBuf.poll())
      .takeWhile(_ != null).toSeq
    val topStages = recs.groupBy(_.name).map { case (n, rs) =>
      StageRec(n, rs.map(_.cpuMs).sum, rs.map(_.runMs).sum,
        rs.map(_.tasks).sum)
    }.toSeq.sortBy(-_.cpuMs).take(12)
    val pivot1 = pivot()

    def esc(s: String): String =
      s.replace("\\", "\\\\").replace("\"", "\\\"")
    val stagesJson = topStages.map(r =>
      s"""{"stage":"${esc(r.name)}","cpu_ms":${r.cpuMs},""" +
        s""""run_ms":${r.runMs},"tasks":${r.tasks}}""").mkString("[", ",", "]")
    println(s"""{"capstone":"curate","sf":"$sfDir","runs":$runs,""" +
      s""""pivot_before":${r3(pivot0)},"pivot_after":${r3(pivot1)},""" +
      s""""build_neardup":${r3(buildNd)},"build_ivf":${r3(buildIvf)},""" +
      s""""curate_query":${r3(curate)},"curate_stages":$stagesJson}""")
    spark.stop()
  }
}
