package graft

import org.apache.spark.sql.functions._

import graft.Harness.r3

/** The end-to-end curation capstone: the full curation assembly line
  * (the exact `q_pipeline_curate` fixture) plus the two stored-index
  * builds it and the ANN family depend on, timed in ONE JVM at
  * `SPARK_GRAFT_SF_DIR`, with a per-stage CPU breakdown of the curate
  * query's timed runs (the stage records graft.Bench writes). Run it at
  * sf0.1 and sf1 back-to-back and the per-phase ratios ARE the 10×
  * exponents.
  *
  * Phases (each [[Harness.Runs]] timed runs, median; every run is
  * followed by the full [[Harness.sweep]] of cached frames, checkpoint
  * blocks, broadcasts and shuffles, so no phase inherits another's):
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
  * The pivot ([[Harness.pivot]]) runs before and after so the capture
  * carries its own epoch context. Prints one JSON line.
  */
object CurateCapstone {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val bcBaseline = graft.operators.Eager.broadcastSnapshot(spark)
    val recorder = new Harness.Recorder(spark)

    def table(n: String) = graft.sources.Sources.table(spark, sfDir, n)
    def sweep(): Unit = Harness.sweep(spark, bcBaseline)
    def median(f: () => Unit): Double =
      Harness.median((1 to Harness.Runs).map(_ => Harness.seconds { f(); sweep() }))
    def pivot(): Double = Harness.pivot(spark, sfDir, bcBaseline)

    val scratch = java.nio.file.Files.createTempDirectory("graft_capstone")
    def fresh(tag: String): String = {
      val p = scratch.resolve(tag)
      graft.operators.IndexStore.deleteRec(p.toFile)
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
    val (curate, topStages) = recorder.stages(12)(
      median(() => { curateFn(spark, sfDir).count(); () }))
    val pivot1 = pivot()

    println(Harness.json(Harness.obj("capstone" -> "curate", "sf" -> sfDir,
      "runs" -> Harness.Runs, "pivot_before" -> r3(pivot0),
      "pivot_after" -> r3(pivot1), "build_neardup" -> r3(buildNd),
      "build_ivf" -> r3(buildIvf), "curate_query" -> r3(curate),
      "curate_stages" -> topStages.map(r => Harness.obj("stage" -> r.stage,
        "cpu_ms" -> r.cpuMs, "run_ms" -> r.runMs, "tasks" -> r.tasks)))))
    spark.stop()
  }
}
