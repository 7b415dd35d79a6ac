package graft

import org.apache.spark.sql.SparkSession

/** The engine settings every graft session runs with — the harness
  * mains (Bench, Verify, CurateCapstone, GenScale, Explain) and the
  * spec suite all build from here, so they cannot drift apart.
  * Callers add only what is theirs (Explain's `graft.eagerRelease`,
  * the extensions spec's `withExtensions`) before `getOrCreate`.
  */
object Session {

  /** Shuffle width of every micro-batch (`graft.stream.shufflePartitions`,
    * read by [[graft.streaming.Streaming]]). */
  private val StreamShufflePartitions = 8

  /** Local-mode slots: `SPARK_GRAFT_CPUS` if set, else every core the
    * JVM sees. The one reader of that variable. */
  private def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** A builder carrying the engine settings: `local[cpus]` with `cpus`
    * batch shuffle partitions, UTC, nanos-as-long parquet timestamps
    * (the older testdata layout; see Sources.normalizeTs), AQE, the
    * stream shuffle width, and no UI.
    *
    * The shuffle-writer bypass threshold equals the stream width: Spark
    * uses the bypass writer (one file per reducer per map task) only at
    * ≤ threshold reducers, so the 8-reducer micro-batch exchanges keep
    * that fast path while wider batch exchanges use the serialized sort
    * writer (one spill file + index per map task). At 32 slots the
    * serialized writer cut CPU 53% on the worst batch family, and
    * keeping the bypass path for streams took the stream family from
    * 63.4 to 56.5 s, with identical results (docs/r15/,
    * OPTIMIZATION_r15 §1).
    *
    * Generated whole-stage classes are all named `GeneratedIterator`,
    * not `GeneratedIteratorForCodegenStageN`: N is a stage id that AQE
    * assigns in an order that depends on timing, and the codegen cache
    * keys on the source text, so with the id in the name a warm query
    * recompiles classes that differ only in N. */
  def builder(cpus: Int = defaultCpus): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("graft.stream.shufflePartitions", StreamShufflePartitions.toLong)
      .config("spark.shuffle.sort.bypassMergeThreshold",
        StreamShufflePartitions.toLong)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.useIdInClassName", "false")
}
