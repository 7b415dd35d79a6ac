package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One timed op: wall, process-CPU, JIT-compile and host-steal seconds,
  * whether it ran traced, the check verdict, bytes it left on disk, and
  * its layer figures. */
final case class Sample(wallS: Double, cpuS: Double, jitS: Double, stealS: Double,
    traced: Boolean, failure: Option[String], storedBytes: Long, layers: Map[String, Double]) {
  def ok: Boolean = failure.isEmpty
}

/** The closed loop: one client, the next op starts only after the
  * previous one has committed and been checked. */
object Loop {

  /** Time one op. A throw or a failed check makes a failed sample,
    * whose time is never used as a success's. */
  def timeOp(traced: Boolean, run: () => OpResult): Sample = {
    val j0 = Proc.jitMs()
    val s0 = Proc.stealS()
    val c0 = Proc.cpuNs()
    val t0 = System.nanoTime()
    val r = try run() catch {
      case e: Throwable => OpResult(0L, Some(s"threw ${e.getClass.getName}: ${e.getMessage}"))
    }
    val wall = (System.nanoTime() - t0) / 1e9
    Sample(wall, (Proc.cpuNs() - c0) / 1e9, (Proc.jitMs() - j0) / 1e3, Proc.stealS() - s0,
      traced, r.failure, r.storedBytes, Map.empty)
  }

  /** Run ops until `seconds` have passed (at least `minOps`). `op(i)`
    * runs op i, including its untimed reset and sweep. */
  def run(seconds: Double, minOps: Int, op: Int => Sample): Seq[Sample] = {
    val out = mutable.ArrayBuffer.empty[Sample]
    val t0 = System.nanoTime()
    while (out.size < minOps || (System.nanoTime() - t0) / 1e9 < seconds)
      out += op(out.size)
    out.toSeq
  }

  /** Median time of the successful samples (NaN when there are none). */
  def p50(samples: Seq[Sample], f: Sample => Double): Double = {
    val ok = samples.filter(_.ok)
    if (ok.isEmpty) Double.NaN else Stats.median(ok.map(f))
  }
}

/** Process and host readings: CPU and JIT time, generated classes,
  * peak RSS, load and steal. */
object Proc {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuNs(): Long = os.getProcessCpuTime

  private val jit = ManagementFactory.getCompilationMXBean

  /** Time the JIT compilers have spent so far, in ms. */
  def jitMs(): Long = jit.getTotalCompilationTime

  /** Generated-code classes Spark has compiled so far in this JVM. */
  def codegenCompiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def status(key: String): Option[Double] = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith(key + ":"))
      .map(_.split("\\s+")(1).toDouble)
    finally src.close()
  }

  /** Peak resident set (VmHWM) in MiB. */
  def peakRssMb(): Double = status("VmHWM").getOrElse(Double.NaN) / 1024

  def loadAvg1(): Double = {
    val src = scala.io.Source.fromFile("/proc/loadavg")
    try src.mkString.split("\\s+")(0).toDouble finally src.close()
  }

  /** Host-wide CPU seconds stolen from this machine by its hypervisor
    * so far (the `steal` column of /proc/stat). */
  def stealS(): Double = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().next().split("\\s+")(8).toDouble / 100 finally src.close()
  }
}

object Main {
  val setupReps = 3
  val warmupOps = 1
  val minOps = 2

  /** End-to-end metrics (untraced run) with their units. */
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_p50_s" -> "s", "cpu_s_per_op" -> "s",
    "peak_rss_mb" -> "MiB", "stored_bytes_per_input_byte" -> "ratio")

  /** Per-layer metrics (traced run) with their units. Every run reports
    * all of them; a layer a workload does not use reads 0. */
  val perLayer: Seq[(String, String)] = Seq(
    "sources.read_s" -> "s", "sources.input_rows" -> "count", "sources.input_bytes" -> "bytes",
    "transforms.news_s" -> "s", "transforms.posts_s" -> "s", "transforms.bars_s" -> "s",
    "transforms.rows_kept_ratio" -> "ratio",
    "schemas.conform_s" -> "s", "schemas.uniqueness_s" -> "s",
    "schemas.uniqueness_violations" -> "count",
    "sinks.write_partitioned_s" -> "s", "sinks.append_new_s" -> "s",
    "sinks.rows_offered" -> "count", "sinks.rows_appended" -> "count",
    "sinks.append_ratio" -> "ratio", "sinks.files_written" -> "count",
    "sinks.bytes_written" -> "bytes",
    "corpus.curate_s" -> "s", "corpus.docs_in" -> "count", "corpus.docs_kept" -> "count",
    "corpus.keep_ratio" -> "ratio",
    "neardup.index_build_s" -> "s",
    "graph.pagerank_s" -> "s", "graph.ppr_s" -> "s", "graph.nodes" -> "count",
    "graph.edges" -> "count",
    "check_s" -> "s",
    "eager.broadcasts_left" -> "count", "eager.persisted_rdds_left" -> "count",
    "engine.jobs" -> "count", "engine.stages" -> "count", "engine.tasks" -> "count",
    "engine.slot_busy_ratio" -> "ratio", "engine.executor_cpu_s" -> "s", "engine.gc_s" -> "s",
    "engine.jit_s" -> "s", "engine.codegen_compiles" -> "count",
    "engine.shuffle_write_bytes" -> "bytes", "engine.shuffle_read_bytes" -> "bytes",
    "engine.scan_bytes" -> "bytes", "engine.spill_bytes" -> "bytes",
    "trace.op_p50_s" -> "s", "trace.overhead_s" -> "s", "trace.unattributed_s" -> "s")

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: File, slots: Int, heap: String, record: Option[File])

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    Opts(get("workload"), get("seed").toLong, get("seconds").toInt, get("trace") == "1",
      new File(get("work")), get("slots").toInt, m.getOrElse("heap", "?"),
      m.get("record").map(new File(_)))
  }

  def session(o: Opts): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${o.slots}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", o.slots.toString)
      .config("spark.default.parallelism", o.slots.toString)
      .config("graft.stream.shufflePartitions", o.slots.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.shuffle.sort.bypassMergeThreshold", "8")
      // room for every generated class the ops use, so warm ops reuse
      // compiled code instead of regenerating it (the default 100 entries
      // are fewer than one op needs)
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", new File(o.work, "spark-local").toString)
      .config("spark.sql.warehouse.dir", new File(o.work, "spark-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val load0 = Proc.loadAvg1()
    val steal0 = Proc.stealS()
    val spark = session(o)
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    try run(o, spark, sessionS, load0, steal0) finally spark.stop()
  }

  private def run(o: Opts, spark: SparkSession, sessionS: Double, load0: Double,
      steal0: Double): Unit = {
    val sc = spark.sparkContext
    val wl = Workload(o.workload, spark, o.work, o.seed)
    val sweeper = new Sweeper(spark)
    val engine = new EngineListener
    if (o.trace) sc.addSparkListener(engine)

    // set-up, several times: each regenerates the inputs and pristine state
    val setups = (1 to setupReps).map { _ =>
      val t0 = System.nanoTime()
      wl.setup()
      sweeper.sweep()
      (System.nanoTime() - t0) / 1e9
    }
    val setupCounters = wl.setupCounters

    val tracer = new Tracer(o.trace)
    val off = new Tracer(false)
    def oneOp(i: Int, traced: Boolean): Sample = {
      wl.restore()
      val t = if (traced) tracer else off
      if (traced) { org.apache.spark.perfbench.Bus.drain(sc); engine.reset() }
      t.beginOp(i)
      val compiles0 = Proc.codegenCompiles()
      val s = Loop.timeOp(traced, () => t.span("op")(wl.op(t)))
      val compiles = Proc.codegenCompiles() - compiles0
      val left = sweeper.sweep()
      if (!traced) s
      else {
        org.apache.spark.perfbench.Bus.drain(sc)
        val eng = engine.snapshot()
        val busy = eng.getOrElse("engine.task_run_s", 0.0) / (o.slots * s.wallS)
        s.copy(layers = t.opCounters ++ eng ++ left ++ Map(
          "engine.slot_busy_ratio" -> busy, "engine.jit_s" -> s.jitS,
          "engine.codegen_compiles" -> compiles.toDouble))
      }
    }

    val warm = (0 until warmupOps).map(i => oneOp(-1 - i, traced = false))
    // traced runs interleave untraced and traced ops (U T T U ...), so the
    // tracing overhead is measured in the same process, and a steady drift
    // of op times over the run weighs on both sides equally
    val samples = Loop.run(o.seconds, if (o.trace) 4 else minOps,
      i => oneOp(i, traced = o.trace && (i % 4 == 1 || i % 4 == 2)))
    val load1 = Proc.loadAvg1()

    val timed = samples.filter(_.traced == o.trace)
    val failures = (warm ++ samples).flatMap(_.failure)
    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) {
        val values = Map(
          "setup_s" -> Stats.median(setups),
          "op_p50_s" -> Loop.p50(timed, _.wallS),
          "cpu_s_per_op" -> Loop.p50(timed, _.cpuS),
          "peak_rss_mb" -> Proc.peakRssMb(),
          "stored_bytes_per_input_byte" ->
            Loop.p50(timed, _.storedBytes.toDouble) / setupCounters("sources.input_bytes"))
        endToEnd.map { case (n, u) => (n, values(n), u) }
      } else {
        val layer = layerMetrics(tracer, samples, setupCounters)
        perLayer.map { case (n, u) => (n, layer.getOrElse(n, 0.0), u) }
      }

    val env = Map(
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "task_slots" -> o.slots, "heap" -> o.heap,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory() / (1024 * 1024),
      "load_avg_1m_start" -> load0, "load_avg_1m_end" -> load1,
      "host_steal_s" -> (Proc.stealS() - steal0),
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}",
      "spark" -> spark.version)
    val record = Map(
      "workload" -> o.workload, "seed" -> o.seed, "seconds" -> o.seconds,
      "trace" -> o.trace, "env" -> env, "session_start_s" -> sessionS, "setup_runs_s" -> setups,
      "warmup_op_s" -> warm.map(_.wallS),
      "ops" -> samples.map(s => Map("wall_s" -> s.wallS, "cpu_s" -> s.cpuS, "jit_s" -> s.jitS,
        "host_steal_s" -> s.stealS,
        "traced" -> s.traced, "ok" -> s.ok, "failure" -> s.failure.getOrElse(""),
        "stored_bytes" -> s.storedBytes, "layers" -> s.layers)),
      "spans" -> tracer.all.map(s => Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "op" -> s.op, "start_ns" -> s.startNs, "end_ns" -> s.endNs)),
      "failures" -> failures)
    o.record.foreach { f =>
      java.nio.file.Files.write(f.toPath, json(record).getBytes("UTF-8"))
    }
    failures.distinct.take(5).foreach(f => System.err.println(s"perfbench: failed op: $f"))
    println(json(Map("env" -> env)))
    val result = Map(
      "correct" -> (failures.isEmpty && timed.nonEmpty),
      "attempted" -> timed.size,
      "failed" -> timed.count(!_.ok),
      "metrics" -> scala.collection.immutable.ListMap(metrics.map { case (n, v, u) =>
        n -> Map("value" -> (if (v.isNaN) 0.0 else v), "unit" -> u) }: _*))
    println(json(result))
  }

  private def json(v: AnyRef): String =
    org.json4s.jackson.Serialization.write(v)(org.json4s.DefaultFormats)

  /** Per-layer figures of a traced run: each the median over the traced
    * ops. Layer times are span self times; `trace.unattributed_s` is op
    * wall time not covered by any top-level span. */
  def layerMetrics(tracer: Tracer, samples: Seq[Sample],
      setupCounters: Map[String, Double]): Map[String, Double] = {
    val traced = samples.filter(s => s.traced && s.ok)
    val spans = tracer.all
    val self = Tracer.selfTimesNs(spans)
    val perOp: Seq[Map[String, Double]] = spans.filter(_.name == "op").map { root =>
      val mine = spans.filter(_.op == root.op)
      val times = mine.filter(_.parent != -1).groupBy(_.name).map { case (n, ss) =>
        s"${n}_s" -> ss.map(s => self(s.id)).sum / 1e9 }
      times ++ Map("trace.unattributed_s" -> self(root.id) / 1e9)
    }
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    val names = (perOp.flatMap(_.keys) ++ traced.flatMap(_.layers.keys)).distinct
    val fromOps = names.map { n =>
      val spanVals = perOp.map(_.getOrElse(n, 0.0))
      n -> (if (perOp.exists(_.contains(n))) med(spanVals)
            else med(traced.map(_.layers.getOrElse(n, 0.0))))
    }.toMap
    val untracedP50 = Loop.p50(samples.filter(!_.traced), _.wallS)
    val tracedP50 = Loop.p50(samples.filter(_.traced), _.wallS)
    setupCounters ++ fromOps ++ Map(
      "trace.op_p50_s" -> tracedP50,
      "trace.overhead_s" -> (tracedP50 - untracedP50))
  }
}

/** The untimed sweep between ops: count what the op left cached or
  * broadcast, release it by handle (as the engine's own bench harness
  * does), then run a full GC. */
final class Sweeper(spark: SparkSession) {
  import org.apache.spark.graft.Storage
  private val sc = spark.sparkContext
  private val baseline = Storage.broadcastIds(sc).toSet

  def sweep(): Map[String, Double] = {
    val rdds = sc.getPersistentRDDs.size
    val bcs = (Storage.broadcastIds(sc).toSet -- baseline).size
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    (Storage.broadcastIds(sc).toSet -- baseline)
      .foreach(id => Storage.removeBroadcast(sc, id, blocking = true))
    Storage.shuffleIds(sc).foreach(id => Storage.removeShuffle(sc, id, blocking = true))
    System.gc()
    Map("eager.broadcasts_left" -> bcs.toDouble, "eager.persisted_rdds_left" -> rdds.toDouble)
  }
}
