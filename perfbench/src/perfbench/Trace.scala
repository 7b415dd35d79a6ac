package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame

/** One timed call: `parent` is -1 for an op's root span. */
final case class Span(id: Int, name: String, parent: Int, op: Int,
    startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** Span recorder around the benchmark's calls into each engine layer.
  * Disabled, `span` just runs its body and `force` is the identity, so
  * an untraced op does the same work as it would without the tracer.
  * Spans stay in memory until the run writes its record. */
final class Tracer(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  private var op = -1
  private val counters = mutable.LinkedHashMap.empty[String, Double]

  def beginOp(id: Int): Unit = { op = id; counters.clear() }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        stack = stack.tail
        spans += Span(id, name, parent, op, t0, System.nanoTime())
      }
    }

  /** Traced runs only: compute every column of a lazy frame (a `noop`
    * write) so the enclosing span covers that layer's own work. */
  def force(df: DataFrame): DataFrame = {
    if (enabled) df.write.format("noop").mode("overwrite").save()
    df
  }

  /** Traced runs only: add the row count of `df` to counter `name`. The
    * count runs in its own `trace.count` child span, so it is not charged
    * to the layer being measured. */
  def countRows(name: String, df: DataFrame): Unit =
    if (enabled) add(name, span("trace.count")(df.count()).toDouble)

  def add(name: String, v: Double): Unit =
    if (enabled) counters(name) = counters.getOrElse(name, 0.0) + v

  def opCounters: Map[String, Double] = counters.toMap
  def all: Seq[Span] = spans.toSeq
}

object Tracer {

  /** Self time of every span: its duration minus the part of its
    * interval that its direct children cover. */
  def selfTimesNs(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = Stats.unionLength(kids.getOrElse(s.id, Nil).map(c =>
        (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))))
      s.id -> (s.durNs - covered)
    }.toMap
  }
}

/** Engine counters from Spark's own task and stage events, summed
  * between `reset` calls. Events arrive on the listener-bus thread;
  * `Main` drains the bus before reading. */
final class EngineListener extends SparkListener {
  private val c = mutable.LinkedHashMap.empty[String, Double]

  def reset(): Unit = synchronized { c.clear() }
  def snapshot(): Map[String, Double] = synchronized { c.toMap }
  private def add(k: String, v: Double): Unit = c(k) = c.getOrElse(k, 0.0) + v

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    add("engine.jobs", 1)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    add("engine.stages", 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    add("engine.tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("engine.task_run_s", m.executorRunTime / 1e3)
      add("engine.executor_cpu_s", m.executorCpuTime / 1e9)
      add("engine.gc_s", m.jvmGCTime / 1e3)
      add("engine.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("engine.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add("engine.scan_bytes", m.inputMetrics.bytesRead.toDouble)
      add("engine.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
    }
  }
}
