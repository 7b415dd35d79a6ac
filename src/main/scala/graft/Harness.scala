package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.immutable.ListMap

import org.apache.spark.graft.Storage
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s.{DefaultFormats, Extraction}
import org.json4s.jackson.JsonMethods.{compact, render}

/** What the harness mains ([[Bench]], [[Verify]], [[CurateCapstone]])
  * share: query selection, the between-query storage sweep, the
  * `q_star_join` pivot, one stage listener and one JSON writer. */
private[graft] object Harness {

  type Query = (SparkSession, String) => DataFrame

  /** Timed runs per measured query or phase; the recorded time is their
    * median, so one GC pause or host-noise spike cannot pass for a plan
    * regression. */
  val Runs = 3

  /** The named queries in name order, or all of them when `names` is
    * empty. An unknown name fails before anything runs: a typo would
    * otherwise select nothing and read as a (vacuously fast) success. */
  def select(names: Seq[String]): Seq[(String, Query)] = {
    val all = SparkEntry.queries
    val unknown = names.filterNot(all.contains).distinct.sorted
    require(unknown.isEmpty, s"no such query: ${unknown.mkString(", ")}")
    (if (names.isEmpty) all else all.filter { case (n, _) => names.contains(n) })
      .toSeq.sortBy(_._1)
  }

  /** Release everything a completed query left in the session: table
    * caches, every persistent RDD (localCheckpoint blocks are invisible
    * to `clearCache`), every broadcast above `baseline` (the ids resident
    * at session start, from [[graft.operators.Eager.broadcastSnapshot]])
    * and every registered shuffle. Without it these wait for a driver GC
    * to let the ContextCleaner run, which lags a long session: driver
    * medians of the checkpoint-heavy family inflated 3.5–4.8× against
    * isolated runs. Safe only between queries of a session that runs
    * one query at a time, where nothing can read them again. */
  def sweep(spark: SparkSession, baseline: Set[Long]): Unit = {
    val sc = spark.sparkContext
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    // blocking: the removal is visible when the sweep returns
    (Storage.broadcastIds(sc).toSet -- baseline)
      .foreach(Storage.removeBroadcast(sc, _, blocking = true))
    Storage.shuffleIds(sc).foreach(Storage.removeShuffle(sc, _, blocking = false))
  }

  /** Seconds `body` takes. */
  def seconds(body: => Any): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.length / 2)

  /** `q_star_join` and its sweep, timed as the faster of two runs: the
    * host epoch. A flat pivot beside an inflated query median points at
    * the query; a ramping pivot points at the session or the host. A
    * failed run is logged and timed as it ran. */
  def pivot(spark: SparkSession, sfDir: String, baseline: Set[Long]): Double = {
    val fn = SparkEntry.queries("q_star_join")
    (1 to 2).map { _ =>
      seconds {
        try fn(spark, sfDir).count()
        catch { case e: Throwable => System.err.println(s"[harness] pivot FAILED: $e") }
        sweep(spark, baseline)
      }
    }.min
  }

  /** One completed stage: executor CPU and run time, tasks, and how many
    * tasks fell back from hash to sort-based aggregation (that burns CPU
    * while every spill counter stays 0). */
  final case class StageRec(stage: String, cpuMs: Long, runMs: Long,
      sortFallbackTasks: Long, tasks: Int)

  /** The one listener the mains register. It keeps cumulative spill
    * totals since session start and, inside [[stages]], a record of
    * every completed stage. */
  final class Recorder(spark: SparkSession) extends SparkListener {
    val spillMem = new AtomicLong(0)
    val spillDisk = new AtomicLong(0)
    private val buf = new ConcurrentLinkedQueue[StageRec]()
    @volatile private var capturing = false
    spark.sparkContext.addSparkListener(this)

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(e.taskMetrics).foreach { m =>
        spillMem.addAndGet(m.memoryBytesSpilled)
        spillDisk.addAndGet(m.diskBytesSpilled)
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (capturing) {
        val si = e.stageInfo
        Option(si.taskMetrics).foreach { tm =>
          val fallback = si.accumulables.values
            .filter(_.name.exists(_.contains("sort fallback")))
            .flatMap(_.value.flatMap(v => v.toString.toLongOption)).sum
          buf.add(StageRec(si.name.takeWhile(_ != '\n').take(120),
            tm.executorCpuTime / 1000000L, tm.executorRunTime, fallback,
            si.numTasks))
        }
      }

    /** Run `body` and return its result with the stages it completed,
      * summed by stage name: the `top` largest by CPU. */
    def stages[A](top: Int)(body: => A): (A, Seq[StageRec]) = {
      buf.clear()
      capturing = true
      val out = try body finally capturing = false
      val recs = Iterator.continually(buf.poll()).takeWhile(_ != null).toSeq
      out -> recs.groupBy(_.stage).map { case (n, rs) =>
        StageRec(n, rs.map(_.cpuMs).sum, rs.map(_.runMs).sum,
          rs.map(_.sortFallbackTasks).sum, rs.map(_.tasks).sum)
      }.toSeq.sortBy(r => (-r.cpuMs, r.stage)).take(top)
    }
  }

  /** An object with its keys in the given order. */
  def obj(kvs: (String, Any)*): ListMap[String, Any] = ListMap(kvs: _*)

  /** Compact JSON of maps, sequences, numbers, strings and case classes.
    * Every key is written in snake case (`cpuMs` → `cpu_ms`), so map keys
    * must already be snake case, as query names are. */
  def json(v: Any): String =
    compact(render(Extraction.decompose(v)(DefaultFormats).snakizeKeys))

  def r2(d: Double): Double = math.rint(d * 100) / 100
  def r3(d: Double): Double = math.rint(d * 1000) / 1000
}
