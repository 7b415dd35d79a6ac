package perfbench

import java.io.File

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** What one op left behind: bytes on disk, and the output check's
  * verdict (`None` = the output is correct). */
final case class OpResult(storedBytes: Long, failure: Option[String])

/** One benchmark workload. `Main` calls `setup` a few times (each
  * call regenerates every input from the seed and rebuilds the pristine
  * state), then alternates `restore` (untimed) with `op` (timed). */
trait Workload {
  def setup(): Unit
  /** Layer figures fixed by the set-up, `sources.input_bytes` (bytes of
    * the input files one op reads) among them. */
  def setupCounters: Map[String, Double]
  /** (pristine copy, live directory) for every directory an op changes;
    * a pristine copy that does not exist stands for an empty directory. */
  def mutableDirs: Seq[(File, File)]
  /** Put every directory an op changes back to its pristine copy. */
  final def restore(): Unit = mutableDirs.foreach { case (p, d) => FileState.restore(p, d) }
  /** Run one op and check its output. */
  def op(t: Tracer): OpResult
}

object Workload {
  val names: Seq[String] = Seq("etl_daily", "curate_rank")

  def apply(name: String, spark: SparkSession, work: File, seed: Long): Workload =
    name match {
      case "etl_daily" => new EtlDaily(spark, new File(work, name), seed)
      case "curate_rank" => new CurateRank(spark, new File(work, name), seed)
      case other => throw new IllegalArgumentException(
        s"unknown workload '$other' (known: ${names.mkString(", ")})")
    }

  /** The messages of the checks that do not hold, joined; `None` when
    * every check holds. */
  def expect(checks: (Boolean, String)*): Option[String] =
    checks.collect { case (false, msg) => msg }.reduceOption(_ + "; " + _)
}

/** Seeded column generators: every generated value is a hash of the
  * seed, a salt naming the column, and the row's key columns, so the
  * same seed always yields the same inputs, whatever the partitioning. */
final class Gen(seed: Long) {
  def hash(salt: String, cs: Column*): Column = xxhash64((lit(seed) +: lit(salt) +: cs): _*)

  /** Uniform integer in [0, n). */
  def pick(salt: String, n: Long, cs: Column*): Column = pmod(hash(salt, cs: _*), lit(n))

  /** `n` words drawn from the vocabulary, space-separated: a function
    * of (seed, salt, key, n). A UDF, because a per-word higher-order
    * expression would be interpreted row by row. */
  def words(salt: String, key: Column, n: Column): Column =
    Gen.words(lit(scala.util.hashing.MurmurHash3.productHash((seed, salt)).toLong),
      key.cast("long"), n.cast("int"))

  def rows(spark: SparkSession, n: Long, parts: Int): DataFrame =
    spark.range(0L, n, 1L, parts).toDF()
}

object Gen {
  private val vocab = ("market stock price trade share equity bond yield " +
    "rally slump earnings revenue profit margin growth guidance analyst " +
    "forecast quarter dividend buyback merger acquisition filing report " +
    "index sector energy banking retail software chip supply demand " +
    "inflation interest central policy outlook volume session futures " +
    "options hedge fund investor broker exchange listing offering debt " +
    "credit rating upgrade downgrade target momentum value rebound " +
    "volatile steady record").split(" ")

  /** SplitMix64 finalizer: a well-mixed 64-bit hash of `x`. */
  private def mix(x0: Long): Long = {
    var x = x0
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  private val words = udf { (salt: Long, key: Long, n: Int) =>
    val b = new StringBuilder
    var i = 0
    while (i < n) {
      if (i > 0) b.append(' ')
      b.append(vocab(java.lang.Math.floorMod(mix(salt ^ mix(key * 1000003L + i)), vocab.length)))
      i += 1
    }
    b.toString
  }
}
