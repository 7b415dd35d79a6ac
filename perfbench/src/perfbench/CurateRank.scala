package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Corpus, Dedup, Graph, NearDup, TextAnalysis}
import graft.sinks.Sinks
import graft.sources.Sources

/** Curate a training corpus (documents ∪ exact copies ∪ truncated
  * twins) against a near-dup index built in set-up, then rank the
  * part↔supplier graph with PageRank and personalized PageRank, and
  * write the curated output and both rankings once. */
final class CurateRank(spark: SparkSession, dir: File, seed: Long) extends Workload {
  import CurateRank._

  private val g = new Gen(seed)
  private val inputs = new File(dir, "inputs")
  private val index = new File(dir, "neardup_index")
  private val out = new File(dir, "out")
  private var corpusRows = 0L
  private var indexBuildS = 0.0

  private def table(name: String): DataFrame = Sources.table(spark, inputs.toString, name)

  /** The near-dup stage's input: the quality gate and exact dedup that
    * `curatePipeline` applies before it probes the index. */
  private def gatedExact(corpus: DataFrame): DataFrame =
    Dedup.exactDedup(
      TextAnalysis.gopherGate(corpus, col("text"), minWords, maxWords,
        requireStopwords = false),
      md5(col("text")), Seq(col("doc_id")))

  def setup(): Unit = {
    FileState.wipe(dir)
    // a seed-chosen 80% of the document universe
    val docs = g.rows(spark, universe, 3)
      .filter(g.pick("subset", 10, col("id")) < 8)
      .select(col("id").as("doc_id"),
        g.words("doc", col("id"), lit(15) + g.pick("len", 100, col("id")).cast("int")).as("text"),
        element_at(array(EtlDaily.langs.map(lit): _*),
          (g.pick("lang", EtlDaily.langs.size, col("id")) + 1).cast("int")).as("lang"),
        concat(lit("src"), g.pick("source", 8, col("id"))).as("source"))
    docs.unionByName(docs.withColumn("doc_id", col("doc_id") + 1000000))
      .unionByName(docs.withColumn("doc_id", col("doc_id") + 2000000)
        .withColumn("text", col("text").substr(lit(1), length(col("text")) - 10)))
      .write.parquet(s"$inputs/corpus.parquet")
    docs.filter(col("doc_id") % 97 === 0).select("doc_id", "text")
      .write.parquet(s"$inputs/eval.parquet")
    // lineitem-shaped part↔supplier rows: each part ships from (up to)
    // four seed-chosen suppliers, three line items per pair
    g.rows(spark, parts * suppliersPerPart * 3, 3)
      .select((col("id") / (suppliersPerPart * 3)).cast("long").as("l_partkey"),
        ((col("id") / 3).cast("long") % suppliersPerPart).as("j"))
      .select(col("l_partkey"),
        g.pick("supp", suppliers, col("l_partkey"), col("j")).as("l_suppkey"))
      .write.parquet(s"$inputs/lineitem.parquet")
    corpusRows = table("corpus").count()
    val t0 = System.nanoTime()
    NearDup.ensureNearDupIndex(gatedExact(table("corpus")), col("doc_id"), col("text"),
      nNear, kNear, index.toString)
    indexBuildS = (System.nanoTime() - t0) / 1e9
  }

  /** Symmetrized distinct part↔supplier edges, as the graph queries build them. */
  private def edges(lineitem: DataFrame): DataFrame = {
    val e0 = lineitem.select(concat(lit("p:"), col("l_partkey")).as("src"),
      concat(lit("s:"), col("l_suppkey")).as("dst")).distinct()
    e0.unionByName(e0.select(col("dst").as("src"), col("src").as("dst")))
  }

  def setupCounters: Map[String, Double] = Map(
    "sources.input_rows" -> corpusRows.toDouble,
    "sources.input_bytes" -> FileState.usage(inputs)._2.toDouble,
    "corpus.docs_in" -> corpusRows.toDouble,
    "neardup.index_build_s" -> indexBuildS)

  def mutableDirs: Seq[(File, File)] = Seq(new File(dir, "no_out") -> out)

  def op(t: Tracer): OpResult = {
    val (corpus, evalDocs, lineitem) = t.span("sources.read") {
      (t.force(table("corpus")), t.force(table("eval")), t.force(table("lineitem")))
    }
    val curated = t.span("corpus.curate") {
      t.force(Corpus.curatePipeline(spark, corpus, evalDocs, index.toString,
        minWords, maxWords, nNear, kNear, jaccThreshold = 0.5,
        nContam = 3, budget = budget, capacity = 512))
    }
    val e = edges(lineitem)
    t.countRows("graph.edges", e)
    val pr = t.span("graph.pagerank")(t.force(Graph.pageRank(e, iters, damping = 0.85)))
    val seeds = lineitem.filter(col("l_partkey") % 50 === 0)
      .select(concat(lit("p:"), col("l_partkey")).as("node")).distinct()
    val ppr = t.span("graph.ppr") {
      t.force(Graph.personalizedPageRank(e, seeds, iters, damping = 0.85))
    }
    t.span("sinks.write_partitioned") {
      Sinks.writePartitioned(curated, s"$out/curated", day)
      Sinks.writePartitioned(pr, s"$out/pagerank", day)
      Sinks.writePartitioned(ppr, s"$out/ppr", day)
    }
    t.span("check") {
      val kept = curated.select(col("key").as("doc_id"))
      val nKept = kept.count()
      val sums = Seq(pr, ppr).map(_.agg(sum("r"), count(lit(1))).head())
      val evalLeaks = kept.filter(pmod(col("doc_id"), lit(1000000L)) % 97 === 0).count()
      val dupDigests = kept.join(corpus, "doc_id")
        .groupBy(md5(col("text"))).count().filter(col("count") > 1).count()
      val (files, bytes) = FileState.usage(out)
      t.add("corpus.docs_kept", nKept.toDouble)
      t.add("corpus.keep_ratio", nKept.toDouble / corpusRows)
      t.add("graph.nodes", sums.head.getLong(1).toDouble)
      t.add("sinks.files_written", files.toDouble)
      t.add("sinks.bytes_written", bytes.toDouble)
      // every round casts each edge's contribution to decimal(38,12),
      // so the rank mass may drift by up to 0.5e-12 per edge per round
      val tolerance = 2 * parts * suppliersPerPart * iters * 1e-12
      OpResult(bytes, Workload.expect(
        (nKept > 0) -> "curation kept no document",
        sums.forall(s => math.abs(s.getDouble(0) - 1.0) <= tolerance) ->
          s"rank sums ${sums.map(_.getDouble(0)).mkString(", ")} are not 1 ± $tolerance",
        (evalLeaks == 0L) -> s"$evalLeaks eval-split documents survived decontamination",
        (dupDigests == 0L) -> s"$dupDigests content digests are shared by kept documents"))
    }
  }
}

object CurateRank {
  val universe = 2000L
  val parts = 2000L
  val suppliers = 200L
  val suppliersPerPart = 4L
  val iters = 3
  val minWords = 20
  val maxWords = 100000
  val nNear = 5
  val kNear = 8
  val budget = 1500L
  val day = "2024-03-10"
}
