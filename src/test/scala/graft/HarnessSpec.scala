package graft

import org.apache.spark.graft.Storage
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Eager

/** The harness mains' shared pieces (the between-query sweep, query
  * selection) and the recursive delete their scratch paths go through. */
class HarnessSpec extends AnyFunSuite with SharedSession {

  import spark.implicits._

  test("sweep leaves no persistent RDD, no broadcast above the baseline and no shuffle") {
    val sc = spark.sparkContext
    Harness.sweep(spark, Set.empty)
    val baseline = Eager.broadcastSnapshot(spark)
    // a query that shuffles (the aggregate), broadcasts (the hinted
    // join) and checkpoints its result, as the graph operators do
    val dim = Seq(("a", 1), ("b", 2)).toDF("k", "v")
    val fact = spark.range(1000)
      .select(when(col("id") % 2 === 0, "a").otherwise("b").as("k"), col("id"))
    val out = fact.join(broadcast(dim), "k").groupBy("k", "v").agg(sum("id"))
      .localCheckpoint()
    assert(out.count() === 2)
    // each kind is present, so the checks below are not vacuous
    assert(sc.getPersistentRDDs.nonEmpty)
    assert((Eager.broadcastSnapshot(spark) -- baseline).nonEmpty)
    assert(Storage.shuffleIds(sc).nonEmpty)

    Harness.sweep(spark, baseline)
    assert(sc.getPersistentRDDs.isEmpty, "persistent RDDs left")
    assert((Eager.broadcastSnapshot(spark) -- baseline).isEmpty, "broadcasts left")
    assert(Storage.shuffleIds(sc).isEmpty, "shuffles left")
  }

  test("select fails on an unknown query name and names it") {
    val e = intercept[IllegalArgumentException](
      Harness.select(Seq("q_star_join", "q_no_such_query")))
    assert(e.getMessage.contains("q_no_such_query"))
    assert(!e.getMessage.contains("q_star_join"))
  }

  test("select picks the named queries in name order, and all 210 with no names") {
    assert(Harness.select(Seq("q_star_join", "q_pagerank")).map(_._1) ===
      Seq("q_pagerank", "q_star_join"))
    val all = Harness.select(Nil).map(_._1)
    assert(all.size === 210)
    assert(all === all.sorted)
    assert(all.toSet === SparkEntry.queries.keySet)
  }

  test("deleteRec removes a tree and a missing path, and leaves a symlink's target alone") {
    import java.nio.file.Files
    val root = Files.createTempDirectory("graft_rm")
    val outside = Files.createTempDirectory("graft_rm_target")
    Files.writeString(outside.resolve("keep.txt"), "x")
    Files.createDirectories(root.resolve("a/b"))
    Files.writeString(root.resolve("a/b/f.txt"), "y")
    Files.createSymbolicLink(root.resolve("a/link"), outside)
    graft.operators.IndexStore.deleteRec(root.toFile)
    assert(!Files.exists(root))
    assert(Files.exists(outside.resolve("keep.txt")), "deleted through a symlink")
    graft.operators.IndexStore.deleteRec(root.toFile) // missing: a no-op
    graft.operators.IndexStore.deleteRec(outside.toFile)
  }
}
