package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ml.Predict
import graft.sources.Sources

/** Verification for the MLlib surface — the only queries the DuckDB
  * oracle cannot check (`q_ml_predict`, `q_ml_kmeans` are `no_oracle`
  * in CORRECTNESS). Both models are seeded and the train/test split is
  * a pure function of the id, so their quality metrics are
  * deterministic for a fixed dataset: assert floors/invariants rather
  * than exact per-row outputs (exact coefficients may legally vary
  * with partition-level float summation order).
  */
class MLSpec extends AnyFunSuite with SharedSession {

  private val sf = "/root/testdata/sf0.001"

  test("classifyEmbeddings: learns planted separable classes (accuracy floor)") {
    import spark.implicits._
    // the sf tables carry RANDOM labels (chance-level accuracy by
    // construction), so the quality floor runs on planted data: class c
    // lives around 3·e_c in a 8-dim space with ±0.5 uniform noise —
    // linearly separable, so a working LR must clear 0.9 on the held-out
    // fold; a broken pipeline (wrong split, features ignored, labels
    // shuffled) lands near chance 0.25 instead
    val rnd = new scala.util.Random(11)
    val rows = (1L to 1000L).map { i =>
      val label = (i % 4).toInt
      val vec = Array.tabulate(8) { d =>
        val base = if (d == label) 3.0f else 0.0f
        base + (rnd.nextFloat() - 0.5f)
      }
      (i, vec, label)
    }
    val emb = rows.toDF("vec_id", "embedding", "label")
    val scored = Predict.classifyEmbeddings(emb, "vec_id", "embedding", "label")
    val row = Predict.accuracy(scored).collect()(0)
    val nTest = row.getLong(0)
    val nCorrect = row.getLong(1)
    assert(nTest === 200L) // ids divisible by 5
    val acc = nCorrect.toDouble / nTest.toDouble
    info(s"held-out accuracy = $acc ($nCorrect/$nTest)")
    assert(acc >= 0.90, s"accuracy $acc below floor 0.90")
  }

  test("classifyEmbeddings: seeded fit is run-to-run deterministic") {
    val emb = Sources.table(spark, sf, "embeddings")
    val a = Predict.classifyEmbeddings(emb, "vec_id", "embedding", "label")
    val b = Predict.classifyEmbeddings(emb, "vec_id", "embedding", "label")
    assert(a.exceptAll(b).count() === 0 && b.exceptAll(a).count() === 0)
  }

  test("classifyEmbeddings: predictions are valid labels, one per test id") {
    val emb = Sources.table(spark, sf, "embeddings")
    val scored = Predict.classifyEmbeddings(emb, "vec_id", "embedding", "label")
    val labels = emb.select(col("label").cast("double")).distinct()
      .collect().map(_.getDouble(0)).toSet
    val bad = scored.filter(!col("prediction").isin(labels.toSeq: _*)).count()
    assert(bad === 0, "prediction outside the training label set")
    assert(scored.select("vec_id").distinct().count() === scored.count())
  }

  test("clusterEmbeddings: seeded k-means covers k clusters, assigns every row once") {
    val emb = Sources.table(spark, sf, "embeddings")
    val n = emb.count()
    val assigned = Predict.clusterEmbeddings(emb, "vec_id", "embedding", k = 8)
    val byCluster = assigned.groupBy("cluster").count()
      .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    info(s"cluster sizes = ${byCluster.toSeq.sortBy(_._1)}")
    assert(assigned.count() === n)
    assert(assigned.select("vec_id").distinct().count() === n)
    assert(byCluster.keySet.subsetOf((0 until 8).toSet))
    assert(byCluster.size === 8, s"expected 8 non-empty clusters, got ${byCluster.size}")
  }

  test("clusterEmbeddings: recovers planted well-separated blobs exactly") {
    import spark.implicits._
    // 8 gaussian-ish blobs at 10·e_b, noise ±0.5 — inter-blob distance
    // dwarfs intra-blob spread, so a working seeded k-means must recover
    // the partition exactly: every discovered cluster maps to exactly one
    // planted blob and the size multiset matches
    val rnd = new scala.util.Random(23)
    val blobSizes = Array(50, 60, 70, 40, 55, 65, 45, 75)
    val rows = blobSizes.zipWithIndex.flatMap { case (sz, b) =>
      (0 until sz).map { j =>
        val vec = Array.tabulate(8) { d =>
          (if (d == b) 10.0f else 0.0f) + (rnd.nextFloat() - 0.5f)
        }
        (b.toLong * 1000 + j, vec, b)
      }
    }.toSeq
    val emb = rows.toDF("vec_id", "embedding", "blob")
    val assigned = Predict.clusterEmbeddings(emb, "vec_id", "embedding", k = 8)
    val joined = emb.select(col("vec_id"), col("blob")).join(assigned, "vec_id")
    // purity: each cluster contains a single blob and vice versa
    val crossCells = joined.groupBy("cluster", "blob").count().count()
    assert(crossCells === 8L, s"cluster↔blob map not 1:1 ($crossCells cells)")
    val sizes = joined.groupBy("cluster").count()
      .collect().map(_.getLong(1)).sorted.toSeq
    assert(sizes === blobSizes.map(_.toLong).sorted.toSeq)
  }

  test("clusterEmbeddings: seeded fit is run-to-run deterministic") {
    val emb = Sources.table(spark, sf, "embeddings")
    val a = Predict.clusterEmbeddings(emb, "vec_id", "embedding", k = 8)
    val b = Predict.clusterEmbeddings(emb, "vec_id", "embedding", k = 8)
    assert(a.exceptAll(b).count() === 0 && b.exceptAll(a).count() === 0)
  }

  test("approx_percentile rank error stays within the sketch accuracy bound") {
    // GK sketch with accuracy N guarantees rank error ≤ n/N; verify via
    // the RANK of the approximate value among the group's exact values
    val ev = Sources.table(spark, sf, "events")
    val approx = ev.groupBy("event_type")
      .agg(expr("approx_percentile(value, 0.5, 1000)").as("p50"),
        count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
    assert(approx.nonEmpty)
    approx.foreach { case (et, p50, n) =>
      val below = ev.filter(col("event_type") === et && col("value") <= p50).count()
      val rank = below.toDouble / n.toDouble
      info(s"$et: approx p50=$p50 realized rank=$rank (n=$n)")
      // target rank 0.5, permitted error 1/1000 plus discreteness slack
      assert(math.abs(rank - 0.5) <= 0.001 + 1.0 / n,
        s"$et rank $rank outside 0.5 ± ${0.001 + 1.0 / n}")
    }
  }

  test("approx_count_distinct stays within 5% of exact per group") {
    val li = Sources.table(spark, sf, "lineitem")
    val rows = li.groupBy("l_returnflag")
      .agg(approx_count_distinct(col("l_partkey")).as("approx"),
        countDistinct(col("l_partkey")).as("exact"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val approx = r.getLong(1).toDouble
      val exact = r.getLong(2).toDouble
      val rel = math.abs(approx - exact) / exact
      info(s"flag=${r.getString(0)} approx=$approx exact=$exact rel=$rel")
      assert(rel <= 0.05, s"relative error $rel > 0.05 for flag ${r.getString(0)}")
    }
  }
}
