package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Graph, NearDup}

/** Tripwire for the checkpoint/persist release discipline.
  *
  * The round-5/6 lesson: cache-lifetime bugs are invisible in specs and
  * isolated runs, and only surface 150 queries into a long-lived session
  * as multi-× bench inflation (persisted shingle frames in round 5,
  * localCheckpoint round blocks in round 6). This spec makes the
  * discipline a compile-adjacent invariant: every cache-releasing
  * operator, after its result is materialized, may leave AT MOST ONE
  * persistent RDD behind — its own terminal checkpoint, which the
  * caller/harness owns (Bench/Verify sweep it between queries). A new
  * persist/localCheckpoint that isn't released turns this red
  * immediately instead of three rounds later in a driver bench.
  */
class ReleaseSpec extends AnyFunSuite with SharedSession {

  import spark.implicits._

  /** Run `op`, materialize its result, and assert the operator retained
    * at most `maxResidual` persistent RDDs (the terminal checkpoint);
    * then sweep those and assert the session is back to its starting
    * storage state — the same sweep Bench/Verify run between queries. */
  private def assertReleases(label: String, maxResidual: Int = 1)
      (op: => DataFrame): Unit = {
    val sc = spark.sparkContext
    // drain anything a previous test left (suites share the session)
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    graft.operators.Eager.releaseBroadcastsSince(spark, Set.empty, force = true)
    val before = sc.getPersistentRDDs.keySet
    val bcBefore = graft.operators.Eager.broadcastSnapshot(spark)
    val result = op
    // round-7 extension: the same by-handle discipline for BROADCAST
    // blocks — an operator whose terminal is an RDD scan must destroy
    // the broadcast exchanges its internal rounds created (otherwise
    // they wait for GC + ContextCleaner, the exact mechanism behind the
    // round-6/7 driver-suite inflation, this time in broadcast form).
    // Checked at RETURN, before any further action: every job — even a
    // count on the checkpointed terminal — broadcasts its task binary,
    // so a post-count snapshot would always be dirty.
    val bcLeaked = graft.operators.Eager.broadcastSnapshot(spark) -- bcBefore
    assert(bcLeaked.isEmpty,
      s"$label retained ${bcLeaked.size} broadcast(s) after materialization " +
        "(ids " + bcLeaked.toSeq.sorted.mkString(",") + ") — an internal " +
        "broadcast exchange is missing its Eager.releaseBroadcastsSince")
    val n = result.count()
    assert(n > 0, s"$label: empty result would make the residual check vacuous")
    val leaked = sc.getPersistentRDDs.keySet -- before
    assert(leaked.size <= maxResidual,
      s"$label retained ${leaked.size} persistent RDDs after materialization " +
        s"(allowed: $maxResidual — the terminal checkpoint only); " +
        "an intermediate persist/localCheckpoint is missing its release")
    leaked.foreach(id =>
      sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = true)))
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty,
      s"$label: sweep did not return storage to its starting state")
  }

  private def sym(pairs: (String, String)*) =
    (pairs ++ pairs.map(p => (p._2, p._1))).toDF("src", "dst")

  test("pageRank releases every internal checkpoint (rounds, edges, nodes)") {
    assertReleases("pageRank") {
      Graph.pageRank(sym(("a", "b"), ("b", "c"), ("c", "d"), ("a", "d"),
        ("d", "e")), iters = 4, damping = 0.85)
    }
  }

  test("personalizedPageRank releases internals incl. the teleport frame") {
    assertReleases("personalizedPageRank") {
      Graph.personalizedPageRank(
        sym(("a", "b"), ("b", "c"), ("c", "d"), ("a", "d")),
        Seq("a").toDF("node"), iters = 4, damping = 0.85)
    }
  }

  test("kHopReachability releases per-round frontiers and superseded dist frames") {
    assertReleases("kHopReachability") {
      Graph.kHopReachability(
        Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("x", "y"))
          .toDF("src", "dst"),
        Seq("a").toDF("node"), maxHops = 4)
    }
  }

  test("triangleCounts releases its canonical and oriented edge checkpoints") {
    assertReleases("triangleCounts") {
      Graph.triangleCounts(Seq(("a", "b"), ("b", "c"), ("a", "c"),
        ("c", "d"), ("b", "d")).toDF("src", "dst"))
    }
  }

  test("dedupClusters releases the raw edge list and every contraction round") {
    assertReleases("dedupClusters") {
      NearDup.dedupClusters(Seq(
        ("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("e", "f"),
        ("p", "q"), ("q", "r"), ("z", "z")).toDF("key_a", "key_b"))
    }
  }

  test("minhashPairs releases its persisted shingle frame") {
    val docs = Seq(
      ("d1", "the quick brown fox jumps over the lazy dog again and again"),
      ("d2", "the quick brown fox jumps over the lazy dog again and again!"),
      ("d3", "completely different content about spark query planning at scale"),
      ("d4", "completely different content about spark query planning at scale!"))
      .toDF("doc_id", "text")
    assertReleases("minhashPairs") {
      NearDup.minhashPairs(docs, col("doc_id"), col("text"),
        n = 3, k = 8, threshold = 0.5)
    }
  }

  test("labelPropagation releases edges, seeds, and superseded rounds") {
    assertReleases("labelPropagation") {
      Graph.labelPropagation(
        Seq(("a", "b"), ("b", "c"), ("c", "d"), ("x", "y")).toDF("src", "dst"),
        Seq(("a", 1L), ("x", 2L)).toDF("node", "label"), iters = 3)
    }
  }

  test("bpeTrain and bpeVocab release per-round tables and winner frames") {
    import graft.operators.TextAnalysis
    val d = Seq((1L, "aaab aaab ab abab baba")).toDF("doc_id", "text")
    assertReleases("bpeTrain") {
      TextAnalysis.bpeTrain(d, col("text"), merges = 3)
    }
    assertReleases("bpeVocab") {
      TextAnalysis.bpeVocab(d, col("text"), merges = 3)
    }
  }

  test("mmrRerank releases its per-step checkpoints, base frame, and broadcasts") {
    val cands = Seq(
      ("A", 0.99, Array(1.0f, 0.0f, 0.0f)),
      ("B", 0.95, Array(0.9f, 0.1f, 0.0f)),
      ("C", 0.90, Array(0.0f, 1.0f, 0.0f)),
      ("D", 0.85, Array(0.0f, 0.0f, 1.0f))).toDF("key", "rel", "vec")
    assertReleases("mmrRerank") {
      graft.operators.Retrieval.mmrRerank(cands, lambda = 0.75, k = 3)
    }
  }

  test("broadcast tripwire trips: an unmanaged broadcast join leaves blocks; the sweep clears them") {
    import graft.operators.Eager
    Eager.releaseBroadcastsSince(spark, Set.empty, force = true)
    val bc0 = Eager.broadcastSnapshot(spark)
    // a plain broadcast join with NO release discipline — exactly what
    // assertReleases must catch if an operator regresses
    val dim = Seq(("a", 1), ("b", 2)).toDF("k", "v")
    val fact = Seq(("a", 10L), ("b", 20L), ("a", 30L)).toDF("k", "x")
    val n = fact.join(broadcast(dim), Seq("k")).count()
    assert(n === 3)
    val leaked = Eager.broadcastSnapshot(spark) -- bc0
    assert(leaked.nonEmpty,
      "a broadcast join should leave resident broadcast blocks — if this " +
        "starts passing vacuously the tripwire above is blind")
    // the Bench/Verify between-queries sweep clears them by handle
    Eager.releaseBroadcastsSince(spark, bc0, force = true)
    assert((Eager.broadcastSnapshot(spark) -- bc0).isEmpty,
      "forced sweep did not destroy the leaked broadcast blocks")
  }

  test("containmentPairsIndexed releases its broadcasts and checkpoints like the un-indexed form") {
    val docs = Seq(
      ("d1", "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      ("d2", "alpha beta gamma delta epsilon zeta eta theta"),
      ("d3", "totally unrelated words about spark adaptive query execution"))
      .toDF("doc_id", "text")
    val idx = java.nio.file.Files
      .createTempDirectory("graft_rel_cont_idx").toString + "/idx"
    assertReleases("containmentPairsIndexed") {
      NearDup.containmentPairsIndexed(spark, idx, docs,
        col("doc_id"), col("text"), n = 2, k = 8, threshold = 0.8)
    }
  }

  test("rebalanceIvfIndex releases its Lloyd broadcasts and leaves no blocks") {
    val emb = graft.sources.Sources
      .table(spark, "/root/testdata/sf0.001", "embeddings")
      .select("vec_id", "embedding")
    val base = emb.filter(col("vec_id") < 40)
    val idxDir = java.nio.file.Files.createTempDirectory("ivf_rel")
    try {
      graft.operators.Similarity.ensureIvfIndex(base, "vec_id", "embedding",
        nCentroids = 8, path = idxDir.toString)
      graft.operators.Similarity.appendToIvfIndex(spark,
        base.filter(col("vec_id") === 20)
          .crossJoin(spark.range(1, 31))
          .select((lit(100000L) + col("id")).as("vec_id"), col("embedding")),
        "vec_id", "embedding", idxDir.toString)
      // postings schema captured BEFORE the op: schema INFERENCE is
      // itself a Spark job (footer-reading tasks), and its task-binary
      // broadcast inside the block would false-positive the leak check
      val postingsSchema = spark.read.parquet(s"$idxDir/postings").schema
      assertReleases("rebalanceIvfIndex", maxResidual = 0) {
        val n = graft.operators.Similarity
          .rebalanceIvfIndex(spark, idxDir.toString, maxListSize = 25)
        assert(n === 1L)
        // the operator's terminal is parquet on disk, not a frame — the
        // count target is a plain read of the rewritten index
        spark.read.schema(postingsSchema).parquet(s"$idxDir/postings")
      }
    } finally {
      val s = java.nio.file.Files.walk(idxDir)
      try s.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => { java.nio.file.Files.deleteIfExists(f); () })
      finally s.close()
    }
  }

  test("eagerRelease conf parses defensively — malformed values fall back to enabled") {
    import graft.operators.Eager
    val orig = spark.conf.getOption("graft.eagerRelease")
    try {
      Seq("0", "True ", "yes", "FALSE ", "false") foreach { v =>
        spark.conf.set("graft.eagerRelease", v)
        val expect = !v.trim.equalsIgnoreCase("false")
        assert(Eager.enabled(spark) === expect,
          s"graft.eagerRelease='$v' should parse as enabled=$expect, not throw")
      }
    } finally {
      orig match {
        case Some(v) => spark.conf.set("graft.eagerRelease", v)
        case None    => spark.conf.unset("graft.eagerRelease")
      }
    }
  }
}
